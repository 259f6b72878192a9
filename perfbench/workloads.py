"""The benchmark's workloads: what one pass runs, how its outputs are
checked, and how its spans roll up into per-layer metrics.

- ``bq_gold``: the paper's gold business questions (BQ1 typical day, BQ2
  gravity model, BQ3 long-trip dependency) plus the star-schema analytics
  behind them, each op one registry query (``build()`` + ``collect()``).
- ``medallion_ingest``: the write path. Each op is one daily CSV file
  through ``orchestrate.backfill`` -> ``read_csv_all_varchar`` ->
  ``mitma.ingest_bronze`` -> ``mitma.silver_transform`` into a fresh
  ``Warehouse``; then the ``gold_typical_day`` refresh, then the whole
  backfill again (the idempotent re-run, which must append nothing).
"""

from __future__ import annotations

import gc
import os
import random
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, field

import datagen
import reference
from spans import Tracer, union_length, within

# Per-layer counts that do not depend on timing: two traced runs of the
# same commit and seed must give exactly the same values. bq_gold's job and
# stage counts are not among them: AQE submits some of gravity_analysis's
# query-stage jobs concurrently inside build(), and that race launches 17 or
# 18 jobs from run to run.
EXACT_REPEAT = {
    "bq_gold": ("driver.result_rows", "oracle.mismatches"),
    "medallion_ingest": ("exec.jobs", "exec.stages", "catalog.files_written",
                         "pipelines.jobs_per_file", "pipelines.gold_jobs",
                         "pipelines.rerun_jobs", "oracle.mismatches"),
}

BQ_QUERIES = [
    "typical_day", "report_rollup", "gravity_analysis", "long_trip_dependency",
    "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6",
    "window_battery", "tumbling_window", "multiway_left_join", "conditional_agg",
]


@dataclass
class Op:
    name: str
    kind: str
    wall: float = 0.0
    result: object = None
    error: str | None = None
    failed: bool = False


@dataclass
class Pass:
    tag: str
    wall: float = 0.0
    cpu: float = 0.0
    ops: list[Op] = field(default_factory=list)
    span: int | None = None
    extra: dict = field(default_factory=dict)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _geomean(xs):
    xs = [x for x in xs if x > 0]
    return statistics.geometric_mean(xs) if xs else 0.0


def _net(tracer: Tracer, span) -> float:
    """Span duration minus the benchmark's own instrumentation below it."""
    return span.dur - sum(s.dur for s in tracer.subtree(span.id) if s.kind == "bench")


class Workload:
    """One workload: inputs, the op loop of a pass, checks and rollups."""

    name = ""

    def __init__(self, work_dir: str, run_dir: str, seed: int, smoke: bool, tracer: Tracer):
        self.work_dir, self.run_dir = work_dir, run_dir
        self.seed, self.smoke, self.tracer = seed, smoke, tracer
        self.pkg = None
        self.spark = None
        self.cpu_clock = time.process_time

    def _op(self, tag: str, name: str, kind: str, fn) -> Op:
        """Run ``fn(op)`` as one op under job group ``tag|name``."""
        op = Op(name, kind)
        group = f"{tag}|{name}"
        gc.collect()  # drop the previous op's checkpoint references first
        self.spark.sparkContext.setJobGroup(group, group)
        t0 = time.perf_counter()
        with self.tracer.span(name, "op", group=group, op_kind=kind):
            try:
                fn(op)
            except Exception:  # noqa: BLE001 - a failed op is counted, the run goes on
                op.error = traceback.format_exc(limit=3)
                op.failed = True
        op.wall = time.perf_counter() - t0
        return op

    def warmup(self) -> None:
        """One untraced pass over the same inputs, the end of the set-up, so
        that JIT and codegen have settled before the timed passes."""
        tracer, self.tracer = self.tracer, Tracer(False)
        try:
            p = self.run_pass("warmup", -1)
        finally:
            self.tracer = tracer
        bad = [o.name for o in p.ops if o.failed]
        if bad:
            print(f"# warm-up ops failed: {bad}", file=sys.stderr, flush=True)

    def run_passes(self, seconds: float) -> list[Pass]:
        """``seconds`` worth of timed passes at the workload's nominal pass
        time ``PASS_S``, at least one. The count does not depend on how fast
        this run goes: each pass runs some 10% faster than the one before
        (the JIT is still compiling), so a count that grew on a quiet host
        would move the result with the host's speed."""
        passes: list[Pass] = []
        for no in range(max(1, round(seconds / self.PASS_S))):
            cpu = self.cpu_clock()
            passes.append(self.run_pass(f"p{no}", no))
            passes[-1].cpu = self.cpu_clock() - cpu
        self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        return passes

    def e2e(self, passes: list[Pass]) -> dict[str, float]:
        """End-to-end metrics other than set-up, each the best over the
        run's passes: the pass wall time, its CPU seconds, and the geometric
        mean of its op latencies (queries, or daily files plus gold and
        re-run). Noise on a shared host only adds time and comes in bursts
        (CPU stolen by other guests can double one pass and spare the
        next), so the best pass is the run's steadiest estimate; the median
        is taken over runs. ``pass_median_s`` is kept for the report."""
        return {"pass_s": min(p.wall for p in passes),
                "pass_median_s": _median([p.wall for p in passes]),
                "pass_cpu_s": min(p.cpu for p in passes),
                "op_geomean_s": min(_geomean([o.wall for o in p.ops]) for p in passes)}

    # --- per-layer rollup shared by both workloads -------------------------
    def layer_metrics(self, passes: list[Pass], jobs) -> dict[str, float]:
        """Per-layer metrics of each timed pass, from its spans and the jobs
        attributed to them; the median over passes of each."""
        tr = self.tracer
        per_pass: list[dict[str, float]] = []
        for p in passes:
            ps = tr.spans[p.span]
            ops = [s for s in tr.children(ps.id) if s.kind == "op"]
            op_ids = {s.id for s in ops}
            pjobs = [j for j in jobs if j.op in op_ids]
            sub = [c for s in ops for c in tr.subtree(s.id)]

            def named(name: str, kind: str) -> list:
                return [s for s in sub if s.name == name and s.kind == kind]
            noop = named("noop", "exec")
            noop_jobs = {j.id for j in within(tr, pjobs, {s.id for s in noop})}
            ejobs = [j for j in pjobs if j.id not in noop_jobs]
            m: dict[str, float] = {}
            builds, collects = named("build", "queries"), named("collect", "queries")
            m["queries.build_s"] = sum(_net(tr, s) for s in builds)
            m["queries.build_jobs"] = len(within(tr, ejobs, {s.id for s in builds}))
            m["queries.collect_s"] = sum(_net(tr, s) for s in collects)
            m["operators.materialized_rdds"] = sum(s.attrs.get("rdds", 0) for s in ops)
            m["operators.materialized_bytes"] = sum(s.attrs.get("rdd_bytes", 0) for s in ops)
            for ph in ("analysis", "optimization", "planning"):
                m[f"catalyst.{ph}_s"] = sum(s.attrs.get(ph, 0.0) for s in ops)
            m["exec.jobs"] = len(ejobs)
            m["exec.stages"] = sum(j.stages for j in ejobs)
            m["exec.tasks"] = sum(j.tasks for j in ejobs)
            for key, attr in (("scheduler_delay_s", "sched_delay_s"), ("executor_run_s", "run_s"),
                              ("executor_cpu_s", "cpu_s"), ("gc_s", "gc_s"),
                              ("scan_bytes", "scan_bytes"),
                              ("shuffle_write_bytes", "shuffle_write_bytes"),
                              ("shuffle_read_bytes", "shuffle_read_bytes"),
                              ("shuffle_fetch_wait_s", "fetch_wait_s"),
                              ("spill_bytes", "spill_bytes"), ("failed_tasks", "failed_tasks"),
                              ("retried_stages", "retried_stages")):
                m[f"exec.{key}"] = sum(getattr(j, attr) for j in ejobs)
            m["exec.noop_s"] = sum(s.dur for s in noop)
            m["exec.untagged_jobs"] = sum(not j.tagged for j in ejobs)
            m["driver.transfer_s"] = m["queries.collect_s"] - m["exec.noop_s"] if builds else 0.0
            m["driver.result_rows"] = sum(s.attrs.get("rows", 0) for s in ops)
            # Driver self time: wall of the timed phases with no Spark job
            # running and none of the benchmark's own instrumentation.
            timed = builds + collects if builds else ops
            self_s = 0.0
            for s in timed:
                busy = [(j.start, j.end) for j in within(tr, ejobs, {s.id})]
                busy += [(b.start, b.end) for b in tr.subtree(s.id) if b.kind == "bench"]
                self_s += s.dur - union_length(busy, s.start, s.end)
            m["driver.self_s"] = self_s
            self.pass_layers(m, p, ops, sub, ejobs)
            m["trace.pass_s"] = _net(tr, ps) - m["exec.noop_s"]
            per_pass.append(m)
        return {k: _median([m[k] for m in per_pass]) for k in per_pass[0]}

    def pass_layers(self, m, p, ops, sub, ejobs) -> None:
        """Workload-specific layers; zero where the workload has no such layer."""
        for k in ("sources.read_amp", "catalog.probe_calls", "catalog.probe_jobs",
                  "catalog.probe_s", "catalog.probe_scan_bytes", "catalog.write_calls",
                  "catalog.write_s", "catalog.files_written", "catalog.bytes_written",
                  "catalog.write_amp", "pipelines.bronze_s", "pipelines.silver_s",
                  "pipelines.jobs_per_file", "pipelines.orchestrate_s", "pipelines.gold_s",
                  "pipelines.gold_jobs", "pipelines.rerun_s", "pipelines.rerun_jobs"):
            m[k] = 0.0


class BqGold(Workload):
    name = "bq_gold"
    SF = 0.01
    PASS_S = 12.0

    def prepare(self) -> dict:
        sf = 0.001 if self.smoke else self.SF
        self.data_dir = os.path.join(self.work_dir, "data", f"star-sf{sf}-seed42")
        if not os.path.isdir(self.data_dir):
            tmp = self.data_dir + f".tmp{os.getpid()}"
            shutil.rmtree(tmp, ignore_errors=True)
            datagen.write_star_tables(tmp, sf, seed=42)
            os.replace(tmp, self.data_dir)
        size = sum(os.path.getsize(os.path.join(self.data_dir, f)) for f in os.listdir(self.data_dir))
        return {"data": os.path.relpath(self.data_dir, os.path.dirname(self.work_dir)),
                "sf": sf, "input_files": len(os.listdir(self.data_dir)), "input_bytes": size,
                "queries": BQ_QUERIES}

    def load(self) -> None:
        from lakehouse_spain_mobility_spark.queries import load_all

        reg = load_all()
        self.specs = {n: reg[n] for n in BQ_QUERIES}

    def run_pass(self, tag: str, no: int) -> Pass:
        order = list(BQ_QUERIES)
        if no >= 0:
            random.Random(self.seed * 1000 + no).shuffle(order)
        p = Pass(tag)
        t0 = time.perf_counter()
        with self.tracer.span(tag, "pass") as ps:
            for name in order:
                p.ops.append(self._op(tag, name, "query", lambda op, n=name: self._query(op, n)))
            p.span = ps.id if ps else None
        p.wall = time.perf_counter() - t0
        return p

    def _query(self, op: Op, name: str) -> None:
        spec, tr, sc = self.specs[name], self.tracer, self.spark.sparkContext
        if tr.enabled:
            op_span = tr.current()
            with tr.span("storage", "bench"):
                before = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
        with tr.span("build", "queries"):
            df = spec.build(self.spark, self.data_dir)
        if tr.enabled:
            # RDDs that build() materialized (eager checkpoints, caches)
            with tr.span("storage", "bench"):
                new = [i for i in sc._jsc.sc().getRDDStorageInfo() if i.id() not in before]
            op_span.attrs["rdds"] = len(new)
            op_span.attrs["rdd_bytes"] = sum(i.memSize() + i.diskSize() for i in new)
        with tr.span("collect", "queries"):
            rows = df.collect()
        op.result = (df.columns, rows)
        if tr.enabled:
            op_span.attrs["rows"] = len(rows)
            with tr.span("phases", "bench"):
                phases = df._jdf.queryExecution().tracker().phases()
                for ph in ("analysis", "optimization", "planning"):
                    o = phases.get(ph)
                    op_span.attrs[ph] = o.get().durationMs() / 1000.0 if o.isDefined() else 0.0
            with tr.span("noop", "exec"):
                df.write.format("noop").mode("overwrite").save()

    def check(self, passes: list[Pass]) -> dict:
        refs, ref_s = {}, time.perf_counter()
        for name, spec in self.specs.items():
            refs[name] = reference.query_reference(self.pkg, spec, self.data_dir)
        ref_s = time.perf_counter() - ref_s
        mismatches = []
        for p in passes:
            for op in p.ops:
                if op.failed:
                    continue
                cols, rows = op.result
                got = (sorted(cols), reference.normalize(cols, rows, self.pkg.oracle._norm))
                if got != refs[op.name]:
                    op.failed = True
                    op.error = f"result differs from the DuckDB oracle ({len(rows)} rows)"
                    mismatches.append(f"{p.tag}:{op.name}")
                op.result = None
        return {"mismatches": mismatches, "ref_s": ref_s}

    def named_metrics(self, passes: list[Pass]) -> dict:
        """The workload's own metrics, by the names its readers expect."""
        per_query = {n: _median([o.wall for p in passes for o in p.ops if o.name == n])
                     for n in BQ_QUERIES}
        return {"query_geomean_s": {"value": _geomean(list(per_query.values())), "unit": "s",
                                    "n": len(passes) * len(BQ_QUERIES)},
                "query_p50_s": {n: round(v, 4) for n, v in per_query.items()}}


class Medallion(Workload):
    name = "medallion_ingest"
    TASK = "mitma_daily"
    DAYS, GROUPS, SEGMENTS = 2, 400, 12
    PASS_S = 12.0

    def prepare(self) -> dict:
        days, groups, segs = (2, 40, 16) if self.smoke else (self.DAYS, self.GROUPS, self.SEGMENTS)
        self.files = datagen.write_mitma_days(
            os.path.join(self.run_dir, "csv"), self.seed, days, groups, segs)
        self.csv_bytes = sum(os.path.getsize(f) for f in self.files.values())
        rows = 0
        for path in self.files.values():
            with open(path, encoding="utf-8") as f:
                rows += sum(1 for _ in f) - 1  # minus the header
        return {"input_files": len(self.files), "input_rows": rows,
                "input_bytes": self.csv_bytes, "dates": [min(self.files), max(self.files)]}

    def load(self) -> None:
        from lakehouse_spain_mobility_spark import catalog
        from lakehouse_spain_mobility_spark.pipelines import mitma, orchestrate
        from lakehouse_spain_mobility_spark.sources.csv import read_csv_all_varchar

        self.catalog, self.mitma, self.orch = catalog, mitma, orchestrate
        self.read_csv = read_csv_all_varchar

    def warehouse_class(self):
        """``catalog.Warehouse``, or with tracing on a subclass that records
        a ``probe`` or ``write`` span around each call and delegates."""
        base, tr = self.catalog.Warehouse, self.tracer
        if not tr.enabled:
            return base

        def nested():
            cur = tr.current()
            return cur is not None and cur.kind == "catalog"

        def probe(fn):
            def wrapped(self, name, *a, **k):
                if nested():
                    return fn(self, name, *a, **k)
                with tr.span("probe", "catalog", table=name, method=fn.__name__):
                    return fn(self, name, *a, **k)
            return wrapped

        def write(fn):
            def wrapped(self, name, *a, **k):
                if nested():
                    return fn(self, name, *a, **k)
                with tr.span("files", "bench"):
                    before = _data_files(self.path(name))
                with tr.span("write", "catalog", table=name, method=fn.__name__) as s:
                    out = fn(self, name, *a, **k)
                with tr.span("files", "bench"):
                    new = {f: n for f, n in _data_files(self.path(name)).items() if f not in before}
                s.attrs["files"] = sum(f.endswith(".parquet") for f in new)
                s.attrs["bytes"] = sum(new.values())
                return out
            return wrapped

        return type("TracedWarehouse", (base,), {
            **{m: probe(getattr(base, m)) for m in ("table_exists", "count_where", "skip_if_present")},
            **{m: write(getattr(base, m)) for m in
               ("create_if_not_exists", "append", "create_or_replace", "replace_partition")},
        })

    def trace_orchestration(self) -> None:
        """Time the run ledger's ``_record``/``last_status`` calls made by
        ``backfill`` (module globals, looked up at call time)."""
        tr, orch = self.tracer, self.orch
        for fn_name in ("_record", "last_status"):
            fn = getattr(orch, fn_name)

            def wrapped(*a, _fn=fn, **k):
                with tr.span("orchestrate", "pipelines", fn=_fn.__name__):
                    return _fn(*a, **k)
            setattr(orch, fn_name, wrapped)

    def warmup(self) -> None:
        super().warmup()
        if self.tracer.enabled:
            self.trace_orchestration()

    def run_pass(self, tag: str, no: int) -> Pass:
        return self._run(self.files, tag)

    def _run(self, files: dict[str, str], tag: str) -> Pass:
        mitma, orch, tr = self.mitma, self.orch, self.tracer
        root = os.path.join(self.run_dir, f"wh-{tag}")
        shutil.rmtree(root, ignore_errors=True)
        wh = self.warehouse_class()(self.spark, root)
        years = sorted({int(d[:4]) for d in files})

        def ingest(date: str) -> None:
            with tr.span("read_csv", "sources"):
                raw = self.read_csv(self.spark, files[date], column_names=mitma.BRONZE_COLUMNS)
            with tr.span("bronze", "pipelines"):
                mitma.ingest_bronze(wh, raw, date)
            with tr.span("silver", "pipelines"):
                mitma.silver_transform(wh, date)

        def backfill(op: Op, keys: list[str], expect: str) -> None:
            with tr.span("backfill", "pipelines"):
                statuses = orch.backfill(wh, self.TASK, keys, ingest)
            op.result = statuses
            if any(v != expect for v in statuses.values()):
                op.failed = True
                op.error = f"backfill statuses {statuses}, expected all {expect!r}"

        def gold(op: Op) -> None:
            with tr.span("gold", "pipelines"):
                mitma.gold_typical_day(wh)

        p = Pass(tag)
        t0 = time.perf_counter()
        with tr.span(tag, "pass") as ps:
            p.ops.append(self._op(tag, "bootstrap", "bootstrap", lambda op: (
                mitma.ensure_tables(wh), mitma.ingest_holidays(wh, years))))
            for date in files:
                p.ops.append(self._op(tag, f"file:{date}", "file",
                                      lambda op, d=date: backfill(op, [d], "success")))
            p.ops.append(self._op(tag, "gold", "gold", gold))
            paused = time.perf_counter()
            with tr.span("counts", "bench"):
                before = self._counts(root)
            p.extra["paused_s"] = time.perf_counter() - paused
            p.ops.append(self._op(tag, "rerun", "rerun",
                                  lambda op: backfill(op, list(files), "skipped")))
            p.span = ps.id if ps else None
        p.wall = time.perf_counter() - t0 - p.extra["paused_s"]
        p.extra.update(root=root, counts_before=before, counts_after=self._counts(root),
                       wh_bytes=sum(_data_files(root).values()))
        return p

    def _counts(self, root: str) -> dict[str, int]:
        m = self.mitma
        return {t: reference.table_rows(root, t) for t in
                (m.BRONZE_TABLE, m.LEDGER_TABLE, m.SILVER_TABLE, self.orch.RUN_LEDGER)}

    def check(self, passes: list[Pass]) -> dict:
        t0 = time.perf_counter()
        ref = reference.medallion_reference(self.pkg, self.files)
        ref_s = time.perf_counter() - t0
        mismatches = []
        for p in passes:
            ops = {o.kind: o for o in p.ops}
            root = p.extra["root"]
            # backfill retries a failed ingest and then reports it as a
            # success: every attempt must have succeeded, once per file.
            ledger = reference.ledger_rows(root, self.orch.RUN_LEDGER)
            for op in p.ops:
                if op.kind != "file":
                    continue
                rows = [r for r in ledger if r["key"] == op.name.split(":", 1)[1]]
                if [r["status"] for r in rows] != ["success"]:
                    mismatches.append(f"{p.tag}:{op.name}:ledger")
                    op.failed = True
                    op.error = "run ledger holds " + "; ".join(
                        f"attempt {r['attempt']} {r['status']} {(r['error'] or '')[:200]}" for r in rows)
            if len(ledger) != len(self.files):
                mismatches.append(f"{p.tag}:ledger_rows")
                ops["rerun"].failed = True
                ops["rerun"].error = f"run ledger holds {len(ledger)} rows for {len(self.files)} files"
            got = reference.read_table(root, self.mitma.GOLD_TABLE, self.pkg.oracle._norm)
            if got != (ref["gold_cols"], ref["gold"]):
                mismatches.append(f"{p.tag}:gold")
                ops["gold"].failed = True
                ops["gold"].error = f"gold differs from the DuckDB recomputation ({len(got[1])} rows)"
            n_silver = p.extra["counts_before"][self.mitma.SILVER_TABLE]
            if n_silver != ref["silver_rows"]:
                mismatches.append(f"{p.tag}:silver_rows")
                ops["file"].failed = True
                ops["file"].error = f"silver rows {n_silver} != reference {ref['silver_rows']}"
            if p.extra["counts_after"] != p.extra["counts_before"]:
                mismatches.append(f"{p.tag}:rerun")
                ops["rerun"].failed = True
                ops["rerun"].error = (f"re-run changed row counts {p.extra['counts_before']} -> "
                                      f"{p.extra['counts_after']}")
            if ref["outliers_rejected"] < 1:  # the injected outlier must be exercised
                mismatches.append(f"{p.tag}:outlier")
                ops["gold"].failed = True
                ops["gold"].error = "the 3-sigma filter rejected no row of the input"
        return {"mismatches": mismatches, "ref_s": ref_s, "silver_rows": ref["silver_rows"],
                "gold_rows": len(ref["gold"]), "outliers_rejected": ref["outliers_rejected"]}

    def named_metrics(self, passes: list[Pass]) -> dict:
        files = [o.wall for p in passes for o in p.ops if o.kind == "file"]
        gold = _median([o.wall for p in passes for o in p.ops if o.kind == "gold"])
        rerun = _median([o.wall for p in passes for o in p.ops if o.kind == "rerun"])
        write_amp = _median([p.extra["wh_bytes"] / self.csv_bytes for p in passes])
        return {"file_p50_s": {"value": _median(files), "unit": "s", "n": len(files)},
                "gold_s": {"value": gold, "unit": "s", "n": len(passes)},
                "rerun_s": {"value": rerun, "unit": "s", "n": len(passes)},
                "write_amp": {"value": write_amp, "unit": "ratio", "n": len(passes)}}

    def pass_layers(self, m, p, ops, sub, ejobs) -> None:
        tr = self.tracer
        files = [s for s in ops if s.attrs["op_kind"] == "file"]
        probes = [s for s in sub if s.kind == "catalog" and s.name == "probe"]
        writes = [s for s in sub if s.kind == "catalog" and s.name == "write"]
        probe_jobs = within(tr, ejobs, {s.id for s in probes})
        csv_read = sum(j.csv_scan_bytes for j in ejobs)
        m["sources.read_amp"] = csv_read / self.csv_bytes
        m["catalog.probe_calls"] = len(probes)
        m["catalog.probe_jobs"] = len(probe_jobs)
        m["catalog.probe_s"] = sum(s.dur for s in probes)
        m["catalog.probe_scan_bytes"] = sum(j.scan_bytes for j in probe_jobs)
        m["catalog.write_calls"] = len(writes)
        m["catalog.write_s"] = sum(s.dur for s in writes)
        m["catalog.files_written"] = sum(s.attrs.get("files", 0) for s in writes)
        m["catalog.bytes_written"] = sum(s.attrs.get("bytes", 0) for s in writes)
        m["catalog.write_amp"] = p.extra["wh_bytes"] / self.csv_bytes
        m["pipelines.bronze_s"] = sum(_net(tr, s) for s in sub if s.name == "bronze")
        m["pipelines.silver_s"] = sum(_net(tr, s) for s in sub if s.name == "silver")
        m["pipelines.orchestrate_s"] = sum(_net(tr, s) for s in sub if s.name == "orchestrate")
        m["pipelines.jobs_per_file"] = _median(
            [sum(j.op == s.id for j in ejobs) for s in files])
        for kind in ("gold", "rerun"):
            s = next(s for s in ops if s.attrs["op_kind"] == kind)
            m[f"pipelines.{kind}_s"] = _net(tr, s)
            m[f"pipelines.{kind}_jobs"] = sum(j.op == s.id for j in ejobs)


def _data_files(path: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(path):
        for n in names:
            f = os.path.join(d, n)
            out[f] = os.path.getsize(f)
    return out


WORKLOADS = {w.name: w for w in (BqGold, Medallion)}
