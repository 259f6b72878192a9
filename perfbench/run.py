"""Benchmark of the lakehouse engine, one workload per process.

    python3 perfbench/run.py --workload bq_gold --seed 1 --seconds 24 --trace 0

Runs from the root of a checkout and builds nothing: the package is plain
Python. One closed-loop client drives ``local[nproc]``:

1. makes the workload's inputs from ``--seed`` (untimed);
2. sets up once, cold, and reports it as ``setup_s``: launch the JVM and
   build the SparkSession, import the workload's registry or pipeline
   modules, and run one warm-up pass (the process is then ready to time);
3. runs ``--seconds`` worth of timed passes (a count fixed in advance);
4. stops Spark and checks every output against a DuckDB reference.

With ``--trace 1`` the same run also writes Spark's event log and records
spans around each layer's calls; the last line then carries the per-layer
metrics instead of the end-to-end ones. Metric names and units come from
BENCHMARK.json at the checkout root. The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import platform
import shutil
import subprocess
import sys
import tempfile
import time
import types

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "lakehouse_spain_mobility_spark"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["bq_gold", "medallion_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny inputs, for the benchmark's own tests")
    return ap.parse_args(argv)


class Engine:
    """The SparkSession of this process and the JVM behind it."""

    def __init__(self, run_dir: str, traced: bool):
        self.nproc = len(os.sched_getaffinity(0))
        self.master = f"local[{self.nproc}]"
        self.conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
            # no hsperfdata file under /tmp: all files stay in the run dir
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
        }
        if traced:
            self.log_dir = os.path.join(run_dir, "eventlog")
            os.makedirs(self.log_dir, exist_ok=True)
            self.conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",  # no zstd decoder in Python here
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.dir": "file://" + self.log_dir,
            })
        self.spark = None

    def setup(self, wl) -> dict[str, float]:
        """The cold set-up, up to the warm-up pass; its timings in seconds."""
        t0 = time.perf_counter()
        from lakehouse_spain_mobility_spark.session import build_session

        self.spark = build_session(app_name=f"perfbench-{wl.name}", master=self.master,
                                   shuffle_partitions=self.nproc, extra_conf=self.conf)
        t1 = time.perf_counter()
        wl.spark = self.spark
        wl.load()
        return {"session": t1 - t0, "registry": time.perf_counter() - t1}

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()

    def cpu_clock(self):
        """A clock of the CPU seconds used by this process, the JVM and the
        JVM's child processes (the Python workers), read from /proc."""
        jvm, tick = self.jvm_pid(), os.sysconf("SC_CLK_TCK")

        def tree(pid: int) -> list[int]:
            out, todo = [], [pid]
            while todo:
                p = todo.pop()
                out.append(p)
                for t in glob.glob(f"/proc/{p}/task/*/children"):
                    try:
                        with open(t, encoding="ascii") as f:
                            todo.extend(int(c) for c in f.read().split())
                    except (FileNotFoundError, ProcessLookupError):  # a thread that just exited
                        continue
            return out

        def clock() -> float:
            ticks = 0
            for p in tree(jvm):
                try:
                    with open(f"/proc/{p}/stat", encoding="ascii") as f:
                        fields = f.read().rsplit(")", 1)[1].split()
                except (FileNotFoundError, ProcessLookupError):  # a worker that just exited
                    continue
                ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
            return ticks / tick + time.process_time()
        return clock

    def jvm_peak_rss_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid()}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0

    def shutdown(self) -> None:
        """Stop Spark, close the gateway and wait until the JVM has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def _cpu_ticks() -> tuple[int, int]:
    """(ticks stolen by the hypervisor, all ticks) of the machine so far."""
    with open("/proc/stat", encoding="ascii") as f:
        ticks = [int(x) for x in f.readline().split()[1:9]]
    return ticks[7], sum(ticks)


def _versions(spark_version: str) -> dict[str, str]:
    import duckdb
    import pyspark

    return {"spark": spark_version, "pyspark": pyspark.__version__,
            "duckdb": duckdb.__version__, "python": platform.python_version()}


def _reference_modules():
    from lakehouse_spain_mobility_spark import oracle
    from lakehouse_spain_mobility_spark.functions import deterministic, holidays_es, scalar
    from lakehouse_spain_mobility_spark.pipelines import mitma

    return types.SimpleNamespace(oracle=oracle, deterministic=deterministic,
                                 holidays_es=holidays_es, scalar=scalar, mitma=mitma)


def _reconcile(tracer, self_time, union_length) -> list[dict]:
    """Per op: wall time, self time and the union of its child spans."""
    out = []
    for s in tracer.spans:
        if s.kind == "op":
            kids = [(k.start, k.end) for k in tracer.children(s.id)]
            out.append({"op": s.name, "wall": s.dur, "self": self_time(tracer, s),
                        "children": union_length(kids, s.start, s.end),
                        "inside": all(s.start <= a and b <= s.end for a, b in kids)})
    return out


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: package {PKG} not found under {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    from spans import Tracer, attribute, read_event_log, self_time, union_length
    from workloads import WORKLOADS

    work_dir = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work_dir, f"run-{args.workload}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, d))
    # Everything Spark, its Python workers and tempfile write stays in the run dir.
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    tempfile.tempdir = None

    tracer = Tracer(args.trace == 1)
    wl = WORKLOADS[args.workload](work_dir, run_dir, args.seed, args.smoke, tracer)
    engine = Engine(run_dir, tracer.enabled)
    try:
        try:
            inputs = wl.prepare()
            t0 = time.perf_counter()
            setup = engine.setup(wl)
            t = time.perf_counter()
            wl.warmup()
            setup["warmup"] = time.perf_counter() - t
            setup["total"] = time.perf_counter() - t0
            wl.cpu_clock = engine.cpu_clock()
            steal0, all0 = _cpu_ticks()
            passes = wl.run_passes(args.seconds)
            steal1, all1 = _cpu_ticks()
            spark_version = engine.spark.version
            rss_mb = engine.jvm_peak_rss_mb()
            app_id = engine.spark.sparkContext.applicationId
        finally:
            engine.shutdown()

        wl.pkg = _reference_modules()
        checked = wl.check(passes)
        jobs = []
        if tracer.enabled:
            log = glob.glob(os.path.join(engine.log_dir, app_id + "*"))[0]
            jobs = attribute(tracer, read_event_log(log))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    ops = [o for p in passes for o in p.ops]
    failed = sum(o.failed for o in ops)
    e2e = {"setup_s": setup["total"], **wl.e2e(passes)}
    layers: dict[str, float] = {}
    if tracer.enabled:
        layers = wl.layer_metrics(passes, jobs)
        layers.update({
            "session.start_s": setup["session"],
            "session.registry_import_s": setup["registry"],
            "session.warmup_s": setup["warmup"],
            "session.jvm_peak_rss_mb": rss_mb,
            "oracle.mismatches": len(checked["mismatches"]),
            "oracle.ref_s": checked["ref_s"],
        })

    context = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "smoke": args.smoke, "nproc": engine.nproc, "master": engine.master,
        "versions": _versions(spark_version), "inputs": inputs,
        "passes": len(passes), "ops": len(ops),
        "run_seconds": args.seconds,
        # CPU time other guests took from this machine during the timed
        # passes: the main source of run-to-run spread on a shared host.
        "cpu_steal_share": (steal1 - steal0) / max(1, all1 - all0),
    }
    # The metrics by the names a reader of the workload expects, with units
    # and sample counts; the result line below keeps BENCHMARK.json's names.
    report = {
        "setup_s": {"value": e2e["setup_s"], "unit": "s", "n": 1},
        "pass_s": {"value": e2e["pass_s"], "unit": "s", "n": len(passes)},
        "pass_median_s": {"value": e2e["pass_median_s"], "unit": "s", "n": len(passes)},
        "pass_cpu_s": {"value": e2e["pass_cpu_s"], "unit": "s", "n": len(passes)},
        **wl.named_metrics(passes),
        "fail_ratio": {"value": failed / len(ops), "unit": "ratio", "n": len(ops)},
        **{f"setup_{k}_s": {"value": v, "unit": "s", "n": 1}
           for k, v in setup.items() if k != "total"},
        "failing_ops": sorted({o.name for o in ops if o.failed}),
    }
    records = os.path.join(work_dir, "records")
    os.makedirs(records, exist_ok=True)
    stem = os.path.join(records, f"{args.workload}-seed{args.seed}")
    if tracer.enabled and os.path.exists(stem + "-trace0.json"):
        with open(stem + "-trace0.json", encoding="utf-8") as f:
            untraced = json.load(f)["report"]["pass_s"]["value"]
        report["trace_overhead_s"] = {"value": layers["trace.pass_s"] - untraced, "unit": "s"}
    errors = [f"{p.tag}|{o.name}: {o.error}" for p in passes for o in p.ops if o.failed]
    record = {"context": context, "report": report, "e2e": e2e, "layers": layers,
              "passes": [{"tag": p.tag, "wall": p.wall, "cpu": p.cpu,
                          "ops": [[o.name, o.wall] for o in p.ops]} for p in passes],
              "checks": checked, "errors": errors, "setup": setup,
              "reconcile": _reconcile(tracer, self_time, union_length),
              "spans": tracer.to_json(), "jobs": [j.__dict__ for j in jobs]}
    with open(stem + f"-trace{args.trace}.json", "w", encoding="utf-8") as f:
        json.dump(record, f)

    for e in errors:
        print(f"# failed {e.strip()}", file=sys.stderr)
    print("# context " + json.dumps(context))
    print("# report " + json.dumps(report))
    wanted, values = (spec["per_layer"], layers) if tracer.enabled else (spec["end_to_end"], e2e)
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
