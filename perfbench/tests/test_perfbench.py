"""Tests of the benchmark itself (not of the package).

    python3 -m pytest perfbench/tests -q

The unit tests need no Spark. The smoke tests run each workload once
untraced and twice traced on tiny inputs (about five minutes on 4 cores):
every metric named in BENCHMARK.json is printed with its unit, outputs are
correct, each traced op's self time plus its child spans reconciles with
its wall time, and the exact-repeat counts repeat.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import datagen  # noqa: E402
from spans import Job, Tracer, attribute, self_time, union_length  # noqa: E402
from workloads import EXACT_REPEAT  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as _f:
    SPEC = json.load(_f)

# Per-layer metrics each workload must move in its smoke run: a broken
# attribution would otherwise report a silent 0 as a valid baseline.
OWN_LAYERS = {
    "bq_gold": ("queries.build_s", "queries.collect_s", "exec.jobs", "exec.tasks",
                "catalyst.planning_s", "driver.result_rows"),
    "medallion_ingest": ("sources.read_amp", "catalog.probe_calls", "catalog.write_calls",
                         "catalog.files_written", "catalog.bytes_written",
                         "pipelines.jobs_per_file", "pipelines.gold_jobs", "exec.jobs"),
}


def _job(jid, group, start, end):
    return Job(jid, group, start, end, True)


def test_union_length_merges_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4)
    assert union_length([(0, 2), (1, 3), (5, 6)], 2.5, 5.5) == pytest.approx(1.0)
    assert union_length([], 0, 1) == 0


def test_untagged_thread_pool_job_goes_to_the_span_open_at_submission():
    tr = Tracer(True)
    with tr.span("p0", "pass"):
        with tr.span("q1", "op", group="p0|q1") as op1:
            with tr.span("build", "queries") as build:
                time.sleep(0.01)
        with tr.span("q2", "op", group="p0|q2") as op2:
            time.sleep(0.01)
    mid = (build.start + build.end) / 2
    jobs = [
        _job(0, "p0|q1", mid, mid),   # tagged
        _job(1, None, mid, mid),      # a pool thread's job: no job group
        _job(2, None, op2.start + 1e-4, op2.end),
        _job(3, None, op2.end + 10, op2.end + 11),  # outside every op: dropped
    ]
    kept = attribute(tr, jobs)
    assert [j.id for j in kept] == [0, 1, 2]
    assert [j.op for j in kept] == [op1.id, op1.id, op2.id]
    assert kept[1].span == build.id and not kept[1].tagged and kept[0].tagged


def test_self_time_reconciles_with_children():
    tr = Tracer(True)
    with tr.span("op", "op", group="g") as op:
        with tr.span("a", "queries"):
            pass
        with tr.span("b", "queries"):
            pass
    covered = union_length([(k.start, k.end) for k in tr.children(op.id)], op.start, op.end)
    assert self_time(tr, op) + covered == pytest.approx(op.dur)
    assert self_time(tr, op) >= 0


def test_generators_are_deterministic(tmp_path):
    a = datagen.write_mitma_days(str(tmp_path / "a"), 5, 3, 10, 2)
    b = datagen.write_mitma_days(str(tmp_path / "b"), 5, 3, 10, 2)
    assert list(a) == list(b)
    for d in a:
        with open(a[d], "rb") as fa, open(b[d], "rb") as fb:
            assert fa.read() == fb.read()
    datagen.write_star_tables(str(tmp_path / "s1"), 0.001, 7)
    datagen.write_star_tables(str(tmp_path / "s2"), 0.001, 7)
    for t in datagen.TABLES:
        import pyarrow.parquet as pq

        assert pq.read_table(tmp_path / "s1" / f"{t}.parquet").equals(
            pq.read_table(tmp_path / "s2" / f"{t}.parquet"))


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", ".pytest_cache"))
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "bq_gold", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert out.returncode != 0
    assert '"correct"' not in out.stdout


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "0", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    rec = os.path.join(ROOT, ".perfbench_work", "records", f"{workload}-seed3-trace{trace}.json")
    with open(rec, encoding="utf-8") as f:
        return result, json.load(f)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_metrics_reconcile_and_repeat(workload):
    result, record = _run(workload, 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    assert result["metrics"] == {
        m["name"]: {"value": result["metrics"][m["name"]]["value"], "unit": m["unit"]}
        for m in SPEC["end_to_end"]}
    assert all(v["value"] > 0 for v in result["metrics"].values())
    assert {"setup_s", "pass_s", "fail_ratio"} <= set(record["report"])

    traced = []
    for _ in range(2):
        result, record = _run(workload, 1)
        assert result["correct"]
        assert [*result["metrics"]] == [m["name"] for m in SPEC["per_layer"]]
        assert all(result["metrics"][m["name"]]["unit"] == m["unit"] for m in SPEC["per_layer"])
        zero = [k for k in OWN_LAYERS[workload] if not result["metrics"][k]["value"] > 0]
        assert not zero, zero
        assert record["reconcile"]
        for r in record["reconcile"]:
            assert r["inside"], r
            assert r["self"] >= -1e-6 and r["self"] + r["children"] == pytest.approx(r["wall"])
        traced.append({k: result["metrics"][k]["value"] for k in EXACT_REPEAT[workload]})
    assert traced[0] == traced[1]
