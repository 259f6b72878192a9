"""Registry-wide executed-plan scan budgets (VERDICT r7 #4).

scripts/plan_audit.py found a real redundant-execution defect the bench
numbers never surfaced (round 7: pagerank re-derived its loop-invariant
edge relation per iteration — 27 final-tree scans instead of 3). This
promotes that audit into CI: every driver-window query is executed at
sf0.001 and its FINAL-plan parquet-scan count asserted against a pinned
budget, so a lineage regression of that class fails a test instead of
waiting for a judge round.

Budgets are the counts measured on round-8 code (2026-08) — UPPER bounds,
not equalities, so a plan improvement doesn't churn the table; a query
exceeding its budget means a subtree started re-executing (check for a
lost localCheckpoint / a filter pushing through a shared aggregate fork —
PERF.md "plan audit"). Known multi-pass shapes are budgeted AT their
honest count, not skipped: the suites (UNION-ALL bundles re-scan per
member by construction — round2_suite legitimately holds ~103 scans with
~75 reused exchanges), triangle wedges, KMV sketch pairs, gravity's
dim-squared distance grid.
"""

from __future__ import annotations

import pytest

from lakehouse_spain_mobility_spark.plans.inspect import audit_counts
from lakehouse_spain_mobility_spark.queries import DRIVER_WINDOW, load_all

from conftest import SF_DIR_SMALL

# query -> max parquet Scan nodes in the FINAL executed tree at sf0.001
# (measured round 8; the audit's "Initial Plan" section is excluded).
# typical_day/report_rollup: 1, measured with the window form (one
# events scan feeds both the stats windows and the re-aggregation).
SCAN_BUDGET = {
    "typical_day": 1, "report_rollup": 1, "sessionize": 1,
    "typed_projection": 1, "filter_battery": 1, "window_topk": 2,
    "tumbling_window": 1, "gravity_data": 8, "gravity_analysis": 0,
    "relational_suite": 18, "spatial_suite": 3, "storage_suite": 0,
    "scalar_battery": 1, "datetime_battery": 1, "window_battery": 2,
    "set_ops": 3, "array_battery": 1,
    "tpch_q1": 1, "tpch_q3": 3, "tpch_q4": 3, "tpch_q5": 6, "tpch_q6": 1,
    # q7 measured 0 at sf0.001 (AQE empty-relation collapse on the tiny
    # two-nation slice); budgeted at its real multi-dim join shape so a
    # regenerated dataset with surviving rows doesn't false-fail
    "tpch_q7": 7, "tpch_q8": 7, "tpch_q9": 5, "tpch_q10": 3,
    "tpch_q12": 2, "tpch_q13": 2, "tpch_q14": 2, "tpch_q15": 3,
    "tpch_q17": 3, "tpch_q18": 3, "tpch_q19": 2, "tpch_q21": 6,
    "tpch_q22": 2,
    "mlprep_suite": 5, "dedup_suite": 7, "text_suite": 7,
    "similarity_suite": 8, "multimodal_features": 1, "decontamination": 3,
    "repetition_quality": 1, "pii_scrub": 1, "chunk_dedup": 2,
    "ann_recall": 2, "table_profile": 0, "event_funnel": 1,
    "olap_suite": 18, "analytic_window_suite": 16,
    # 106 at round 9: +hll_distinct_x64 (2 scans), +t_closeness_audit,
    # +url_canonicalize (1 each); the raw-row hll forms scan events twice
    # by design (registers + exact-contract countDistinct)
    "round2_suite": 106,
}


def test_budget_table_covers_driver_window():
    assert set(SCAN_BUDGET) == set(DRIVER_WINDOW), (
        set(SCAN_BUDGET) ^ set(DRIVER_WINDOW)
    )


@pytest.mark.parametrize("name", DRIVER_WINDOW)
def test_driver_window_scan_budget(spark, name):
    spec = load_all()[name]
    df = spec.build(spark, SF_DIR_SMALL)
    df.collect()  # finalize the AQE plan for THIS DataFrame
    scans, mem, reused = audit_counts(df)
    assert scans <= SCAN_BUDGET[name], (
        f"{name}: {scans} final-plan parquet scans (budget "
        f"{SCAN_BUDGET[name]}, mem={mem}, reused={reused}) — a subtree is "
        "re-executing; see PERF.md 'plan audit'"
    )
