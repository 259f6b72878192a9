"""Flagship queries: the reference's gold "typical day" model (BQ1) and its
report rollup, re-targeted at the synthetic ``events`` table.

events(event_id, ts, user_id, event_type, value, props) plays the role of
silver_mobility_trips(date, hour_period, origin_zone, destination_zone,
trips, day_type): event_type→origin_zone, user_id bucket→destination_zone,
value→trips.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import scalar
from ..functions.deterministic import (
    davg,
    dstddev_samp,
    dsum,
    spark_dstddev_samp,
    sql_davg,
    sql_dstddev_samp,
    sql_dstddev_samp0,
    sql_dsum,
    xdavg,
    xdsum,
)
from ..operators.outlier_stats import (
    sigma_filtered_stats,
    sigma_filtered_stats_cube,
    unfiltered_stats,
)
from . import QuerySpec, register
from .tables import load


def _events_silver(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events → silver_mobility_trips-shaped frame.

    Mirrors the silver typing/cleaning hop (dags/mitma/silver_mitma.py:119-140):
    typed projection, day_type encoding, validity filters.

    The calendar columns are pure int64 arithmetic on epoch seconds —
    ``date`` is carried as epoch DAYS (it only ever feeds
    COUNT(DISTINCT date), a bijection with the calendar date), hour from
    second-of-day, day_type from day-of-week. The java.time per-row path
    (to_date/hour/weekday, paid on BOTH fact passes) cost a measured
    0.33 s of the 3.28 s sf10 standalone (round-9 A/B, PERF.md). floor/
    pmod keep the arithmetic exact on either side of the epoch; the one
    truncation left (timestamp→long on negative fractional seconds)
    pre-dates every dataset this models.
    """
    # NO scan spread here, measured deliberately: events rows aggregate
    # ~1:1 into silver (no explode), so a repartition of the raw fact
    # costs more wire than the map-side parallelism it buys (sf10 A/B:
    # 16.8 s -> 23.8 s WITH the spread). tables.spread pays off only for
    # scans whose map side EXPANDS (documents tokenize/explode paths).
    ev = load(spark, sf_dir, "events")
    secs = F.col("ts").cast("long")
    # int, not long: epoch days fit 32 bits for ~5.8M years, and `date`
    # only feeds COUNT(DISTINCT) state — half-width keys there
    days = F.floor(secs / F.lit(86400)).cast("int")  # exact: |secs| < 2^53
    hour = (F.pmod(secs, F.lit(86400)) / F.lit(3600)).cast("int")
    return ev.select(
        days.alias("date"),
        hour.alias("hour_period"),
        F.col("event_type").alias("origin_zone"),
        (F.col("user_id") % 20).cast("string").alias("destination_zone"),
        F.col("value").alias("trips"),
        scalar.day_type_from_epoch_days(days).alias("day_type"),
    ).filter(F.col("trips").isNotNull() & (F.col("trips") >= 0) & F.col("ts").isNotNull())


_SILVER_SQL = f"""
    SELECT CAST(ts AS DATE) AS date,
           CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hour_period,
           event_type AS origin_zone,
           CAST(user_id % 20 AS VARCHAR) AS destination_zone,
           value AS trips,
           {scalar.sql_day_type('ts')} AS day_type
    FROM events
    WHERE value IS NOT NULL AND value >= 0 AND CAST(ts AS DATE) IS NOT NULL
"""

_KEYS = ["day_type", "hour_period", "origin_zone", "destination_zone"]


# Cube-form crossover on the events footer row count: the (keys, date,
# trips) cube only collapses once the fact is large relative to the
# count-shaped value domain (|cube| is capped by |groups|·|dates|·|value
# domain| while the fact keeps growing). Warm min/median of build+collect
# on a 4-core host, window vs cube: 100k rows 1.10/1.33 vs 1.93/2.13 s;
# 1M rows 3.28/3.96 vs 2.06/2.43 s.
_TD_CUBE_MIN_ROWS = 1_000_000


def q_typical_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gold typical-day patterns with 3σ outlier rejection
    (dags/mitma/new_gold.py:22-86).

    Routed on the parquet FOOTER row count of ``events`` (no job):
    - below the crossover, the window form
      (``operators/outlier_stats.py:sigma_filtered_stats``): one fact
      scan, one shuffle on the keys;
    - at or above it, or when the footer is unreadable (the scale-safe
      branch), the single-pass cube form (``sigma_filtered_stats_cube``):
      pre-aggregate to the (keys, date, trips) cube, then run the battery
      at cube size with exact weighted moments.
    Deterministic (weighted) fixed-point aggregation makes the two
    bit-identical; the oracle SQL keeps the reference's row-level
    stats-CTE join shape to prove it.
    """
    from .tables import parquet_num_rows

    silver = _events_silver(spark, sf_dir)
    n = parquet_num_rows(sf_dir, "events")
    if n is None or n >= _TD_CUBE_MIN_ROWS:
        return sigma_filtered_stats_cube(silver, _KEYS, "trips", "date", n_sigma=3.0)
    return sigma_filtered_stats(silver, _KEYS, "trips", "date", n_sigma=3.0)


_TYPICAL_DAY_SQL = f"""
WITH silver AS ({_SILVER_SQL}),
stats AS (
    SELECT day_type, hour_period, origin_zone, destination_zone,
           {sql_davg('trips')} AS _mu,
           {sql_dstddev_samp0('trips')} AS _sigma
    FROM silver
    GROUP BY day_type, hour_period, origin_zone, destination_zone
)
SELECT s.day_type, s.hour_period, s.origin_zone, s.destination_zone,
       {sql_dsum('s.trips')} AS total_trips,
       {sql_davg('s.trips')} AS avg_trips,
       {sql_dstddev_samp0('s.trips')} AS std_trips,
       CAST(COUNT(DISTINCT s.date) AS INTEGER) AS num_days_observed
FROM silver s
JOIN stats st
  ON s.day_type = st.day_type AND s.hour_period = st.hour_period
 AND s.origin_zone = st.origin_zone AND s.destination_zone = st.destination_zone
WHERE s.trips BETWEEN (st._mu - 3.0 * st._sigma) AND (st._mu + 3.0 * st._sigma)
GROUP BY s.day_type, s.hour_period, s.origin_zone, s.destination_zone
"""


def q_typical_day_nofilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degraded fast path: same battery, no outlier band
    (dags/mitma/new_gold.py:151-179)."""
    silver = _events_silver(spark, sf_dir)
    return unfiltered_stats(silver, _KEYS, "trips", "date")


_TYPICAL_DAY_NOFILTER_SQL = f"""
WITH silver AS ({_SILVER_SQL})
SELECT day_type, hour_period, origin_zone, destination_zone,
       {sql_dsum('trips')} AS total_trips,
       {sql_davg('trips')} AS avg_trips,
       {sql_dstddev_samp0('trips')} AS std_trips,
       CAST(COUNT(DISTINCT date) AS INTEGER) AS num_days_observed
FROM silver
GROUP BY day_type, hour_period, origin_zone, destination_zone
"""


def _rollup_over_gold(gold: DataFrame) -> DataFrame:
    """The report aggregation itself (dags/mitma/generate_report.py:45-61):
    IN-scope to target zones, SUM/AVG/STDDEV of the pattern stats +
    AVG(num_days_observed) by (day_type, hour_period)."""
    scoped = gold.filter(F.col("origin_zone").isin("click", "view", "purchase"))
    return (
        scoped.groupBy("day_type", "hour_period")
        .agg(
            xdsum("total_trips").alias("total_trips"),
            xdavg("total_trips").alias("avg_trips"),
            F.expr(spark_dstddev_samp("total_trips")).alias("std_trips"),
            xdavg("CAST(num_days_observed AS DOUBLE)").alias("avg_days_observed"),
        )
        .orderBy("day_type", "hour_period")
    )


def q_report_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BQ1 report re-aggregation, END-TO-END form: recomputes silver →
    stats → gold → rollup in one plan. This is the pipeline-cost
    contract; the reference itself does NOT run this shape — its report
    reads the stored gold table (see ``q_report_rollup_gold``)."""
    return _rollup_over_gold(q_typical_day(spark, sf_dir))


def materialized_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """gold_typical_day_patterns as a STORED table (K3 materialization,
    dags/mitma/new_gold.py:31-32 CREATE OR REPLACE TABLE): built lazily
    once per (process, sf_dir, source-mtime) and read back from parquet —
    exactly how the reference's report consumes gold
    (dags/mitma/generate_report.py:47-61 queries the stored table rather
    than recomputing the model). Parquet round-trips every column type
    bit-exactly, so downstream values are identical to the in-plan form.
    Clustered on (day_type, hour_period) — the report's group/filter keys
    — per SURVEY §4.3's gold-layout guidance."""
    import os
    import re
    import tempfile

    from ..catalog import Warehouse

    src = f"{sf_dir}/events.parquet"
    try:
        mtime = int(os.stat(src).st_mtime)
    except OSError:
        mtime = 0
    tag = re.sub(r"[^0-9a-zA-Z]+", "_", f"{sf_dir.strip('/')}_{mtime}")
    name = f"gold_typical_day_{tag}"
    root = os.path.join(tempfile.gettempdir(), "spark_graft_gold", str(os.getpid()))
    wh = Warehouse(spark, root)
    if not wh.table_exists(name):
        # stale-mtime sweep, same hygiene as bucketed_ps_lineitem: a cache
        # miss means the source was regenerated — older layouts for the
        # same sf_dir are unreachable for the rest of the process
        prefix = "gold_typical_day_" + re.sub(
            r"[^0-9a-zA-Z]+", "_", sf_dir.strip("/")
        ) + "_"
        for t in wh.list_tables():
            if t.startswith(prefix) and t != name:
                wh.drop_if_exists(t)
        wh.create_or_replace_clustered(
            name, q_typical_day(spark, sf_dir), ["day_type", "hour_period"], n_files=1
        )
    return wh.read(name)


def q_report_rollup_gold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BQ1 report rollup, READ-FROM-GOLD form (VERDICT r9 #1): the
    reference's own two-step — gold is materialized ONCE (amortized
    across every report over it), the report is a rollup of the ~12k-row
    stored table. At 100 TB this is the only sane shape: the report
    query touches kilobytes of gold instead of re-scanning the fact
    table. The DuckDB oracle recomputes gold as a CTE in-query (the
    harness's views are the raw tables), so its timing INCLUDES the
    model build the Spark side amortizes — values are identical either
    way; ``report_rollup`` stays registered as the symmetric end-to-end
    cost contract."""
    return _rollup_over_gold(materialized_gold(spark, sf_dir))


_REPORT_ROLLUP_SQL = f"""
WITH gold AS ({_TYPICAL_DAY_SQL})
SELECT day_type, hour_period,
       {sql_dsum('total_trips')} AS total_trips,
       {sql_davg('total_trips')} AS avg_trips,
       {sql_dstddev_samp('total_trips')} AS std_trips,
       {sql_davg('CAST(num_days_observed AS DOUBLE)')} AS avg_days_observed
FROM gold
WHERE origin_zone IN ('click', 'view', 'purchase')
GROUP BY day_type, hour_period
ORDER BY day_type, hour_period
"""


register(
    QuerySpec(
        name="typical_day",
        build=q_typical_day,
        oracle=_TYPICAL_DAY_SQL,
        survey="A1,A2,J1,P5,P7,U1",
        bench=True,
        description="Gold typical-day 3σ pattern model (dags/mitma/new_gold.py:22-86)",
    )
)
register(
    QuerySpec(
        name="typical_day_nofilter",
        build=q_typical_day_nofilter,
        oracle=_TYPICAL_DAY_NOFILTER_SQL,
        survey="A1,A2",
        description="Degraded no-outlier-filter gold variant (dags/mitma/new_gold.py:151-179)",
    )
)
register(
    QuerySpec(
        name="report_rollup",
        build=q_report_rollup,
        oracle=_REPORT_ROLLUP_SQL,
        survey="A4,P6",
        bench=True,
        description="BQ1 report rollup with IN-scoping (dags/mitma/generate_report.py:45-61)",
    )
)
register(
    QuerySpec(
        name="report_rollup_gold",
        build=q_report_rollup_gold,
        oracle=_REPORT_ROLLUP_SQL,
        survey="A4,P6,K3",
        description=(
            "BQ1 report rollup READ-FROM-GOLD: K3-materialized gold_typical_day_patterns "
            "stored once, report rolls up the stored table (the reference's two-step, "
            "generate_report.py:47-61 over new_gold.py:31-32); oracle recomputes gold in-query"
        ),
    )
)
