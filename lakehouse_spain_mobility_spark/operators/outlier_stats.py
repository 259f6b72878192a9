"""The reference's core "typical day" operator: per-group stats, n-sigma
outlier rejection, re-aggregation.

Reference shape (single-pass CTE v2): ``dags/mitma/new_gold.py:22-86`` —
  stats CTE: GROUP BY keys → AVG, COALESCE(STDDEV_SAMP,0)
  join back on the full key (dags/mitma/new_gold.py:56-61)
  BETWEEN avg±3σ retention band (dags/mitma/new_gold.py:65-66)
  final GROUP BY: SUM/AVG/COALESCE(STDDEV,0)/COUNT(DISTINCT date)
  (dags/mitma/new_gold.py:68-78)

Two physical forms of the filtered battery, bit-identical thanks to
deterministic (weighted) fixed-point aggregation:
- :func:`sigma_filtered_stats` — the window form: the per-group stats are
  window aggregates over ONE shuffle on the keys, so the fact is scanned
  once and the join-back disappears (SURVEY §2 J1). Works for any metric.
- :func:`sigma_filtered_stats_cube` — pre-aggregates to the (keys, date,
  value) cube first; wins once a count-shaped metric's cube is much
  smaller than the fact (``queries/core.py:q_typical_day`` routes on the
  parquet footer row count).
:func:`unfiltered_stats` is the reference's degraded no-band path.

The reference's chunked-by-day_type fallback (dags/mitma/new_gold.py:89-148)
is intentionally absent: shuffle partitioning + spill already bound memory.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.deterministic import (
    spark_dsum_over,
    spark_wdavg,
    spark_wdstddev_samp0,
    spark_wdsum,
    xdavg,
    xdstddev_samp0,
    xdsum,
)


def sigma_filtered_stats(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    date_col: str,
    n_sigma: float = 3.0,
) -> DataFrame:
    """Two-level aggregation with n-sigma outlier rejection, window form:
    one shuffle on the keys feeds both the stats windows and the final
    aggregation, and the fact is scanned once (SURVEY §2 J1).

    Output columns: keys + total_trips, avg_trips, std_trips,
    num_days_observed — the gold_typical_day_patterns schema
    (dags/mitma/new_gold.py:7-18).
    """
    keys = list(keys)
    v = F.col(value_col)
    pb = ", ".join(keys)
    # Aggregate-over-window must be applied per aggregate function; the
    # composite davg/dstd helpers are arithmetic over aggregates, so build
    # the fixed-point moments explicitly (mirroring functions/deterministic)
    # and close the math outside the window — as SQL text, one F.expr per
    # output column (driver-side build cost, PERF.md round 3).
    s1 = spark_dsum_over(value_col, pb)
    s2 = spark_dsum_over(f"({value_col}) * ({value_col})", pb)
    n = f"COUNT({value_col}) OVER (PARTITION BY {pb})"
    var = f"(({s2} - {s1} * {s1} / {n}) / ({n} - 1))"
    sigma = (
        f"CASE WHEN {n} > 1 THEN SQRT(GREATEST({var}, CAST(0.0 AS DOUBLE))) "
        f"ELSE CAST(NULL AS DOUBLE) END"
    )
    with_stats = df.withColumn("_mu", F.expr(f"({s1} / {n})")).withColumn(
        "_sigma", F.expr(f"COALESCE({sigma}, CAST(0.0 AS DOUBLE))")
    )
    band_lo = F.col("_mu") - n_sigma * F.col("_sigma")
    band_hi = F.col("_mu") + n_sigma * F.col("_sigma")
    filtered = with_stats.filter(v.between(band_lo, band_hi))
    return filtered.groupBy(*keys).agg(
        xdsum(value_col).alias("total_trips"),
        xdavg(value_col).alias("avg_trips"),
        xdstddev_samp0(value_col).alias("std_trips"),
        F.countDistinct(F.col(date_col)).cast("int").alias("num_days_observed"),
    )


def sigma_filtered_stats_cube(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    date_col: str,
    n_sigma: float = 3.0,
) -> DataFrame:
    """Single-fact-pass variant: pre-aggregate to the (keys, date, value)
    CUBE, then run the whole stats/band/re-aggregation battery over cube
    rows with exact weighted fixed-point aggregation.

    Every output the battery computes is a function of the cube alone:
    the per-key moments weight each distinct value by its count (the
    fixed-point hi/lo split is linear, so the weighted totals are the
    *same exact integers* the row-level sums produce — see
    functions/deterministic.py weighted twins), the ±nσ band admits a
    fact row iff it admits its cube row, and COUNT(DISTINCT date) sees a
    date iff some surviving cube row carries it. Bit-identical results,
    proven by the unchanged row-level oracle SQL.

    Why it wins at scale (guide §2.3 aggregate before you shuffle): ONE
    scan feeds a partial aggregation that collapses each input partition
    to <= |cube| rows before the only exchange, where the window form
    ships every fact row; everything after runs at cube size. Domain
    assumption, stated honestly: the metric is count-shaped (trip counts
    per OD/hour — a bounded integer domain), so |cube| = |groups|·|dates|·
    |values per group| << |fact| at any corpus size (sf10: 100k cube rows
    vs 10M fact rows). On a continuous metric the cube degenerates to
    fact grain and only adds a checkpoint — use :func:`sigma_filtered_stats`
    there."""
    keys = list(keys)
    v = F.col(value_col)
    # Eager checkpoint: the cube feeds two consumers (the stats aggregation
    # and the band-filtered re-aggregation); without it Catalyst plans the
    # fact scan + cube aggregation TWICE (verified: executed plan showed 2
    # parquet scans, zero ReusedExchange). Materializing the cube once is
    # what makes this genuinely single-fact-pass; the cube is |groups| ·
    # |dates| · |values per group| rows — bounded by the count-shaped
    # domain, spill-safe storage (MEMORY_AND_DISK).
    cube = (
        df.groupBy(*keys, date_col, value_col)
        .agg(F.count(F.lit(1)).alias("_cnt"))
        .localCheckpoint(eager=True)
    )
    stats = cube.groupBy(*keys).agg(
        F.expr(spark_wdavg(value_col, "_cnt")).alias("_mu"),
        F.expr(spark_wdstddev_samp0(value_col, "_cnt")).alias("_sigma"),
    )
    joined = cube.join(F.broadcast(stats), on=keys)
    band_lo = F.col("_mu") - n_sigma * F.col("_sigma")
    band_hi = F.col("_mu") + n_sigma * F.col("_sigma")
    filtered = joined.filter(v.between(band_lo, band_hi))
    return filtered.groupBy(*keys).agg(
        F.expr(spark_wdsum(value_col, "_cnt")).alias("total_trips"),
        F.expr(spark_wdavg(value_col, "_cnt")).alias("avg_trips"),
        F.expr(spark_wdstddev_samp0(value_col, "_cnt")).alias("std_trips"),
        F.countDistinct(F.col(date_col)).cast("int").alias("num_days_observed"),
    )


def unfiltered_stats(df: DataFrame, keys: Sequence[str], value_col: str, date_col: str) -> DataFrame:
    """The reference's degraded fast path — same battery, no outlier band
    (dags/mitma/new_gold.py:151-179)."""
    return df.groupBy(*list(keys)).agg(
        xdsum(value_col).alias("total_trips"),
        xdavg(value_col).alias("avg_trips"),
        xdstddev_samp0(value_col).alias("std_trips"),
        F.countDistinct(F.col(date_col)).cast("int").alias("num_days_observed"),
    )
