"""Gravity-model operator (BQ2): T_ij = k · P_i · E_j / d_ij².

Reference pipeline (dags/gravity/gravity_dag.py:45-103):
  create_gravity_data.py:10-31 — distances ⟕ population ⟕ economy ⟕ trips
  calculate_gold.py:11-45      — calibrate k = ΣT·d² / NULLIF(ΣP·E, 0),
                                 predict, mismatch ratio, status buckets
  create_ranking.py:10-28      — per-origin ranking with CASE buckets

Spark-first changes vs the reference:
- the five ``temp_*`` tables become DataFrames (no materialization);
- the dims (population/economy — municipality-level, thousands of rows at
  most) are broadcast so the distance matrix never shuffles;
- k is computed distributively and attached via crossJoin of a 1-row
  aggregate (no driver round-trip; the reference fetches the scalar into
  Python and re-injects it as a SQL literal, calculate_gold.py:19-33).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.deterministic import xdavg, xdsum


def assemble_gravity_data(
    distances: DataFrame,  # origin_code, dest_code, distance_km
    population: DataFrame,  # code, population
    economy: DataFrame,  # code, avg_income
    trips: DataFrame,  # origin_code, dest_code, total_trips
) -> DataFrame:
    """Feature assembly (dags/gravity/create_gravity_data.py:10-31):
    multi-way LEFT join keyed on origin/destination, then the
    COALESCE(...) > 0 survival filters."""
    pop = F.broadcast(population.select(F.col("code").alias("_p_code"), "population"))
    eco = F.broadcast(economy.select(F.col("code").alias("_e_code"), "avg_income"))
    out = (
        distances.join(pop, distances.origin_code == pop._p_code, "left")
        .join(eco, distances.dest_code == eco._e_code, "left")
        .join(trips, ["origin_code", "dest_code"], "left")
        .filter((F.coalesce(F.col("population"), F.lit(0)) > 0) & (F.coalesce(F.col("avg_income"), F.lit(0.0)) > 0))
        .select("origin_code", "dest_code", "distance_km", "population", "avg_income", "total_trips")
    )
    return out


def gravity_analysis(gravity_data: DataFrame) -> DataFrame:
    """Prediction + mismatch (dags/gravity/calculate_gold.py:23-45), with k
    attached distributively via a 1-row cross join instead of a driver
    round-trip.

    The feature table is materialized once (it feeds both the k
    calibration and the output — a municipality²-sized frame, small even
    at national scale), which cuts ~35% off the query; values are the
    same as an inline recompute thanks to deterministic aggregation.
    """
    # Lazy localCheckpoint: the k-calibration broadcast materializes it as
    # part of its own job, saving the dedicated eager-checkpoint job (~half
    # the query's bench wall-clock, PERF.md r3); unlike persist() it stays
    # out of the cache manager (no cross-query plan substitution) and
    # truncates lineage.
    gravity_data = gravity_data.localCheckpoint(eager=False)
    k_df = gravity_data.filter(F.col("total_trips").isNotNull()).agg(
        (
            xdsum("total_trips * distance_km * distance_km")
            / F.nullif(xdsum("population * avg_income"), F.lit(0.0))
        ).alias("k")
    )
    with_k = gravity_data.crossJoin(F.broadcast(k_df))
    predicted = (
        F.col("k")
        * (F.col("population") * F.col("avg_income"))
        / (F.col("distance_km") * F.col("distance_km"))
    )
    actual = F.coalesce(F.col("total_trips"), F.lit(0.0))
    mismatch = F.when(predicted > 0, (actual - predicted) / predicted).otherwise(
        F.lit(None).cast("double")
    )
    status = (
        F.when(mismatch > 0.5, F.lit("UNDER_PREDICTED"))
        .when(mismatch < -0.5, F.lit("OVER_PREDICTED"))
        .when(mismatch.isNotNull(), F.lit("BALANCED"))
        .otherwise(F.lit("UNKNOWN"))
    )
    return with_k.select(
        "origin_code",
        "dest_code",
        "distance_km",
        F.col("population").alias("origin_population"),
        F.col("avg_income").alias("dest_avg_income"),
        actual.alias("actual_trips"),
        predicted.alias("predicted_trips"),
        mismatch.alias("mismatch_ratio"),
        status.alias("status"),
    )


def infrastructure_ranking(analysis: DataFrame) -> DataFrame:
    """Per-origin ranking (dags/gravity/create_ranking.py:10-28): filter
    NULL mismatch, aggregate, bucket, order."""
    ranked = (
        analysis.filter(F.col("mismatch_ratio").isNotNull())
        .groupBy("origin_code")
        .agg(
            xdavg("mismatch_ratio").alias("avg_mismatch_ratio"),
            F.max("origin_population").alias("origin_population"),
            F.count("*").alias("n_destinations"),
        )
    )
    bucket = (
        F.when(F.col("avg_mismatch_ratio") > 0.5, F.lit("INFRASTRUCTURE_DEFICIT"))
        .when(F.col("avg_mismatch_ratio") < -0.5, F.lit("INFRASTRUCTURE_SURPLUS"))
        .otherwise(F.lit("ADEQUATE"))
    )
    return ranked.withColumn("infrastructure_status", bucket).orderBy(
        F.desc("avg_mismatch_ratio"), "origin_code"
    )
