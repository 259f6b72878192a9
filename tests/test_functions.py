"""Unit tests for pure-Python function helpers: Easter computus, holiday
enumeration, day-type mapping, deterministic aggregation edge cases."""

from __future__ import annotations

import datetime

import pytest
from pyspark.sql import functions as F

from lakehouse_spain_mobility_spark.functions import holidays_es, scalar
from lakehouse_spain_mobility_spark.functions.deterministic import (
    davg,
    dstddev_samp,
    dstddev_samp0,
    dsum,
)


def test_easter_computus_known_dates():
    assert holidays_es.easter_sunday(2023) == datetime.date(2023, 4, 9)
    assert holidays_es.easter_sunday(2024) == datetime.date(2024, 3, 31)
    assert holidays_es.easter_sunday(2025) == datetime.date(2025, 4, 20)


def test_good_friday_in_holidays():
    days = holidays_es.spain_holidays(2023)
    assert datetime.date(2023, 4, 7) in days  # Viernes Santo
    assert datetime.date(2023, 1, 1) in days and datetime.date(2023, 12, 25) in days
    assert len(days) == 10


def test_day_type_mapping(spark):
    # 2023-02-06 Mon, 07 Tue, 10 Fri, 11 Sat, 12 Sun, 08 Wed
    df = spark.createDataFrame(
        [("2023-02-06",), ("2023-02-07",), ("2023-02-08",), ("2023-02-10",),
         ("2023-02-11",), ("2023-02-12",)],
        "d string",
    ).select(scalar.day_type(F.to_date("d")).alias("dt"))
    assert [r["dt"] for r in df.collect()] == [1, 2, 2, 5, 6, 0]


def test_day_type_epoch_days_matches_calendar(spark):
    """The int-arithmetic day_type (epoch-days pmod) must equal the
    calendar form on every day of 1969–2100 — including the pre-epoch
    negative-days side, where pmod (not %) keeps the weekday positive."""
    df = (
        spark.range(-365, 48000)
        .select(
            scalar.day_type_from_epoch_days(F.col("id")).alias("fast"),
            scalar.day_type(F.date_from_unix_date(F.col("id").cast("int"))).alias("cal"),
        )
        .filter(F.col("fast") != F.col("cal"))
    )
    assert df.count() == 0


def test_day_type_holiday_override(spark):
    df = spark.createDataFrame([("2023-02-06", True), ("2023-02-06", False)], "d string, h boolean")
    out = df.select(scalar.day_type(F.to_date("d"), F.col("h")).alias("dt")).collect()
    assert [r["dt"] for r in out] == [8, 1]


def test_deterministic_agg_edge_cases(spark):
    df = spark.createDataFrame(
        [("a", 1.5), ("a", 2.5), ("a", None), ("b", 7.25), ("c", None)], "k string, v double"
    )
    out = {
        r["k"]: r
        for r in df.groupBy("k")
        .agg(
            dsum(F.col("v")).alias("s"),
            davg(F.col("v")).alias("m"),
            dstddev_samp(F.col("v")).alias("sd"),
            dstddev_samp0(F.col("v")).alias("sd0"),
        )
        .collect()
    }
    assert out["a"]["s"] == 4.0 and out["a"]["m"] == 2.0
    assert abs(out["a"]["sd"] - 0.7071067811865476) < 1e-12
    assert out["b"]["sd"] is None and out["b"]["sd0"] == 0.0  # n=1 → NULL → 0
    assert out["c"]["s"] is None and out["c"]["sd0"] == 0.0  # all-NULL group


def test_spanish_decimal(spark):
    df = spark.createDataFrame([("1.234,56",), ("12,5",), ("junk",)], "s string")
    vals = [r[0] for r in df.select(scalar.spanish_decimal(F.col("s"))).collect()]
    assert vals == [1234.56, 12.5, None]


def test_connected_components_chain_merge(spark):
    """A~B, B~C, D~E: the chain must close into {A,B,C} even though A!~C
    (the case where pairwise keep-first over-deletes), plus a separate
    2-clique — and converge within the iteration budget."""
    from lakehouse_spain_mobility_spark.operators.graph import connected_components

    edges = spark.createDataFrame(
        [(10, 20), (20, 30), (40, 50)], "d1 bigint, d2 bigint"
    )
    got = {r["vertex"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {10: 10, 20: 10, 30: 10, 40: 40, 50: 40}


def test_connected_components_deep_chain(spark):
    """r11 fused-init regression: a diameter-6 path (min label at one END,
    so it must travel the whole chain) plus an isolated self-pair —
    propagation depth beyond the fused first round must still converge
    exactly."""
    from lakehouse_spain_mobility_spark.operators.graph import connected_components

    chain = [(i, i + 1) for i in range(1, 7)]  # 1-2-3-...-7
    edges = spark.createDataFrame(chain + [(9, 9)], "d1 bigint, d2 bigint")
    got = {r["vertex"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {**{v: 1 for v in range(1, 8)}, 9: 9}


def test_connected_components_rejects_max_iter_below_one():
    """The fused init is round 1, so max_iter=0 would skip the convergence
    check and return round-1 labels as final."""
    from lakehouse_spain_mobility_spark.operators.graph import connected_components

    with pytest.raises(ValueError, match="max_iter"):
        connected_components(None, max_iter=0)


def test_from_json_matches_get_json_object(spark):
    """Schema-ful from_json and path-based get_json_object must extract
    identical values from events.props (the two JSON surfaces §2.8 maps
    to)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from lakehouse_spain_mobility_spark.queries.tables import load

    ev = load(spark, "/root/testdata/sf0.001", "events")
    schema = T.StructType([T.StructField("k", T.DoubleType())])
    both = ev.select(
        F.get_json_object("props", "$.k").cast("double").alias("path_k"),
        F.from_json("props", schema).getField("k").alias("struct_k"),
    )
    assert both.filter(
        ~(F.col("path_k").eqNullSafe(F.col("struct_k")))
    ).count() == 0


def test_vincenty_geodesic_reference_arcs():
    """WGS84 fidelity anchors (standard published arc lengths):
    1° of meridian arc at ~40°N ≈ 111.04 km, 1° of longitude at 40°N
    ≈ 85.39 km, 1° of longitude on the equator ≈ 111.32 km. Haversine
    (sphere) differs from these by up to ~0.5%; Vincenty must be within
    50 m. Symmetry and zero-distance are exact."""
    import numpy as np

    from lakehouse_spain_mobility_spark.functions.geo import vincenty_km_np

    d_merid = float(vincenty_km_np(-3.7, 40.0, -3.7, 41.0))
    assert abs(d_merid - 111.04) < 0.05, d_merid
    d_lon40 = float(vincenty_km_np(-3.7, 40.0, -2.7, 40.0))
    assert abs(d_lon40 - 85.39) < 0.05, d_lon40
    d_equat = float(vincenty_km_np(0.0, 0.0, 1.0, 0.0))
    assert abs(d_equat - 111.32) < 0.05, d_equat
    # symmetry (to iteration roundoff) + identity
    fwd = float(vincenty_km_np(2.17, 41.39, -3.70, 40.42))
    rev = float(vincenty_km_np(-3.70, 40.42, 2.17, 41.39))
    assert abs(fwd - rev) / fwd < 1e-9
    assert float(vincenty_km_np(-3.7, 40.4, -3.7, 40.4)) == 0.0
    # vectorized batch agrees with scalars
    lons = np.array([-3.7, 2.17, -5.98]); lats = np.array([40.42, 41.39, 43.36])
    batch = vincenty_km_np(lons, lats, np.full(3, -0.88), np.full(3, 41.65))
    for i in range(3):
        assert batch[i] == float(
            vincenty_km_np(lons[i], lats[i], -0.88, 41.65)
        )


def test_geodesic_column_matches_numpy_and_haversine_tolerance(spark):
    """The pandas-UDF column form must equal the numpy kernel exactly, and
    sit within 0.5% of haversine on intra-Spain distances (the documented
    SURVEY §7.4 divergence band)."""
    from pyspark.sql import functions as F

    from lakehouse_spain_mobility_spark.functions.geo import (
        geodesic_km,
        haversine_km,
        vincenty_km_np,
    )

    pts = [  # (lon1, lat1, lon2, lat2) around Spain
        (-3.70, 40.42, 2.17, 41.39),
        (-5.98, 37.39, -0.88, 41.65),
        (-8.72, 42.24, 2.82, 41.98),
        (-3.70, 40.42, -3.69, 40.43),
    ]
    df = spark.createDataFrame(pts, "lon1 double, lat1 double, lon2 double, lat2 double")
    out = df.select(
        geodesic_km(F.col("lon1"), F.col("lat1"), F.col("lon2"), F.col("lat2")).alias("geo"),
        haversine_km(F.col("lon1"), F.col("lat1"), F.col("lon2"), F.col("lat2")).alias("hav"),
    ).collect()
    for row, (lon1, lat1, lon2, lat2) in zip(out, pts):
        assert row["geo"] == float(vincenty_km_np(lon1, lat1, lon2, lat2))
        assert abs(row["geo"] - row["hav"]) / row["hav"] < 0.005


def test_gravity_distances_spheroid_option(spark):
    """municipality_distances(spheroid=True) returns the same pair set with
    geodesic distances within 0.5% of the haversine run."""
    from pyspark.sql import functions as F

    from lakehouse_spain_mobility_spark.pipelines.gravity_bq import municipality_distances

    cent = spark.createDataFrame(
        [("28079", -3.70, 40.42), ("08019", 2.17, 41.39), ("41091", -5.98, 37.39)],
        "code string, lon double, lat double",
    )
    hav = {
        (r["origin_code"], r["dest_code"]): r["distance_km"]
        for r in municipality_distances(cent).collect()
    }
    geo = {
        (r["origin_code"], r["dest_code"]): r["distance_km"]
        for r in municipality_distances(cent, spheroid=True).collect()
    }
    assert set(hav) == set(geo) and len(geo) == 6
    for k in hav:
        assert abs(geo[k] - hav[k]) / hav[k] < 0.005


def test_dsum_rollup_guard_raises_past_double_exact_bound(spark):
    """ADVICE r3 (tpch.py Q11): re-rounding a dsum DOUBLE through
    ROUND(x*1e6) is exact only below 2^53 micro-units (~9.007e9). The
    guard must pass values inside the envelope untouched and raise loudly
    past it — never silently lose low bits."""
    import pytest
    from pyspark.sql import functions as F

    from lakehouse_spain_mobility_spark.functions.deterministic import (
        dsum_rollup_guard,
    )

    ok = spark.range(1).select(
        dsum_rollup_guard(F.lit(1.0e9)).alias("v"),
        dsum_rollup_guard(F.lit(None).cast("double")).alias("n"),
    ).collect()
    assert ok[0]["v"] == 1.0e9 and ok[0]["n"] is None
    with pytest.raises(Exception, match="rollup overflow"):
        spark.range(1).select(dsum_rollup_guard(F.lit(1.0e10)).alias("v")).collect()
