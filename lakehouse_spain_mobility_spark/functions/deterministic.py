"""Deterministic (order-independent, engine-portable) float aggregation.

Distributed SUM/AVG/STDDEV over DOUBLE are order-dependent in the last
ulps — Spark's shuffle-merge order differs run to run, and differs from a
single-threaded columnar engine. The reference's gold stats battery
(SUM/AVG/STDDEV_SAMP — ``dags/mitma/new_gold.py:33-45,68-78``) must however
hash-match a DuckDB oracle exactly.

Strategy: fixed-point aggregation. Per-row expressions stay DOUBLE (IEEE
ops are bit-identical across engines); at the aggregation boundary each
value is scaled by 1e6, rounded (both engines round the *same* exact
binary value half-away-from-zero), summed exactly as DECIMAL(38,0)
(associative — order can't change the result), and the closing scalar math
(unscale, avg division, variance, sqrt) runs in DOUBLE with an identical
expression tree on both engines. Each Spark helper has a SQL twin
(``sql_*``) generating the equivalent DuckDB text.

Two portability traps this design dodges (found empirically):
- double→DECIMAL(38,6) casts round differently between engines near ties;
  ROUND(x*1e6) into DECIMAL(38,0) agrees on every value tested.
- DECIMAL→DOUBLE casts can differ by 1 ulp beyond 15 significant digits
  (DuckDB's int128 path vs Java's BigDecimal); casting through a string is
  correctly rounded in both.

This costs a few % vs native double sums but buys bit-exact reproducibility
across partitionings — a 1000-executor run returns the same bytes as a
laptop run, a property worth keeping at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_SCALE = 1000000.0  # 6 fixed decimal places


def _dec2dbl(c: Column) -> Column:
    """DECIMAL -> DOUBLE via string (correctly rounded in both engines)."""
    return c.cast("string").cast("double")


_POW31 = 1 << 31
_MASK31 = _POW31 - 1

_LITS: dict[str, Column] = {}


def _lit(key: str, value) -> Column:
    """Cached ``F.lit`` columns: literal Column fragments are immutable
    plan nodes, so reusing one across expressions is safe and saves a
    py4j round-trip per use (expression-tree *construction* is a measured
    driver-side cost on the wide deterministic-agg trees — PERF.md)."""
    c = _LITS.get(key)
    if c is None:
        c = _LITS[key] = F.lit(value)
    return c


def _overflow_guard(total: Column, n: Column, mg: Column) -> Column:
    """Loud overflow detection for the long fast path: the guarded value
    is returned only while the group stays inside the provable-safe
    envelope (|m| < 2⁶², < 2³¹ rows/group, HI-sum headroom)."""
    ok = (n == 0) | (
        (mg >= 0)
        & (mg < _lit("b62", 1 << 62))
        & (n < _lit("p31", _POW31))
        & (((F.shiftright(mg, 31) + _lit("one", 1)).cast("double") * n) < _lit("b61f", float(1 << 61)))
    )
    return F.when(ok, total).otherwise(
        F.raise_error(
            _lit(
                "ovmsg",
                "dsum overflow: group exceeds the long fast-path envelope "
                "(|x·1e6| < 2^62, < 2^31 rows/group); use the DECIMAL(38,0) "
                "slow path for this column",
            )
        )
    )


def _scaled_sum(col: Column) -> Column:
    """Exact fixed-point sum: ROUND(x·1e6) summed exactly — long fast path.

    The round-2 implementation summed DECIMAL(38,0) per row; the decimal
    accumulator (BigDecimal adds outside codegen) cost a measured 3-6× on
    aggregate-heavy stages (PERF.md: tpch_q1 0.32 s plain-double vs 2.1 s
    decimal). This keeps the exact-integer semantics while staying in
    whole-stage-codegen long arithmetic:

      m  = CAST(ROUND(x·1e6) AS BIGINT)            -- exact integer micros
      m  = (m >> 31)·2³¹ + (m & (2³¹-1))           -- linear split (floor
                                                      shift keeps the low
                                                      part in [0, 2³¹))
      Σm = ΣHI·2³¹ + ΣLO                           -- recombined once per
                                                      group in DECIMAL(38,0)

    Both partial sums are plain BIGINT adds; the single per-group decimal
    multiply-add replaces millions of per-row BigDecimal adds. The result
    is the *same exact integer* the decimal sum produced, so the DuckDB
    twin (``_sql_scaled_sum`` — DuckDB's int128 decimal sum is natively
    fast) still hash-matches bit for bit.

    Overflow is detected, never silent: the guard below raises when a
    group leaves the provable-safe envelope (|m| < 2⁶², < 2³¹ rows per
    group, and HI-sum headroom (max|m|>>31 + 1)·n < 2⁶¹ — at 1e9-unit
    values that is ~10¹² rows per group before it trips). Past the
    envelope, rebuild with the decimal form (swap this body for
    ``F.sum(m.cast("decimal(38,0)"))``) — correctness degrades loudly to
    a slower plan, not to wrong bytes.
    """
    m = F.round(col * _lit("scale", _SCALE)).cast("bigint")
    total = (
        F.sum(F.shiftright(m, 31)).cast("decimal(38,0)") * _lit("p31", _POW31)
        + F.sum(m.bitwiseAND(_lit("mask31", _MASK31))).cast("decimal(38,0)")
    )
    return _overflow_guard(total, F.count(m), F.max(F.abs(m)))


_B53F = float(1 << 53)


def dsum_rollup_guard(col: Column) -> Column:
    """Exactness guard for re-aggregating a :func:`dsum` output.

    A dsum result is a DOUBLE; feeding it back through another fixed-point
    round-trip (``ROUND(x·1e6)`` in :func:`dsum_over`/:func:`micro`) is
    exact only while the group's micro sum is double-representable —
    |x|·1e6 < 2⁵³ (~9e9 currency units per group). The long-path
    ``_overflow_guard`` only trips near 2⁶²; past 2⁵³ the round-trip
    would silently lose low bits. Wrap the re-aggregated column so the
    query degrades loudly instead (the module invariant)."""
    ok = col.isNull() | (F.abs(col) * _lit("scale", _SCALE) < _lit("b53f", _B53F))
    return F.when(ok, col).otherwise(
        F.raise_error(
            _lit(
                "rollupmsg",
                "dsum rollup overflow: |group sum|*1e6 >= 2^53 is not "
                "double-exact; keep the DECIMAL(38,0) total instead of "
                "re-rounding through DOUBLE",
            )
        )
    )


def dsum_over(col: Column, w) -> Column:
    """Window twin of :func:`dsum`: order-independent SUM(double) OVER w.

    Same hi/lo long split as :func:`_scaled_sum` with each partial applied
    ``.over(w)`` — window frames share one sort, so the extra long buffers
    are marginal while the per-row BigDecimal adds disappear."""
    m = F.round(col * _lit("scale", _SCALE)).cast("bigint")
    total = (
        F.sum(F.shiftright(m, 31)).over(w).cast("decimal(38,0)") * _lit("p31", _POW31)
        + F.sum(m.bitwiseAND(_lit("mask31", _MASK31))).over(w).cast("decimal(38,0)")
    )
    guarded = _overflow_guard(total, F.count(m).over(w), F.max(F.abs(m)).over(w))
    return _dec2dbl(guarded) / _lit("scale", _SCALE)


def _sql_scaled_sum(expr: str) -> str:
    return f"SUM(CAST(ROUND(({expr}) * 1000000.0) AS DECIMAL(38,0)))"


def dsum(col: Column) -> Column:
    """Order-independent SUM(double) -> double."""
    return _dec2dbl(_scaled_sum(col)) / F.lit(_SCALE)


def sql_dsum(expr: str) -> str:
    return f"(CAST(CAST({_sql_scaled_sum(expr)} AS VARCHAR) AS DOUBLE) / 1000000.0)"


def davg(col: Column) -> Column:
    """Order-independent AVG(double) -> double."""
    return dsum(col) / F.count(col)


def sql_davg(expr: str) -> str:
    return f"({sql_dsum(expr)} / COUNT({expr}))"


def micro(col: Column) -> Column:
    """DOUBLE -> exact integer micro-units: CAST(ROUND(x*1e6) AS BIGINT).

    Output-boundary armor: a DOUBLE result column is hash-fragile across
    oracle engine versions (float repr / normalization deltas outside our
    control), while two BIGINTs computed from the same exact binary double
    cannot disagree. Use for every ratio/score/duration output column."""
    return F.round(col * F.lit(_SCALE)).cast("bigint")


def sql_micro(expr: str) -> str:
    """DuckDB twin of :func:`micro`."""
    return f"CAST(ROUND(({expr}) * 1000000.0) AS BIGINT)"


def dstddev_samp(col: Column) -> Column:
    """Order-independent sample stddev; NULL for n<=1 (DuckDB semantics).

    var = (sum(x²) - sum(x)²/n) / (n-1), both sums fixed-point-exact, the
    closing arithmetic in DOUBLE with the same expression shape as the SQL
    twin so every IEEE operation matches bit-for-bit.
    """
    n = F.count(col)
    s1 = dsum(col)
    s2 = dsum(col * col)
    var = (s2 - s1 * s1 / n) / (n - F.lit(1))
    return F.when(n > 1, F.sqrt(F.greatest(var, F.lit(0.0)))).otherwise(F.lit(None).cast("double"))


def sql_dstddev_samp(expr: str) -> str:
    s1 = sql_dsum(expr)
    s2 = sql_dsum(f"({expr}) * ({expr})")
    n = f"COUNT({expr})"
    var = f"(({s2} - {s1} * {s1} / {n}) / ({n} - 1))"
    return f"(CASE WHEN {n} > 1 THEN SQRT(GREATEST({var}, 0.0)) ELSE NULL END)"


# --- Spark-dialect SQL-text twins --------------------------------------------
# Each Column helper above costs ~25-40 py4j round-trips to build its
# expression tree; on agg-heavy queries the driver-side tree construction
# is a measured ~50% of bench wall-clock at sf0.1 (PERF.md round 3). These
# generate the SAME expression as Spark SQL text, built with ONE F.expr
# call. Value semantics are identical (the parser produces the same plan
# nodes); the DuckDB oracle twins (sql_*) are unchanged. Use these in hot
# query builders whenever the input is expressible as SQL text.


def _spark_split_sum(expr: str) -> str:
    m = f"CAST(ROUND(({expr}) * 1000000.0) AS BIGINT)"
    hi = f"SUM(SHIFTRIGHT({m}, 31))"
    lo = f"SUM({m} & {_MASK31})"
    n = f"COUNT({m})"
    mg = f"MAX(ABS({m}))"
    total = f"(CAST({hi} AS DECIMAL(38,0)) * {_POW31} + CAST({lo} AS DECIMAL(38,0)))"
    ok = (
        f"({n} = 0) OR ({mg} >= 0 AND {mg} < {1 << 62} AND {n} < {_POW31} "
        f"AND (CAST(SHIFTRIGHT({mg}, 31) + 1 AS DOUBLE) * {n}) < CAST({float(1 << 61)} AS DOUBLE))"
    )
    return (
        f"(CASE WHEN {ok} THEN {total} "
        f"ELSE RAISE_ERROR('dsum overflow: long fast-path envelope exceeded') END)"
    )


def spark_dsum(expr: str) -> str:
    """Spark-SQL text of :func:`dsum` (same guarded hi/lo long split)."""
    return f"(CAST(CAST({_spark_split_sum(expr)} AS STRING) AS DOUBLE) / 1000000.0)"


def spark_davg(expr: str) -> str:
    return f"({spark_dsum(expr)} / COUNT({expr}))"


def spark_dstddev_samp(expr: str) -> str:
    s1 = spark_dsum(expr)
    s2 = spark_dsum(f"({expr}) * ({expr})")
    n = f"COUNT({expr})"
    var = f"(({s2} - {s1} * {s1} / {n}) / ({n} - 1))"
    return f"(CASE WHEN {n} > 1 THEN SQRT(GREATEST({var}, CAST(0.0 AS DOUBLE))) ELSE CAST(NULL AS DOUBLE) END)"


def spark_dstddev_samp0(expr: str) -> str:
    return f"COALESCE({spark_dstddev_samp(expr)}, CAST(0.0 AS DOUBLE))"


# --- weighted (pre-aggregated) twins ------------------------------------------
# Exact re-aggregation over a count-compressed cube: a fact where value v
# appears cnt times contributes round(v·1e6)·cnt to the fixed-point total —
# the hi/lo split is linear (m·c = (m>>31)·c·2³¹ + (m&mask)·c in plain
# integer arithmetic), so the weighted sums recombine to the *same exact
# integer* the row-level dsum produces, and every closing DOUBLE op keeps
# the identical expression shape. The overflow envelope is the row-level
# one evaluated at the EXPANDED row count n = Σcnt (same guard semantics;
# the weighted partials stay inside long range whenever the guard passes:
# |hi| <= (mg>>31+1)·n < 2⁶¹ and lo < 2³¹·n < 2⁶²). Precondition: cnt >= 1.
# NULL values carry zero weight (mirrors COUNT/SUM null-skipping).


def _spark_wsplit_sum(expr: str, cnt: str) -> str:
    m = f"CAST(ROUND(({expr}) * 1000000.0) AS BIGINT)"
    hi = f"SUM(SHIFTRIGHT({m}, 31) * ({cnt}))"
    lo = f"SUM(({m} & {_MASK31}) * ({cnt}))"
    n = spark_wcount(expr, cnt)
    mg = f"MAX(ABS({m}))"
    total = f"(CAST({hi} AS DECIMAL(38,0)) * {_POW31} + CAST({lo} AS DECIMAL(38,0)))"
    ok = (
        f"({n} = 0) OR ({mg} >= 0 AND {mg} < {1 << 62} AND {n} < {_POW31} "
        f"AND (CAST(SHIFTRIGHT({mg}, 31) + 1 AS DOUBLE) * {n}) < CAST({float(1 << 61)} AS DOUBLE))"
    )
    return (
        f"(CASE WHEN {ok} THEN {total} "
        f"ELSE RAISE_ERROR('dsum overflow: long fast-path envelope exceeded') END)"
    )


def spark_wcount(expr: str, cnt: str) -> str:
    """Weighted COUNT twin: expanded non-null row count Σcnt."""
    return f"COALESCE(SUM(IF(({expr}) IS NULL, 0L, ({cnt}))), 0L)"


def spark_wdsum(expr: str, cnt: str) -> str:
    """Weighted :func:`spark_dsum`: exact fixed-point SUM over a
    (value, cnt) cube — bit-identical to the row-level sum."""
    return f"(CAST(CAST({_spark_wsplit_sum(expr, cnt)} AS STRING) AS DOUBLE) / 1000000.0)"


def spark_wdavg(expr: str, cnt: str) -> str:
    return f"({spark_wdsum(expr, cnt)} / {spark_wcount(expr, cnt)})"


def spark_wdstddev_samp(expr: str, cnt: str) -> str:
    s1 = spark_wdsum(expr, cnt)
    s2 = spark_wdsum(f"({expr}) * ({expr})", cnt)
    n = spark_wcount(expr, cnt)
    var = f"(({s2} - {s1} * {s1} / {n}) / ({n} - 1))"
    return (
        f"(CASE WHEN {n} > 1 THEN SQRT(GREATEST({var}, CAST(0.0 AS DOUBLE))) "
        f"ELSE CAST(NULL AS DOUBLE) END)"
    )


def spark_wdstddev_samp0(expr: str, cnt: str) -> str:
    return f"COALESCE({spark_wdstddev_samp(expr, cnt)}, CAST(0.0 AS DOUBLE))"


def xdsum(expr: str) -> Column:
    """One-py4j-call Column form of ``dsum`` for SQL-text inputs."""
    return F.expr(spark_dsum(expr))


def xdavg(expr: str) -> Column:
    return F.expr(spark_davg(expr))


def xdstddev_samp0(expr: str) -> Column:
    return F.expr(spark_dstddev_samp0(expr))


def _spark_split_sum_over(expr: str, over: str) -> str:
    """Window form of :func:`_spark_split_sum`: every partial aggregate
    carries the OVER clause (one shared frame sort)."""
    m = f"CAST(ROUND(({expr}) * 1000000.0) AS BIGINT)"
    hi = f"SUM(SHIFTRIGHT({m}, 31)) {over}"
    lo = f"SUM({m} & {_MASK31}) {over}"
    n = f"COUNT({m}) {over}"
    mg = f"MAX(ABS({m})) {over}"
    total = f"(CAST({hi} AS DECIMAL(38,0)) * {_POW31} + CAST({lo} AS DECIMAL(38,0)))"
    ok = (
        f"({n} = 0) OR ({mg} >= 0 AND {mg} < {1 << 62} AND {n} < {_POW31} "
        f"AND (CAST(SHIFTRIGHT({mg}, 31) + 1 AS DOUBLE) * {n}) < CAST({float(1 << 61)} AS DOUBLE))"
    )
    return (
        f"(CASE WHEN {ok} THEN {total} "
        f"ELSE RAISE_ERROR('dsum overflow: long fast-path envelope exceeded') END)"
    )


def spark_dsum_over(expr: str, partition_by: str) -> str:
    """Spark-SQL text of :func:`dsum_over` with ``OVER (PARTITION BY ...)``."""
    over = f"OVER (PARTITION BY {partition_by})"
    return (
        f"(CAST(CAST({_spark_split_sum_over(expr, over)} AS STRING) AS DOUBLE) / 1000000.0)"
    )


def dstddev_samp0(col: Column) -> Column:
    """COALESCE(stddev_samp, 0) — the reference's σ=0-for-singletons
    convention (``dags/mitma/new_gold.py:75``)."""
    return F.coalesce(dstddev_samp(col), F.lit(0.0))


def sql_dstddev_samp0(expr: str) -> str:
    return f"COALESCE({sql_dstddev_samp(expr)}, 0.0)"
