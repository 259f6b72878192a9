"""Testdata table access for query builders.

Loads ``<sf_dir>/<name>.parquet`` lazily; scans stay declarative so
Catalyst pushes filters/column pruning into the parquet reader.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def ensure_read_convention(spark: SparkSession) -> None:
    """Pin the engine's session-level read conventions, idempotently.

    ``build_session`` already sets these at construction; this helper exists
    for foreign sessions (the external driver builds its own). They are
    deliberately NOT save/restored around individual queries: Spark reads
    conf at *execution* time of a lazy plan (and at every micro-batch of a
    stream), so restoring after a query function returns would silently
    re-plan the still-uncollected DataFrame under the old semantics. Both
    values are engine-wide conventions, constant for the session:

    - UTC session timezone — oracle parity (DuckDB timestamps are naive; a
      non-UTC session TZ shifts ``to_date()``/``hour()``),
    - ``nanosAsLong`` — TIMESTAMP(NANOS) parquet (the testdata ``events``
      table) reads as long + explicit µs truncation instead of erroring;
      every reader in this engine wants exactly that, and files without the
      NANOS annotation are unaffected.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")


def parquet_num_rows(sf_dir: str, name: str) -> int | None:
    """Table row count from parquet FOOTER METADATA only — no Spark job,
    no data read. Used for scale-adaptive plan choices (shared-subtree
    checkpoint vs inline recompute, broadcast gates). Returns None when
    the footprint is unreadable so callers can default to the scale-safe
    branch."""
    import glob as _glob
    import os as _os

    import pyarrow.parquet as _pq

    path = _os.path.join(sf_dir, f"{name}.parquet")
    files = (
        sorted(_glob.glob(_os.path.join(path, "*.parquet")))
        if _os.path.isdir(path)
        else [path]
    )
    total = 0
    for f in files:
        try:
            total += _pq.ParquetFile(f).metadata.num_rows
        except (OSError, ValueError):  # ValueError: pyarrow ArrowInvalid
            return None
    return total


def spread(df: DataFrame, spark: SparkSession) -> DataFrame:
    """Repartition a scan that underuses the cluster; no-op otherwise.

    Parquet scans split at row-group boundaries, so a few-file table caps
    the MAP side — tokenize/explode/partial-aggregation pipelines — at a
    handful of tasks no matter how many cores exist (the measured residue
    behind several 2-4×-at-sf10 ratios: the reduce side showed 32 tasks
    while the scan ran ONE). The repartition exchange moves only the
    compact pre-explode rows (~2% of the token stream they expand into);
    on a production corpus with thousands of files the condition is false
    and the plan is untouched, so fact relations still never pay an
    unconditional exchange.
    """
    p = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() * 2 <= p:
        return df.repartition(p)
    return df


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLE_NAMES:
        raise KeyError(name)
    ensure_read_convention(spark)
    if name == "events":
        return load_events(spark, sf_dir)
    return _normalize_ntz(spark.read.parquet(f"{sf_dir}/{name}.parquet"))


def _normalize_ntz(df: DataFrame) -> DataFrame:
    """Cast any TIMESTAMP_NTZ column to TIMESTAMP (LTZ).

    Parquet written without ``isAdjustedToUTC`` reads as TIMESTAMP_NTZ under
    Spark 4's default inference, and NTZ is rejected by ``unix_micros`` and
    friends. With the session TZ pinned UTC the cast is wall-clock-preserving
    and yields the same epoch micros DuckDB's naive-timestamp ``epoch_us``
    returns, so parity is unaffected whichever annotation the data carries.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ntz_cols = [f.name for f in df.schema.fields
                if isinstance(f.dataType, T.TimestampNTZType)]
    for c in ntz_cols:
        df = df.withColumn(c, F.col(c).cast(T.TimestampType()))
    return df


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.parquet stores ``ts`` as TIMESTAMP(NANOS), which Spark's
    vectorized reader rejects. Read nanos as LongType
    (``spark.sql.legacy.parquet.nanosAsLong``) and truncate to microseconds
    — exactly what DuckDB's reader does (its TIMESTAMP is µs)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    ensure_read_convention(spark)
    df = spark.read.parquet(f"{sf_dir}/events.parquet")
    # nanosAsLong only fires on TIMESTAMP(NANOS) files; a re-staged copy
    # (tests, downstream tables) already reads as a real timestamp and
    # must pass through untouched.
    if isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return _normalize_ntz(df)
