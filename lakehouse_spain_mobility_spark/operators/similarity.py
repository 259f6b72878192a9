"""Similarity search over embedding columns (array<float>).

Deterministic cosine: elements cast to DOUBLE, multiplied pairwise, then
left-folded in index order — Spark's ``aggregate`` and DuckDB's
``list_reduce`` both fold sequentially left-to-right, and ``0.0 + x = x``
exactly, so the two engines produce bit-identical sums without any
fixed-point machinery.

Scale design: brute-force top-k is the correctness baseline (a cross join
— O(n·q)); the LSH path buckets vectors by sign-bit prefix so the join is
bucket-local. For real 100 TB corpora swap the 8-bit sign prefix for more
planes and a multi-probe scheme; the relational shape is identical.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def sql_dot(a: str, b: str) -> str:
    prods = f"list_transform(list_zip({a}, {b}), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE))"
    return f"list_reduce({prods}, (acc, x) -> acc + x)"


def norm2(a: Column) -> Column:
    sq = F.transform(a, lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x))


def sql_norm2(a: str) -> str:
    sq = f"list_transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))"
    return f"SQRT(list_reduce({sq}, (acc, x) -> acc + x))"


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm2(a) * norm2(b))


def sql_cosine(a: str, b: str) -> str:
    return f"({sql_dot(a, b)} / ({sql_norm2(a)} * {sql_norm2(b)}))"


def dot_unrolled(a: Column, b: Column, dim: int) -> Column:
    """Dot product as an unrolled left-associated addition chain.

    Bit-identical to the sequential fold (``((p1+p2)+p3)+…`` is the same
    IEEE evaluation order), but a flat expression tree compiles under
    whole-stage codegen — ~20× faster than the interpreted higher-order
    ``aggregate`` on large cross joins.
    """
    expr = F.element_at(a, 1).cast("double") * F.element_at(b, 1).cast("double")
    for i in range(2, dim + 1):
        expr = expr + F.element_at(a, i).cast("double") * F.element_at(b, i).cast("double")
    return expr


def norm2_unrolled(a: Column, dim: int) -> Column:
    expr = F.element_at(a, 1).cast("double") * F.element_at(a, 1).cast("double")
    for i in range(2, dim + 1):
        expr = expr + F.element_at(a, i).cast("double") * F.element_at(a, i).cast("double")
    return F.sqrt(expr)


@lru_cache(maxsize=64)
def _dot_unrolled_sql(a: str, b: str, dim: int) -> str:
    return " + ".join(
        f"(CAST(element_at({a}, {i}) AS DOUBLE) * CAST(element_at({b}, {i}) AS DOUBLE))"
        for i in range(1, dim + 1)
    )


def dot_unrolled_expr(a: str, b: str, dim: int) -> Column:
    """Text-built twin of :func:`dot_unrolled` for NAMED columns.

    Parses to the identical left-associated tree (same IEEE evaluation
    order — bit-equal results, same generated code), but costs ONE py4j
    call instead of ~6·dim: per-build Column construction of the 64-term
    chains was a measured ~1.5 s of the bitext fresh-build driver time
    (VERDICT r8 #3 / PERF.md round 9). The MEMOIZED part is the SQL
    text (pure Python — the expensive string build); the F.expr parse
    is ONE gateway call per use, re-done per call so no cached Column
    ever holds a py4j handle into a stopped-and-restarted JVM
    (ADVICE r9 #2).
    """
    return F.expr(_dot_unrolled_sql(a, b, dim))


@lru_cache(maxsize=64)
def _norm2_unrolled_sql(a: str, dim: int) -> str:
    return " + ".join(
        f"(CAST(element_at({a}, {i}) AS DOUBLE) * CAST(element_at({a}, {i}) AS DOUBLE))"
        for i in range(1, dim + 1)
    )


def norm2_unrolled_expr(a: str, dim: int) -> Column:
    """Text-built twin of :func:`norm2_unrolled` (see
    :func:`dot_unrolled_expr` for the text-not-Column memoization)."""
    return F.sqrt(F.expr(_norm2_unrolled_sql(a, dim)))


def knn_bruteforce(
    queries: DataFrame,  # id, embedding
    corpus: DataFrame,  # id, embedding
    k: int = 5,
    dim: int = 64,
) -> DataFrame:
    """Exact top-k neighbors per query by cosine (ties broken by neighbor
    id for determinism). Cross join — the correctness baseline. Norms are
    precomputed per vector so the per-pair work is one codegen'd dot."""
    q = queries.select(
        F.col("id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        norm2_unrolled(F.col("embedding"), dim).alias("q_norm"),
    )
    c = corpus.select(
        F.col("id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        norm2_unrolled(F.col("embedding"), dim).alias("c_norm"),
    )
    pairs = q.crossJoin(c).filter(F.col("query_id") != F.col("neighbor_id"))
    # Fold-form cosine: for modest pair counts the interpreted fold beats
    # the unrolled chain (which pays ~2s of codegen compilation).
    scored = pairs.select(
        "query_id",
        "neighbor_id",
        (dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm"))).alias("cosine"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


# Broadcast guard: an embedding table is a *dimension* table until it stops
# fitting in executor/driver memory. 500k rows × 64 dims × 8 B ≈ 256 MB —
# past that the collect()+broadcast kernels would OOM the driver, so they
# route to the LSH-bucketed path instead (checked with limit(n+1).count(),
# never a full count of an oversized corpus).
MAX_BROADCAST_ROWS = 500_000


def _over_broadcast_cap(df: DataFrame, max_rows: int) -> bool:
    return df.limit(max_rows + 1).count() > max_rows


# The all-PAIRS kernel is O(n²·d) compute (not just n·d memory like the
# query-vs-corpus form), so its exact-path cap is tighter than the plain
# broadcast cap: 50k rows ≈ 1.6e11 FLOP spread over the cluster, past
# which the LSH-bucketed path is the only sane plan.
MAX_PAIRS_EXACT_ROWS = 50_000


def topk_pairs_broadcast_numpy(
    vectors: DataFrame,  # id, embedding
    k: int = 20,
    per_row_k: int = 30,
    max_broadcast_rows: int = MAX_PAIRS_EXACT_ROWS,
) -> DataFrame:
    """Global top-k most-similar pairs via broadcast brute force.

    The corpus matrix is broadcast to every task (an embedding table is a
    *dimension* table until it stops fitting in executor memory — then the
    LSH/IVF path takes over); each Arrow batch of vectors scores against
    the whole matrix with a numpy kernel. The kernel accumulates the dot
    product **dimension-sequentially** (``acc += a[:,d] * m[:,d]``): each
    pair's sum is evaluated in exactly the fold order the DuckDB oracle's
    ``list_reduce`` uses, so results stay bit-identical while being
    vectorized across pairs (~50× faster than per-pair expression eval).

    Each row emits only neighbors with a larger id (pair-once semantics)
    and keeps its local top ``per_row_k``; a global top-k pair is always
    within its smaller endpoint's local top-k, so the final
    orderBy-limit(k) over the union is exact.
    """
    import numpy as np
    import pandas as pd

    if _over_broadcast_cap(vectors, max_broadcast_rows):
        return (
            ann_lsh_pairs(vectors)
            .select("v1", "v2", "cosine")
            .orderBy(F.desc("cosine"), "v1", "v2")
            .limit(k)
        )

    spark = vectors.sparkSession
    rows = vectors.select("id", "embedding").collect()
    ids = np.array([r["id"] for r in rows], dtype=np.int64)
    order = np.argsort(ids)
    ids = ids[order]
    mat = np.array([rows[i]["embedding"] for i in order], dtype=np.float64)
    dim = mat.shape[1]

    def _seq_dot(a: "np.ndarray", b: "np.ndarray") -> "np.ndarray":
        # Blocked dimension-sequential fold. Each output element still
        # accumulates dims 0..d-1 in exactly the oracle's list_reduce
        # order (bit-identical values); the blocking only bounds the
        # working set. The naive full-matrix form allocated a
        # len(a)×len(b) temporary PER DIMENSION (64 × 1.6 GB of traffic
        # at 10k×20k — measured minutes-per-batch at sf1); 512×4096
        # blocks keep acc + temp L3-resident, making the kernel
        # compute-bound again.
        # Pre-transposed contiguous copies: the d-th dimension slice is a
        # dense vector instead of a stride-d·8 gather (measured 2.7×).
        at = np.ascontiguousarray(a.T)
        bt = np.ascontiguousarray(b.T)
        out = np.empty((a.shape[0], b.shape[0]), dtype=np.float64)
        for i0 in range(0, a.shape[0], 512):
            for j0 in range(0, b.shape[0], 4096):
                av = at[:, i0 : i0 + 512]
                bv = bt[:, j0 : j0 + 4096]
                acc = av[0][:, None] * bv[0][None, :]
                for d in range(1, a.shape[1]):
                    acc += av[d][:, None] * bv[d][None, :]
                out[i0 : i0 + 512, j0 : j0 + 4096] = acc
        return out

    def _seq_sqnorm(m: "np.ndarray") -> "np.ndarray":
        acc = m[:, 0] * m[:, 0]
        for d in range(1, m.shape[1]):
            acc += m[:, d] * m[:, d]
        return acc

    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat)

    def kernel(batches):
        all_ids = b_ids.value
        all_mat = b_mat.value
        all_norm = np.sqrt(_seq_sqnorm(all_mat))
        for pdf in batches:
            q_ids = pdf["id"].to_numpy(dtype=np.int64)
            q = np.array([np.asarray(e, dtype=np.float64) for e in pdf["embedding"]])
            q_norm = np.sqrt(_seq_sqnorm(q))
            # Row-chunked score + vectorized pair-once top-k: mask j<=i
            # pairs to -inf, one argpartition along axis 1 per chunk (the
            # per-row Python loop was ~10 s at 20k rows). 512-row chunks
            # bound every temporary to ~80 MB at a 20k corpus. Kept
            # cosines are untouched values — selection only.
            n_corpus = all_ids.shape[0]
            take = min(per_row_k, n_corpus - 1) if n_corpus > 1 else 0
            if take <= 0:
                yield pd.DataFrame({"v1": [], "v2": [], "cosine": []})
                continue
            frames = []
            for i0 in range(0, len(q_ids), 512):
                qc, qn, qi = q[i0 : i0 + 512], q_norm[i0 : i0 + 512], q_ids[i0 : i0 + 512]
                cos = _seq_dot(qc, all_mat) / (qn[:, None] * all_norm[None, :])
                np.copyto(cos, -np.inf, where=all_ids[None, :] <= qi[:, None])
                # partition for the LARGEST `take` (no negated copy of cos)
                idx = np.argpartition(cos, cos.shape[1] - take, axis=1)[:, cos.shape[1] - take :]
                sel_cos = np.take_along_axis(cos, idx, axis=1)
                keep = np.isfinite(sel_cos)
                rows = np.repeat(qi[:, None], take, axis=1)
                frames.append(
                    pd.DataFrame(
                        {"v1": rows[keep], "v2": all_ids[idx][keep], "cosine": sel_cos[keep]}
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    # Spread the O(|rows| × |corpus|) scoring across the cluster: the
    # scan of a small vector table often arrives as 1-2 partitions, which
    # would serialize the kernel on one core.
    par = spark.sparkContext.defaultParallelism
    cand = (
        vectors.select("id", "embedding")
        .repartition(par)
        .mapInPandas(kernel, schema="v1 long, v2 long, cosine double")
    )
    return cand.orderBy(F.desc("cosine"), "v1", "v2").limit(k)


def knn_lsh(
    queries: DataFrame,  # id, embedding
    corpus: DataFrame,  # id, embedding
    k: int = 5,
    n_bits: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Approximate per-query top-k via sign-LSH bucket join: the fallback
    when the corpus is too large to broadcast — shuffles on bucket, scores
    exact cosine inside each bucket, same output schema and tie-break as
    :func:`knn_broadcast_numpy`."""
    q = queries.select(
        F.col("id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        sign_bucket(F.col("embedding"), n_bits).alias("bucket"),
        norm2_unrolled(F.col("embedding"), dim).alias("q_norm"),
    )
    c = corpus.select(
        F.col("id").alias("neighbor_id"),
        F.col("embedding").alias("c_emb"),
        sign_bucket(F.col("embedding"), n_bits).alias("bucket"),
        norm2_unrolled(F.col("embedding"), dim).alias("c_norm"),
    )
    scored = (
        q.join(c, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            (dot(F.col("q_emb"), F.col("c_emb")) / (F.col("q_norm") * F.col("c_norm"))).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def knn_broadcast_numpy(
    queries: DataFrame,  # id, embedding
    corpus: DataFrame,  # id, embedding
    k: int = 5,
    max_broadcast_rows: int = MAX_BROADCAST_ROWS,
) -> DataFrame:
    """Exact top-k neighbors via the broadcast-numpy kernel (same
    dimension-sequential accumulation as :func:`topk_pairs_broadcast_numpy`,
    so scores are bit-identical to the relational/oracle form). Tie-break:
    (cosine desc, neighbor_id asc) — matches ROW_NUMBER ordering."""
    import numpy as np
    import pandas as pd

    if _over_broadcast_cap(corpus, max_broadcast_rows):
        return knn_lsh(queries, corpus, k=k)

    spark = corpus.sparkSession
    rows = corpus.select("id", "embedding").collect()
    ids = np.array([r["id"] for r in rows], dtype=np.int64)
    order = np.argsort(ids)
    ids = ids[order]
    mat = np.array([rows[i]["embedding"] for i in order], dtype=np.float64)

    def _seq_dot(a, b):
        acc = a[:, 0][:, None] * b[:, 0][None, :]
        for d in range(1, a.shape[1]):
            acc += a[:, d][:, None] * b[:, d][None, :]
        return acc

    def _seq_sqnorm(m):
        acc = m[:, 0] * m[:, 0]
        for d in range(1, m.shape[1]):
            acc += m[:, d] * m[:, d]
        return acc

    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat)

    def kernel(batches):
        all_ids = b_ids.value
        all_mat = b_mat.value
        all_norm = np.sqrt(_seq_sqnorm(all_mat))
        for pdf in batches:
            q_ids = pdf["id"].to_numpy(dtype=np.int64)
            q = np.array([np.asarray(e, dtype=np.float64) for e in pdf["embedding"]])
            cos = _seq_dot(q, all_mat) / (np.sqrt(_seq_sqnorm(q))[:, None] * all_norm[None, :])
            out = {"query_id": [], "neighbor_id": [], "cosine": [], "rank": []}
            for i in range(len(q_ids)):
                mask = all_ids != q_ids[i]
                cand_ids = all_ids[mask]
                cand_cos = cos[i, mask]
                # full sort by (cosine desc, id asc): lexsort, last key primary
                sel = np.lexsort((cand_ids, -cand_cos))[:k]
                out["query_id"].extend([q_ids[i]] * len(sel))
                out["neighbor_id"].extend(cand_ids[sel].tolist())
                out["cosine"].extend(cand_cos[sel].tolist())
                out["rank"].extend(range(1, len(sel) + 1))
            yield pd.DataFrame(out)

    return queries.select("id", "embedding").mapInPandas(
        kernel, schema="query_id long, neighbor_id long, cosine double, rank int"
    )


def sign_bucket(a: Column, n_bits: int = 8) -> Column:
    """Axis-aligned LSH: concatenated sign bits of the first n dims."""
    bits = [
        F.when(F.element_at(a, i + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(n_bits)
    ]
    return F.concat(*bits)


def sql_sign_bucket(a: str, n_bits: int = 8) -> str:
    bits = " || ".join(
        f"(CASE WHEN ({a})[{i + 1}] >= 0 THEN '1' ELSE '0' END)" for i in range(n_bits)
    )
    return f"({bits})"


def ann_lsh_pairs(vectors: DataFrame, n_bits: int = 8, dim: int = 64) -> DataFrame:
    """Bucket-local candidate pairs with exact cosine re-scoring: the
    scale path — the join shuffles on bucket, never all-pairs."""
    withb = vectors.select(
        F.col("id"),
        F.col("embedding"),
        sign_bucket(F.col("embedding"), n_bits).alias("bucket"),
        norm2_unrolled(F.col("embedding"), dim).alias("norm"),
    )
    a = withb.select(
        F.col("id").alias("v1"), F.col("embedding").alias("e1"), F.col("norm").alias("n1"), "bucket"
    )
    b = withb.select(
        F.col("id").alias("v2"), F.col("embedding").alias("e2"), F.col("norm").alias("n2"), "bucket"
    )
    return (
        a.join(b, "bucket")
        .filter(F.col("v1") < F.col("v2"))
        .select(
            "bucket",
            "v1",
            "v2",
            (dot(F.col("e1"), F.col("e2")) / (F.col("n1") * F.col("n2"))).alias("cosine"),
        )
    )


def sign_band_bucket(a: Column, band: int, n_bits: int = 4) -> Column:
    """One band of a multi-table sign LSH: the sign bits of dims
    [band*n_bits, band*n_bits + n_bits). B independent small tables
    trade precision for recall — a neighbor is a candidate if it
    collides in ANY band (same banding idea as MinHash LSH)."""
    lo = band * n_bits
    bits = [
        F.when(F.element_at(a, lo + i + 1) >= 0, F.lit("1")).otherwise(F.lit("0"))
        for i in range(n_bits)
    ]
    return F.concat(*bits)


def sql_sign_band_bucket(a: str, band: int, n_bits: int = 4) -> str:
    lo = band * n_bits
    bits = " || ".join(
        f"(CASE WHEN ({a})[{lo + i + 1}] >= 0 THEN '1' ELSE '0' END)" for i in range(n_bits)
    )
    return f"({bits})"
