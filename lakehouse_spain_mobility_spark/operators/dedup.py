"""Deduplication operators for training-data pipelines: exact (hash),
n-gram Jaccard, MinHash+LSH banding, SimHash.

All pure column expressions / relational composition — no UDFs. The hash
family is md5-based (identical across engines, so every operator is
oracle-checkable; at 100 TB you'd swap in xxhash64 for speed — the
structure is unchanged).

Scale design:
- shingle explosion is linear in corpus token count; the shingle→doc join
  is the classic MinHash/LSH candidate-generation shuffle, bounded by
  band-bucket sizes rather than O(n²);
- the full pairwise Jaccard operator exists as the verification step over
  LSH candidates (and as an oracle for small data);
- SimHash reduces each doc to a 32-bit int; the pair scan uses
  bit_count(xor) which stays in codegen.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import text_analysis as ta

HEX = "0123456789abcdef"


# --- shingling --------------------------------------------------------------
def shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    extra: tuple[str, ...] = (),
) -> DataFrame:
    """Distinct word-k-gram shingles per document: (doc_id, shingle),
    plus any ``extra`` passthrough columns of ``df`` (constant per doc —
    carrying them through the explode is free and saves the join-back a
    consumer would otherwise pay).

    Precondition: ``id_col`` is unique in ``df`` (one row per document —
    true for every call site; the documents table's primary key). Under
    it, (doc_id, shingle) duplicates can only arise WITHIN one row's
    shingle array, so ``array_distinct`` before the explode is exactly
    ``.distinct()`` after it — minus the full shuffle of the exploded
    corpus that ``.distinct()`` costs (guide §2.4 "remove shuffles
    outright": the dedup is done map-side where the document's tokens
    already sit). The ``spread`` keeps what that shuffle was accidentally
    buying: scan parallelism (the sf0.1 documents table is ONE row group,
    so without it the normalize+explode ran on one core; the conditional
    repartition moves only the compact pre-explode rows and is a no-op on
    a many-split production corpus). Measured round 10 (same-session
    sf0.1 A/B, noop sink): shingles alone 0.92→0.47 s; per-consumer pins
    in OPTIMIZATION_r10.md. At 100 TB this deletes a corpus-wide exchange
    per call.
    """
    from ..queries.tables import spread

    norm = ta.normalize_text(F.col(text_col))
    base = spread(df, df.sparkSession)
    toks = base.select(
        F.col(id_col).alias("doc_id"),
        *[F.col(c) for c in extra],
        F.split(norm, " ").alias("tokens"),
    )
    toks = toks.filter(F.size("tokens") >= k)
    sh = F.expr(
        f"array_distinct(transform(sequence(0, size(tokens)-{k}),"
        f" i -> concat_ws(' ', slice(tokens, i+1, {k}))))"
    )
    return toks.select("doc_id", *extra, F.explode(sh).alias("shingle"))


def sql_shingles(table: str, id_col: str, text_col: str, k: int = 3) -> str:
    norm = ta.sql_normalize_text(text_col)
    toks = f"string_split({norm}, ' ')"
    return f"""
    SELECT DISTINCT doc_id, shingle FROM (
        SELECT {id_col} AS doc_id,
               unnest(list_transform(generate_series(1, len({toks}) - {k - 1}),
                      i -> array_to_string(({toks})[i:i + {k - 1}], ' '))) AS shingle
        FROM {table}
        WHERE len({toks}) >= {k}
    )"""


# --- exact dedup ------------------------------------------------------------
def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Hash-groupBy exact dedup: fingerprint → (representative, copies)."""
    fp = ta.fingerprint_md5(F.col(text_col))
    return (
        df.select(F.col(id_col).alias("doc_id"), fp.alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_copies"))
    )


def sql_exact_dedup_groups(table: str, id_col: str, text_col: str) -> str:
    return f"""
    SELECT {ta.sql_fingerprint_md5(text_col)} AS fingerprint,
           MIN({id_col}) AS keep_doc_id, COUNT(*) AS n_copies
    FROM {table} GROUP BY 1"""


# --- n-gram Jaccard ---------------------------------------------------------
def df_capped_shingles(sh: DataFrame, max_df: int) -> DataFrame:
    """Drop shingles that occur in more than ``max_df`` documents (the
    CCNet/RefinedWeb discriminative-shingle cap). This is what makes a
    corpus-wide Jaccard self-join scale-safe: the candidate join's cost is
    O(Σ per-shingle df²) ≤ max_df · |shingles| — linear in corpus size —
    instead of blowing up on stop-word shingles shared by every document.
    High-df shingles carry no dedup signal anyway (they are corpus-common
    phrases, not evidence of copying)."""
    keep = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= max_df)
        .select("shingle")
    )
    return sh.join(keep, "shingle", "left_semi")


def sql_df_capped_shingles(shingles_sql: str, max_df: int) -> str:
    return f"""
    SELECT sh.doc_id, sh.shingle
    FROM ({shingles_sql}) sh
    JOIN (
        SELECT shingle FROM ({shingles_sql})
        GROUP BY shingle HAVING COUNT(*) <= {max_df}
    ) keep ON sh.shingle = keep.shingle"""


def jaccard_pairs(sh: DataFrame, min_jaccard: float = 0.0) -> DataFrame:
    """Pairwise Jaccard over a (doc_id, shingle) set frame.

    O(Σ per-shingle doc-count²) via the shingle join — this is the
    *verification* path; candidate generation at scale is minhash_lsh.
    """
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.select(F.col("doc_id").alias("d1"), "shingle")
    b = sh.select(F.col("doc_id").alias("d2"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("intersection"))
    )
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    j = F.col("intersection").cast("double") / (F.col("n1") + F.col("n2") - F.col("intersection"))
    return (
        inter.join(s1, "d1")
        .join(s2, "d2")
        .select("d1", "d2", "intersection", j.alias("jaccard"))
        .filter(F.col("jaccard") >= min_jaccard)
    )


def posting_lists(sh: DataFrame, max_df: int) -> DataFrame:
    """df-capped posting lists: one row per kept shingle with the doc_id
    list (length <= ``max_df``) — one exchange on shingle.

    This replaces the two-step ``df_capped_shingles`` + self-join shape
    for pair generation: the df cap that makes the Jaccard join linear
    also bounds every posting list at ``max_df`` doc_ids, so candidate
    pairs can be ENUMERATED inside the aggregated row (<= max_df²/2
    structs) instead of discovered by shuffling the exploded corpus twice
    more through an equi-join (guide §2.3/§2.4: aggregate before you
    shuffle; the posting row is the map-side-collapsed form of the whole
    per-shingle join group). collect_list order is irrelevant — pair
    enumeration orders by value (d1 < d2).

    Bounded-state ordering (r11): the df count runs BEFORE any list is
    built. A collect_list aggregation buffer cannot spill *within one
    group*, so the r10 form (collect, then filter on size) materialized a
    stop-word shingle's full corpus-wide doc list in one buffer before
    discarding it — exactly the blow-up the cap exists to prevent. The
    window count's per-group state is one long, WindowExec's row buffer
    spills to disk (ExternalAppendOnlyUnsafeRowArray), and only rows of
    surviving shingles (df <= max_df) reach the list aggregation, so no
    aggregation buffer ever exceeds max_df ids. The window, the filter
    and the final groupBy all hash-cluster on shingle, so the whole chain
    still rides ONE exchange (guide §2.4/§5; A/B vs the count-then-
    semi-join form, which pays a second corpus exchange: 1.72 s vs 2.24 s
    at sf0.1, old unbounded form 1.57 s — outputs identical).
    """
    from pyspark.sql import Window

    w = Window.partitionBy("shingle")
    return (
        sh.withColumn("_df", F.count(F.lit(1)).over(w))
        .filter(F.col("_df") <= max_df)
        .drop("_df")
        .groupBy("shingle")
        .agg(F.collect_list("doc_id").alias("docs"))
    )


def posting_pair_counts(post: DataFrame) -> DataFrame:
    """(d1, d2, intersection) from posting lists: enumerate each ordered
    pair (d1 < d2) within every posting row, then one count aggregation.
    Exactly the rows the capped shingle self-join produces, one exchange
    cheaper and with the pair fan-out bounded per row by the df cap."""
    pair = F.expr(
        "flatten(transform(docs,"
        " x -> transform(filter(docs, y -> y > x),"
        " y -> struct(x AS d1, y AS d2))))"
    )
    return (
        post.select(F.explode(pair).alias("p"))
        .select(F.col("p.d1").alias("d1"), F.col("p.d2").alias("d2"))
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("intersection"))
    )


def capped_sizes(post: DataFrame) -> DataFrame:
    """Per-doc count of df-capped shingles from the posting lists
    (= ``capped.groupBy(doc_id).count()`` of the join form)."""
    return (
        post.select(F.explode("docs").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
    )


# Broadcast gate for per-document relations (sizes, representatives):
# ~24 bytes/row in the built hash relation => ~100 MB at this cap, far under
# the 8 GB / 512M-row broadcast hard limit but large enough that every bench
# and any single-machine corpus qualifies. Relations above the cap are
# unbounded-by-construction (one row per corpus document) and must flow
# through a shuffle join instead of the driver (guide §3.1; ADVICE r10).
BCAST_DOC_CAP = 4_000_000


def docs_fit_broadcast(sf_dir: str, table: str = "documents", cap: int = BCAST_DOC_CAP) -> bool:
    """True when the corpus table provably holds <= ``cap`` rows, read from
    parquet FOOTER METADATA only (no job, no data read — a plan-choice
    probe, not a result cache). Every per-doc relation a dedup query
    derives (sizes, survivors, representatives) is bounded by this row
    count, so the gate is sound for all of them."""
    import glob as _glob
    import os as _os

    import pyarrow.parquet as _pq

    path = _os.path.join(sf_dir, f"{table}.parquet")
    files = sorted(_glob.glob(_os.path.join(path, "*.parquet"))) if _os.path.isdir(path) else [path]
    total = 0
    for f in files:
        try:
            total += _pq.ParquetFile(f).metadata.num_rows
        except (OSError, ValueError):  # ValueError: pyarrow ArrowInvalid
            return False
        if total > cap:
            return False
    return True


def capped_jaccard_pairs(
    sh: DataFrame,
    max_df: int,
    min_jaccard: float = 0.0,
    broadcast_sizes: bool = False,
) -> DataFrame:
    """Fused ``df_capped_shingles`` + ``jaccard_pairs``: identical output
    (same columns, same doubles), built from bounded posting lists.

    Plan shape: window df-count + groupBy, both on shingle (one corpus
    exchange) -> map-side pair enumeration -> groupBy(d1,d2), plus the
    per-doc sizes joins — where the join form pays ~7 exchanges (cap
    groupBy, semi-join, two self-join shuffles, pair groupBy, sizes
    groupBy, sizes joins).

    r11: the posting checkpoint is eager (the lazy form races AQE when
    the pair stage and the sizes stage materialize concurrently — the
    posting aggregation could compute twice), and the broadcast hint on
    the per-doc sizes is GATED by the caller (``broadcast_sizes``, from
    ``docs_fit_broadcast`` — a parquet-metadata row-count bound, no job):
    sizes is one row per document — unbounded at corpus scale, so an
    unconditional hint is a driver-OOM path at 100 TB (ADVICE r10).
    Measured at sf0.1: hint-less SMJ cost curation_funnel +0.6-0.9 s (the
    pair-side exchange), so the hint stays where the metadata proves it
    safe; above the cap, sizes is checkpointed once so the two join
    sides share one computation of the explode+agg.
    """
    post = posting_lists(sh, max_df).localCheckpoint(eager=True)
    inter = posting_pair_counts(post)
    sizes = capped_sizes(post)
    if not broadcast_sizes:
        sizes = sizes.localCheckpoint(eager=True)
    s1 = sizes.select(F.col("doc_id").alias("d1"), F.col("n").alias("n1"))
    s2 = sizes.select(F.col("doc_id").alias("d2"), F.col("n").alias("n2"))
    if broadcast_sizes:
        s1, s2 = F.broadcast(s1), F.broadcast(s2)
    j = F.col("intersection").cast("double") / (
        F.col("n1") + F.col("n2") - F.col("intersection")
    )
    return (
        inter.join(s1, "d1")
        .join(s2, "d2")
        .select("d1", "d2", "intersection", j.alias("jaccard"))
        .filter(F.col("jaccard") >= min_jaccard)
    )


def sql_jaccard_pairs(shingles_sql: str, min_jaccard: float = 0.0) -> str:
    return f"""
    WITH sh AS ({shingles_sql}),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    inter AS (
        SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS intersection
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT d1, d2, intersection,
           (CAST(intersection AS DOUBLE) / (s1.n + s2.n - intersection)) AS jaccard
    FROM inter
    JOIN sizes s1 ON inter.d1 = s1.doc_id
    JOIN sizes s2 ON inter.d2 = s2.doc_id
    WHERE (CAST(intersection AS DOUBLE) / (s1.n + s2.n - intersection)) >= {min_jaccard}"""


# --- MinHash + LSH ----------------------------------------------------------
N_HASHES = 8
N_BANDS = 2
ROWS_PER_BAND = N_HASHES // N_BANDS


def minhash_signatures(sh: DataFrame) -> DataFrame:
    """Per-doc MinHash signature: for each seed, the min md5-prefix of
    seed-salted shingles (lexicographic min of hex ≡ numeric min)."""
    aggs = [
        F.min(
            F.substring(F.md5(F.concat(F.lit(f"{s}:"), F.col("shingle")).cast("binary")), 1, 8)
        ).alias(f"sig{s}")
        for s in range(N_HASHES)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def sql_minhash_signatures(shingles_sql: str) -> str:
    aggs = ", ".join(
        f"MIN(substring(md5('{s}:' || shingle), 1, 8)) AS sig{s}" for s in range(N_HASHES)
    )
    return f"SELECT doc_id, {aggs} FROM ({shingles_sql}) GROUP BY doc_id"


def lsh_bands(signatures: DataFrame) -> DataFrame:
    """Banding: (doc_id, band_idx, band_val) — docs sharing a band value
    are candidate near-duplicates.

    r10: one explode over an inline struct array instead of a UNION of
    per-band projections — the union duplicated the whole signature
    subtree per band (ReusedExchange papers over some of it, but the
    duplicated map side still plans and runs; same-session A/B of the
    full candidate chain at sf0.1: 1.43 → 0.95 s, identical rows)."""
    structs = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.concat(
                *[F.col(f"sig{b * ROWS_PER_BAND + r}") for r in range(ROWS_PER_BAND)]
            ).alias("band_val"),
        )
        for b in range(N_BANDS)
    ]
    return signatures.select("doc_id", F.explode(F.array(*structs)).alias("bv")).select(
        "doc_id",
        F.col("bv.band_idx").alias("band_idx"),
        F.col("bv.band_val").alias("band_val"),
    )


def sql_lsh_bands(signatures_sql: str) -> str:
    selects = []
    for b in range(N_BANDS):
        cat = " || ".join(f"sig{b * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND))
        selects.append(f"SELECT doc_id, {b} AS band_idx, ({cat}) AS band_val FROM sigs")
    return f"WITH sigs AS ({signatures_sql})\n" + "\nUNION ALL\n".join(selects)


def lsh_candidate_pairs(bands: DataFrame) -> DataFrame:
    """Bucket self-join → candidate pairs with shared-band counts."""
    a = bands.select(F.col("doc_id").alias("d1"), "band_idx", "band_val")
    b = bands.select(F.col("doc_id").alias("d2"), "band_idx", "band_val")
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("n_shared_bands"))
    )


def sql_lsh_candidate_pairs(bands_sql: str) -> str:
    return f"""
    WITH bands AS ({bands_sql})
    SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_shared_bands
    FROM bands a
    JOIN bands b ON a.band_idx = b.band_idx AND a.band_val = b.band_val
               AND a.doc_id < b.doc_id
    GROUP BY 1, 2"""


# --- SimHash ----------------------------------------------------------------
# 32 bits (8 md5 hex chars): 16 bits saturates with collisions beyond a few
# hundred docs; 32 keeps Hamming<=3 discriminative at corpus scale.
N_SIMHASH_BITS = 32


def _bit_exprs_spark(hex_col: str) -> list:
    """±1 contribution expressions for each bit of a token's md5-derived
    value (one hex char = 4 bits)."""
    out = []
    for b in range(N_SIMHASH_BITS):
        pos = b // 4 + 1  # 1-based hex char index
        k = b % 4
        v = f"(instr('{HEX}', substring({hex_col}, {pos}, 1)) - 1)"
        out.append(F.expr(f"(2 * (({v} div {2 ** k}) % 2) - 1)"))
    return out


def simhash_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-doc 32-bit SimHash over distinct normalized tokens."""
    norm = ta.normalize_text(F.col(text_col))
    toks = (
        df.select(F.col(id_col).alias("doc_id"), F.explode(F.split(norm, " ")).alias("token"))
        .filter(F.col("token") != "")
        .distinct()
        .withColumn("h", F.md5(F.col("token").cast("binary")))
    )
    sums = toks.groupBy("doc_id").agg(
        *[F.sum(e).alias(f"s{b}") for b, e in enumerate(_bit_exprs_spark("h"))]
    )
    fp = None
    for b in range(N_SIMHASH_BITS):
        term = F.when(F.col(f"s{b}") > 0, F.lit(2 ** b)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return sums.select("doc_id", fp.cast("bigint").alias("simhash"))


def sql_simhash_fingerprints(table: str, id_col: str, text_col: str) -> str:
    norm = ta.sql_normalize_text(text_col)
    bit_sums = []
    for b in range(N_SIMHASH_BITS):
        pos = b // 4 + 1
        k = b % 4
        v = f"(instr('{HEX}', substring(h, {pos}, 1)) - 1)"
        bit_sums.append(f"SUM(2 * ((({v}) // {2 ** k}) % 2) - 1) AS s{b}")
    fp = " + ".join(f"(CASE WHEN s{b} > 0 THEN {2 ** b} ELSE 0 END)" for b in range(N_SIMHASH_BITS))
    return f"""
    WITH toks AS (
        SELECT DISTINCT {id_col} AS doc_id, unnest(string_split({norm}, ' ')) AS token
        FROM {table}
    ),
    hashed AS (SELECT doc_id, md5(token) AS h FROM toks WHERE token <> ''),
    sums AS (SELECT doc_id, {', '.join(bit_sums)} FROM hashed GROUP BY doc_id)
    SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM sums"""


def simhash_pairs(
    fingerprints: DataFrame, max_hamming: int = 3, n_bands: int = 4
) -> DataFrame:
    """Banded SimHash candidate join: split the 32-bit fingerprint into
    ``n_bands`` byte bands and equi-join on (band, band_value). Pigeonhole:
    ``max_hamming`` differing bits can touch at most ``max_hamming`` bands,
    so any pair within the radius agrees exactly on >=1 band — full recall
    with a shuffle-hash equi-join instead of an O(n^2) cross join (requires
    ``max_hamming < n_bands``). The exact ``bit_count(xor)`` filter then
    verifies each candidate; ``simhash_pairs_allpairs`` is the small-data
    oracle for this plan."""
    if max_hamming >= n_bands:
        raise ValueError("banded recall needs max_hamming < n_bands")
    band_bits = N_SIMHASH_BITS // n_bands
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.expr(f"(simhash div {2 ** (band_bits * i)}) % {2 ** band_bits}").alias(
                    "val"
                ),
            )
            for i in range(n_bands)
        ]
    )
    banded = fingerprints.select(
        "doc_id", "simhash", F.explode(bands).alias("bv")
    ).select("doc_id", "simhash", F.col("bv.band").alias("band"), F.col("bv.val").alias("val"))
    a = banded.select(
        F.col("doc_id").alias("d1"), F.col("simhash").alias("f1"), "band", "val"
    )
    b = banded.select(
        F.col("doc_id").alias("d2"), F.col("simhash").alias("f2"), "band", "val"
    )
    return (
        a.join(b, on=["band", "val"])
        .filter(F.col("d1") < F.col("d2"))
        .select("d1", "d2", "f1", "f2")
        .distinct()  # a pair may collide on several bands — emit once
        .withColumn("hamming", F.expr("CAST(bit_count(f1 ^ f2) AS INTEGER)"))
        .filter(F.col("hamming") <= max_hamming)
        .select("d1", "d2", "hamming")
    )


def simhash_pairs_allpairs(fingerprints: DataFrame, max_hamming: int = 3) -> DataFrame:
    """All-pairs Hamming scan — O(n^2); kept ONLY as the small-data oracle
    that the banded join is recall-complete against."""
    a = fingerprints.select(F.col("doc_id").alias("d1"), F.col("simhash").alias("f1"))
    b = fingerprints.select(F.col("doc_id").alias("d2"), F.col("simhash").alias("f2"))
    return (
        a.crossJoin(b)
        .filter(F.col("d1") < F.col("d2"))
        .withColumn("hamming", F.expr("CAST(bit_count(f1 ^ f2) AS INTEGER)"))
        .filter(F.col("hamming") <= max_hamming)
        .select("d1", "d2", "hamming")
    )


def sql_simhash_pairs(fingerprints_sql: str, max_hamming: int = 3) -> str:
    return f"""
    WITH fps AS ({fingerprints_sql})
    SELECT a.doc_id AS d1, b.doc_id AS d2,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM fps a JOIN fps b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}"""
