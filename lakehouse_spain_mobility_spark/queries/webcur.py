"""Round-3b web-corpus curation operators: line-level dedup, binary-sig
ANN, and PMI collocations over the documents/embeddings tables.

Three more training-data-pipeline operators, engine-portable by
construction (integer/ppm outputs, md5 keys, matched IEEE expression
shapes — the repo's standard parity conventions):

- ``line_dedup`` — C4-style line-level deduplication (Raffel et al. 2020,
  arXiv:1910.10683 §2.2 "we discarded all but one of any three-sentence
  span occurring more than once"): segment every document into lines,
  keep only the globally-first occurrence of each distinct line, and
  report per document how many lines/tokens survive plus the md5 of the
  reassembled text. The synthetic corpus has no newlines, so a "line" is
  a fixed 15-token segment — on a real corpus the segmentation expression
  is ``split(text, '\\n')`` and every other part of the plan is unchanged.
- ``hamming_ann`` — binary-signature approximate nearest neighbour: each
  64-dim embedding compresses to 64 sign bits packed into two 32-bit
  words (32× smaller than float32; the sign-random-projection LSH family,
  Charikar 2002), and top-5 neighbours per query rank by Hamming distance
  computed with XOR + bit_count — pure integer codegen, no floats at
  query time.
- ``pmi_bigrams`` — pointwise mutual information collocations: the
  top-20 token bigrams by PMI among those occurring >= 5 times, the
  classic corpus-statistics operator for tokenizer/stop-phrase audits.
- ``snapshot_diff`` — incremental-crawl delta: two corpus snapshots
  (derived deterministically from the documents table: the "old" crawl
  is missing 10% of pages, the "new" crawl dropped a different 10% and
  revised every doc_id ≡ 3 (mod 7)) full-outer-join on the document key
  comparing content hashes, yielding added/removed/changed/unchanged
  counts per language — the change-data-capture step an ingestion
  pipeline runs before re-processing only what moved.

Scale notes (100 TB):

- ``line_dedup`` is the one shuffle it looks like: lines hash-partition
  by line-hash for the global keep-first rank (linear, no pair
  enumeration), then one doc-key aggregation reassembles survivors. The
  keep-first ROW_NUMBER per line-hash is the only rank; a boilerplate
  line shared by millions of documents lands in one partition's group but
  only as (hash, doc_id, line_no) triples — for adversarial skew the
  rank flips to a min-aggregation join-back, same semantics.
- ``hamming_ann`` stores the corpus as two BIGINT words per vector; the
  query side (10 rows) broadcasts, distances are XOR+popcount per
  (corpus row × query), and per-query top-5 is a TakeOrdered-shaped
  window. At web scale the same signatures become the prefilter banding
  key (group by a 16-bit signature prefix) before exact re-ranking —
  the representation, not the loop, is what this operator pins.
- ``pmi_bigrams`` is two narrow explodes and two hash aggregations; the
  bigram->unigram count lookups broadcast (Zipf-bounded model tables,
  same argument as queries/lm.py), and the >= 5 count floor prunes the
  long tail before any join.
- ``snapshot_diff`` joins on the document key after reducing each side
  to (key, content-hash) — the full texts never shuffle; at warehouse
  scale both snapshots are bucketed on the key so the full-outer join is
  co-located (zero exchange, the mechanism `test_scale_patterns.py`
  proves locally).

Reference anchor: the reference (a mobility lakehouse) has no corpus
curation surface; these extend the training-data north star alongside
queries/curation.py, queries/dedup.py and queries/lm.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.deterministic import micro
from ..functions.topk import global_topk
from . import QuerySpec, register
from .tables import load, spread

# --- C4-style line-level dedup ----------------------------------------------

_LINE_TOKENS = 15  # fixed segmentation stand-in for '\n' on real corpora


def q_line_dedup(
    spark: SparkSession, sf_dir: str, skew_safe: bool = True
) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = F.array_remove(F.split(F.col("text"), " "), "")
    # explode(array(...)) is a projection barrier (cf. queries/bloom.py):
    # the token array is referenced by the line count, the slice bounds
    # and the slices — CollapseProject would re-tokenize per reference.
    # (r11: a spread() here was measured HARMFUL at sf0.1 — 0.70 -> 1.16 s
    # — and a no-op at sf10's 32-file layout; the map output is narrow
    # hashes, so the repartition moves raw text for parallelism the
    # single hash-groupBy pipeline doesn't repay. Left alone.)
    docs = d.select("doc_id", F.explode(F.array(toks)).alias("w"))
    n_lines = F.ceil(F.size("w") / F.lit(_LINE_TOKENS)).cast("int")
    lines = docs.select(
        "doc_id",
        F.size("w").cast("bigint").alias("n_tokens"),
        n_lines.cast("bigint").alias("n_lines"),
        # Guarded: sequence(0, -1) yields a DESCENDING [0, -1] in Spark —
        # two phantom empty lines for an empty doc — while the oracle's
        # range(0, 0) is empty. NULL ⇒ explode drops the row on both.
        F.explode(
            F.when(n_lines > 0, F.sequence(F.lit(0), n_lines - 1))
        ).alias("line_no"),
        "w",
    ).select(
        "doc_id",
        "n_tokens",
        "n_lines",
        "line_no",
        F.array_join(
            F.slice(F.col("w"), F.col("line_no") * _LINE_TOKENS + 1, _LINE_TOKENS), " "
        ).alias("line"),
    )
    # Global keep-first: ONE shuffle on the line hash; no pairs. Default
    # path is the skew-proof MIN(STRUCT) aggregation (operators/skew.py
    # keep_first): map-side partial MINs collapse a boilerplate line
    # duplicated 10⁶× to one candidate per input partition BEFORE the
    # exchange, so no reducer ever sorts a hot group (SCALE.md §8c —
    # implemented r4, was documented-only). The row_number window form is
    # kept for the A/B equivalence test.
    # Everything downstream of the keep-first exchange needs only the
    # line's token count and its (line_no, line) fingerprint — both pure
    # per-occurrence projections — so they're computed BEFORE the shuffle
    # and the line text itself never rides the wire (3 longs per row
    # instead of a ~100 B string). The fingerprint is an ORDER-FREE
    # multiset checksum (the inverted-index postings-check idiom,
    # queries/search.py:233): 40-bit md5 prefix per pair, hi/lo long
    # partials recombined in DECIMAL(38,0); line_no pins reconstruction
    # order, and it partial-aggregates map-side instead of buffering each
    # doc's lines (collect_list) and walking them with an interpreted
    # transform lambda (trap #25, the round-3 form).
    pair_h = F.expr(
        "CAST(conv(substring(md5(CAST(concat_ws(':', CAST(line_no AS STRING), "
        "line) AS BINARY)), 1, 10), 16, 10) AS BIGINT)"
    )
    hashed = lines.select(
        "doc_id",
        "line_no",
        F.md5(F.col("line").cast("binary")).alias("lh"),
        F.size(F.split(F.col("line"), " ")).cast("bigint").alias("ntok"),
        pair_h.alias("ph"),
    )
    if skew_safe:
        from ..operators.skew import keep_first

        kept = keep_first(hashed, ["lh"], ["doc_id", "line_no"], ["ntok", "ph"])
    else:
        w_first = Window.partitionBy("lh").orderBy("doc_id", "line_no")
        kept = hashed.withColumn("rn", F.row_number().over(w_first)).filter(
            F.col("rn") == 1
        )
    per_doc = kept.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_kept_lines"),
        F.sum("ntok").cast("bigint").alias("n_kept_tokens"),
        (
            F.sum(F.shiftright(F.col("ph"), 31)).cast("decimal(38,0)")
            * F.lit(_LD_POW31).cast("decimal(38,0)")
            + F.sum(F.col("ph").bitwiseAND(F.lit(_LD_MASK31))).cast("decimal(38,0)")
        ).cast("string").alias("text_check"),
    )
    base = d.select(
        "doc_id",
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.ceil(F.size(toks) / F.lit(_LINE_TOKENS)).cast("bigint").alias("n_lines"),
    )
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_lines",
        "n_tokens",
        F.coalesce(F.col("n_kept_lines"), F.lit(0)).cast("bigint").alias("n_kept_lines"),
        F.coalesce(F.col("n_kept_tokens"), F.lit(0)).cast("bigint").alias("n_kept_tokens"),
        F.coalesce(F.col("text_check"), F.lit("0")).alias("text_check"),
    )


_LD_MASK31 = (1 << 31) - 1
_LD_POW31 = 1 << 31

_LINE_SQL = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents
), lines AS (
  SELECT doc_id,
         unnest(range(0, CAST(CEIL(len(w) / {_LINE_TOKENS}.0) AS BIGINT))) AS line_no,
         w
  FROM toks
), hashed AS (
  SELECT doc_id, line_no,
         array_to_string(list_slice(w, line_no * {_LINE_TOKENS} + 1,
                                    line_no * {_LINE_TOKENS} + {_LINE_TOKENS}), ' ') AS line
  FROM lines
), ranked AS (
  SELECT doc_id, line_no, line,
         ROW_NUMBER() OVER (PARTITION BY md5(line) ORDER BY doc_id, line_no) AS rn
  FROM hashed
), per_doc AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_kept_lines,
         CAST(SUM(len(string_split(line, ' '))) AS BIGINT) AS n_kept_tokens,
         CAST(CAST(SUM(ph >> 31) AS DECIMAL(38,0)) * {_LD_POW31}
              + CAST(SUM(ph & {_LD_MASK31}) AS DECIMAL(38,0)) AS VARCHAR) AS text_check
  FROM (
    SELECT *,
           CAST(concat('0x', substring(md5(CAST(line_no AS VARCHAR) || ':' || line), 1, 10)) AS BIGINT) AS ph
    FROM ranked WHERE rn = 1
  ) GROUP BY doc_id
)
SELECT t.doc_id,
       CAST(CEIL(len(t.w) / {_LINE_TOKENS}.0) AS BIGINT) AS n_lines,
       CAST(len(t.w) AS BIGINT) AS n_tokens,
       CAST(COALESCE(p.n_kept_lines, 0) AS BIGINT) AS n_kept_lines,
       CAST(COALESCE(p.n_kept_tokens, 0) AS BIGINT) AS n_kept_tokens,
       COALESCE(p.text_check, '0') AS text_check
FROM toks t LEFT JOIN per_doc p USING (doc_id)
"""


# --- binary-signature (sign bit) Hamming ANN --------------------------------

_ANN_QUERIES = 10  # vec_id < 10 are the query vectors
_ANN_K = 5
_DIMS = 64
_WORD = 32  # bits per signature word; two words cover 64 dims and no
# expression ever shifts into the BIGINT sign bit (DuckDB raises on 1<<63)


def _sig_sql(lo_dim: int, spark_dialect: bool) -> str:
    """Pack sign bits of dims [lo_dim, lo_dim+31] (1-based) into a BIGINT
    word. Same CASE/CAST shape in both engines; only the 1-based array
    accessor differs (Spark `[i]` is 0-based, so it uses element_at)."""
    acc = "element_at(embedding, {i})" if spark_dialect else "embedding[{i}]"
    terms = " + ".join(
        f"CASE WHEN {acc.format(i=lo_dim + b)} > 0 THEN {1 << b} ELSE 0 END"
        for b in range(_WORD)
    )
    return f"CAST({terms} AS BIGINT)"


def q_hamming_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings")
    # explode(array(struct(...))) is the projection barrier (SCALE.md §8c):
    # without it CollapseProject inlines the 64-term sign-bit expressions
    # into every post-join reference, re-packing both signature words once
    # per (corpus row × query) instead of once per row.
    sigs = e.select(
        "vec_id",
        F.explode(
            F.array(
                F.struct(
                    F.expr(_sig_sql(1, True)).alias("sig_lo"),
                    F.expr(_sig_sql(1 + _WORD, True)).alias("sig_hi"),
                )
            )
        ).alias("s"),
    ).select("vec_id", "s.*")
    q = sigs.filter(F.col("vec_id") < _ANN_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("sig_lo").alias("q_lo"),
        F.col("sig_hi").alias("q_hi"),
    )
    c = sigs.filter(F.col("vec_id") >= _ANN_QUERIES)
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id",
        "vec_id",
        (
            F.bit_count(F.col("sig_lo").bitwiseXOR(F.col("q_lo")))
            + F.bit_count(F.col("sig_hi").bitwiseXOR(F.col("q_hi")))
        ).cast("bigint").alias("hamming"),
    )
    w = Window.partitionBy("query_id").orderBy("hamming", "vec_id")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= _ANN_K)
        .select("query_id", F.col("rank").cast("int").alias("rank"), "vec_id", "hamming")
    )


_ANN_SQL = f"""
WITH sigs AS (
  SELECT vec_id, {_sig_sql(1, False)} AS sig_lo, {_sig_sql(1 + _WORD, False)} AS sig_hi
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, sig_lo AS q_lo, sig_hi AS q_hi
  FROM sigs WHERE vec_id < {_ANN_QUERIES}
), scored AS (
  SELECT q.query_id, c.vec_id,
         CAST(bit_count(xor(c.sig_lo, q.q_lo))
            + bit_count(xor(c.sig_hi, q.q_hi)) AS BIGINT) AS hamming
  FROM sigs c CROSS JOIN q
  WHERE c.vec_id >= {_ANN_QUERIES}
)
SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, hamming
FROM (
  SELECT query_id, vec_id, hamming,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY hamming, vec_id) AS rank
  FROM scored
) WHERE rank <= {_ANN_K}
"""


# --- PMI collocations --------------------------------------------------------

_PMI_MIN_COUNT = 5
_PMI_TOP = 20


def q_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    # conditional few-file scan spread (tables.spread) — the bigram
    # explode + count partials are map-side work
    d = spread(load(spark, sf_dir, "documents"), spark)
    toks = F.array_remove(F.split(F.col("text"), " "), "")
    docs = d.select("doc_id", F.explode(F.array(toks)).alias("wa"))
    pairs = F.when(
        F.size("wa") >= 2,
        F.arrays_zip(
            F.slice(F.col("wa"), F.lit(1), F.size("wa") - 1),
            F.slice(F.col("wa"), F.lit(2), F.size("wa") - 1),
        ),
    )
    bigrams = docs.select(F.explode(pairs).alias("pr")).select(
        F.col("pr")["0"].alias("w1"), F.col("pr")["1"].alias("w2")
    )
    c12 = (
        bigrams.groupBy("w1", "w2")
        .agg(F.count("*").alias("c12"))
        .filter(F.col("c12") >= _PMI_MIN_COUNT)
    )
    uni = d.select(F.explode(toks).alias("token")).groupBy("token").agg(
        F.count("*").alias("c1")
    )
    totals = uni.agg(F.sum("c1").alias("n_tok")).crossJoin(
        bigrams.agg(F.count("*").alias("n_bg"))
    )
    scored = (
        c12.join(F.broadcast(uni.select(F.col("token").alias("w1"), F.col("c1").alias("cw1"))), "w1")
        .join(F.broadcast(uni.select(F.col("token").alias("w2"), F.col("c1").alias("cw2"))), "w2")
        .crossJoin(F.broadcast(totals))
        .select(
            "w1",
            "w2",
            F.col("c12").cast("bigint").alias("c12"),
            F.round(
                F.log(
                    (F.col("c12").cast("double") / F.col("n_bg").cast("double"))
                    / (
                        (F.col("cw1").cast("double") / F.col("n_tok").cast("double"))
                        * (F.col("cw2").cast("double") / F.col("n_tok").cast("double"))
                    )
                )
                * F.lit(1000000.0)
            ).cast("bigint").alias("pmi_ppm"),
        )
    )
    # TakeOrderedAndProject, not a global-window sort of the scored corpus.
    return global_topk(
        scored, _PMI_TOP, [F.desc("pmi_ppm"), F.asc("w1"), F.asc("w2")]
    ).select(F.col("rank").cast("int").alias("rank"), "w1", "w2", "c12", "pmi_ppm")


_PMI_SQL = f"""
WITH toks AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents
), bigrams AS (
  SELECT w[i] AS w1, w[i + 1] AS w2
  FROM (SELECT w, unnest(range(1, len(w))) AS i FROM toks)
), c12 AS (
  SELECT w1, w2, COUNT(*) AS c12 FROM bigrams GROUP BY w1, w2
  HAVING COUNT(*) >= {_PMI_MIN_COUNT}
), uni AS (
  SELECT unnest(w) AS token FROM toks
), uc AS (
  SELECT token, COUNT(*) AS c1 FROM uni GROUP BY token
), totals AS (
  SELECT (SELECT SUM(c1) FROM uc) AS n_tok,
         (SELECT COUNT(*) FROM bigrams) AS n_bg
), scored AS (
  SELECT c12.w1, c12.w2, CAST(c12.c12 AS BIGINT) AS c12,
         CAST(ROUND(ln(
             (CAST(c12.c12 AS DOUBLE) / CAST(t.n_bg AS DOUBLE))
             / ((CAST(u1.c1 AS DOUBLE) / CAST(t.n_tok AS DOUBLE))
                * (CAST(u2.c1 AS DOUBLE) / CAST(t.n_tok AS DOUBLE)))
         ) * 1000000.0) AS BIGINT) AS pmi_ppm
  FROM c12
  JOIN uc u1 ON c12.w1 = u1.token
  JOIN uc u2 ON c12.w2 = u2.token
  CROSS JOIN totals t
)
SELECT CAST(rank AS INTEGER) AS rank, w1, w2, c12, pmi_ppm
FROM (
  SELECT w1, w2, c12, pmi_ppm,
         ROW_NUMBER() OVER (ORDER BY pmi_ppm DESC, w1 ASC, w2 ASC) AS rank
  FROM scored
) WHERE rank <= {_PMI_TOP}
"""


# --- incremental-crawl snapshot diff ----------------------------------------

_DROP_OLD = 9  # doc_id ≡ 9 (mod 10): not yet crawled in the old snapshot
_DROP_NEW = 8  # doc_id ≡ 8 (mod 10): gone from the new snapshot
_REV_MOD = 7  # doc_id ≡ 3 (mod 7): revised content in the new snapshot


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # Each snapshot reduces to (key, lang, content hash) BEFORE the join —
    # the text column never crosses an exchange.
    old = d.filter(F.col("doc_id") % 10 != _DROP_OLD).select(
        "doc_id",
        F.col("lang").alias("lang_old"),
        F.md5(F.col("text").cast("binary")).alias("h_old"),
    )
    new = d.filter(F.col("doc_id") % 10 != _DROP_NEW).select(
        "doc_id",
        F.col("lang").alias("lang_new"),
        F.md5(
            F.when(
                F.col("doc_id") % _REV_MOD == 3, F.concat(F.col("text"), F.lit(" v2"))
            )
            .otherwise(F.col("text"))
            .cast("binary")
        ).alias("h_new"),
    )
    joined = old.join(new, "doc_id", "full_outer")
    status = (
        F.when(F.col("h_old").isNull(), F.lit("added"))
        .when(F.col("h_new").isNull(), F.lit("removed"))
        .when(F.col("h_old") != F.col("h_new"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return (
        joined.select(
            F.coalesce(F.col("lang_new"), F.col("lang_old")).alias("lang"),
            status.alias("status"),
        )
        .groupBy("lang", "status")
        .agg(F.count("*").cast("bigint").alias("n_docs"))
    )


_DIFF_SQL = f"""
WITH old AS (
  SELECT doc_id, lang AS lang_old, md5(text) AS h_old
  FROM documents WHERE doc_id % 10 <> {_DROP_OLD}
), new AS (
  SELECT doc_id, lang AS lang_new,
         md5(CASE WHEN doc_id % {_REV_MOD} = 3 THEN text || ' v2' ELSE text END) AS h_new
  FROM documents WHERE doc_id % 10 <> {_DROP_NEW}
)
SELECT COALESCE(n.lang_new, o.lang_old) AS lang,
       CASE WHEN o.h_old IS NULL THEN 'added'
            WHEN n.h_new IS NULL THEN 'removed'
            WHEN o.h_old <> n.h_new THEN 'changed'
            ELSE 'unchanged' END AS status,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM old o FULL OUTER JOIN new n USING (doc_id)
GROUP BY 1, 2
"""


register(
    QuerySpec(
        "snapshot_diff",
        q_snapshot_diff,
        _DIFF_SQL,
        survey="TD-cdc",
        description="Incremental-crawl CDC: snapshot full-outer diff on content hashes, counts per (lang, status)",
    )
)
register(
    QuerySpec(
        "line_dedup",
        q_line_dedup,
        _LINE_SQL,
        survey="TD-dedup",
        description="C4-style line-level dedup: global keep-first per line hash, per-doc survival stats",
    )
)
register(
    QuerySpec(
        "hamming_ann",
        q_hamming_ann,
        _ANN_SQL,
        survey="TD-ann",
        description="Binary-signature ANN: 64 sign bits in two words, XOR+popcount Hamming top-5",
    )
)
register(
    QuerySpec(
        "pmi_bigrams",
        q_pmi_bigrams,
        _PMI_SQL,
        survey="TXT-pmi",
        description="PMI collocations: top-20 bigrams by pointwise mutual information, count >= 5",
    )
)


# --- per-source boilerplate (template) removal --------------------------------
# Public method (C4's "boilerplate" pass / jusText motivation): a line
# that recurs across MANY pages of the same site is template chrome
# (nav, footer, cookie banner), not content — classification is
# per-source frequency, NOT global dedup (q_line_dedup keeps a line's
# FIRST occurrence; this drops EVERY occurrence of a template line while
# an identical line on a different, smaller source survives). Same fixed
# segmentation as line_dedup (_LINE_TOKENS words per line).
#
# Rule: drop line L from source S iff S has >= _BP_MIN_DOCS docs and L
# appears in > _BP_PCT% of S's docs (distinct-doc frequency, integer
# cross-multiplied — no float thresholds).
#
# 100 TB shape: presence = ONE distinct aggregation on (source, line
# hash, doc) — map-side partials absorb the template lines precisely
# because they repeat; the boilerplate set is a (source, lh) relation
# joined back with a null-flag left join on the same key. Nothing is
# ever pairwise; per-source doc counts are a |sources|-row broadcast.

_BP_PCT = 25
_BP_MIN_DOCS = 4
# Shared-subtree checkpoint crossover for the line-hash projection: below
# this corpus size the inline double-compute overlaps across cores and the
# checkpoint barrier costs more than it saves (paired A/Bs: sf0.1 5k docs
# inline wins 0.94 vs 1.59 s; sf10 500k docs checkpoint wins 4.90 vs
# 5.53 s).
_BP_CKPT_MIN_DOCS = 100_000


def q_boilerplate_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .tables import parquet_num_rows

    d = load(spark, sf_dir, "documents")
    toks = F.array_remove(F.split(F.col("text"), " "), "")
    docs = d.select("doc_id", "source", F.explode(F.array(toks)).alias("w"))
    n_lines = F.ceil(F.size("w") / F.lit(_LINE_TOKENS)).cast("int")
    # Order-free multiset checksum fingerprint (the line_dedup idiom,
    # round 9): the (line_no, line) pair hash is computed BEFORE any
    # exchange; partial SUMs collapse map-side and only (doc_id, 2 longs)
    # ride the wire. line_no keeps the fingerprint order-sensitive.
    pair_h = F.expr(
        "CAST(conv(substring(md5(CAST(concat_ws(':', CAST(line_no AS STRING), "
        "line) AS BINARY)), 1, 10), 16, 10) AS BIGINT)"
    )
    # r11: both consumers (the presence aggregation and the keep-filter
    # fingerprint) need only (doc_id, source, lh, ph) — the line hashes.
    # The r10 form rebuilt the whole tokenize + slice + md5 line
    # construction per consumer (the query's dominant map work, twice).
    # Above the crossover the NARROW hashed projection (no token array,
    # no line text) is materialized once and both stages read it (guide
    # §2.3 project before the exchange / shared-subtree idiom); below it
    # the inline recompute stays — at bench scale the two single-ish-task
    # map stages overlap and the checkpoint barrier only adds wall clock.
    # Paired A/Bs: sf10 5.53 -> 4.90 s (checkpoint wins), sf0.1 0.94 ->
    # 1.59 s (checkpoint loses) — routed on parquet-metadata row count,
    # defaulting to the scale-safe checkpoint when metadata is unreadable.
    hashed = (
        docs.select(
            "doc_id",
            "source",
            F.explode(
                F.when(n_lines > 0, F.sequence(F.lit(0), n_lines - 1))
            ).alias("line_no"),
            "w",
        )
        .select(
            "doc_id",
            "source",
            "line_no",
            F.array_join(
                F.slice(F.col("w"), F.col("line_no") * _LINE_TOKENS + 1, _LINE_TOKENS),
                " ",
            ).alias("line"),
        )
        .select(
            "doc_id",
            "source",
            F.md5(F.col("line").cast("binary")).alias("lh"),
            pair_h.alias("ph"),
        )
    )
    n_docs = parquet_num_rows(sf_dir, "documents")
    if n_docs is None or n_docs >= _BP_CKPT_MIN_DOCS:
        hashed = hashed.localCheckpoint(eager=True)

    src_docs = d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs")
    )
    presence = (
        hashed.select("source", "lh", "doc_id")
        .distinct()
        .groupBy("source", "lh")
        .agg(F.count("*").cast("bigint").alias("n_in"))
    )
    boiler = (
        presence.join(F.broadcast(src_docs), "source")
        .filter(
            (F.col("n_docs") >= _BP_MIN_DOCS)
            & (F.col("n_in") * 100 > F.lit(_BP_PCT) * F.col("n_docs"))
        )
        .select("source", "lh")
        .withColumn("is_boiler", F.lit(True))
    )
    # boiler is bounded by construction (lines present in >60% of a
    # source's docs) — explicit broadcast, its size is post-aggregation
    marked = hashed.join(F.broadcast(boiler), ["source", "lh"], "left")
    kept = marked.filter(F.col("is_boiler").isNull())
    per_doc = kept.select("doc_id", "ph").groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_kept_lines"),
        (
            F.sum(F.shiftright(F.col("ph"), 31)).cast("decimal(38,0)")
            * F.lit(_LD_POW31).cast("decimal(38,0)")
            + F.sum(F.col("ph").bitwiseAND(F.lit(_LD_MASK31))).cast("decimal(38,0)")
        ).cast("string").alias("clean_check"),
    )
    base = d.select(
        "doc_id",
        "source",
        F.ceil(F.size(toks) / F.lit(_LINE_TOKENS)).cast("bigint").alias("n_lines"),
    )
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "source",
        "n_lines",
        (F.col("n_lines") - F.coalesce(F.col("n_kept_lines"), F.lit(0)))
        .cast("bigint")
        .alias("n_boiler_lines"),
        F.coalesce(F.col("clean_check"), F.lit("0")).alias("clean_check"),
    )


_BP_SQL = f"""
WITH toks AS (
  SELECT doc_id, source, list_filter(string_split(text, ' '), x -> x <> '') AS w
  FROM documents
), linesx AS (
  SELECT doc_id, source,
         unnest(range(0, CAST(CEIL(len(w) / {_LINE_TOKENS}.0) AS BIGINT))) AS line_no,
         w
  FROM toks
), hashed AS (
  SELECT doc_id, source, line_no,
         md5(array_to_string(list_slice(w, line_no * {_LINE_TOKENS} + 1,
                                        line_no * {_LINE_TOKENS} + {_LINE_TOKENS}), ' ')) AS lh,
         array_to_string(list_slice(w, line_no * {_LINE_TOKENS} + 1,
                                    line_no * {_LINE_TOKENS} + {_LINE_TOKENS}), ' ') AS line
  FROM linesx
), src_docs AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY source
), presence AS (
  SELECT source, lh, CAST(COUNT(*) AS BIGINT) AS n_in
  FROM (SELECT DISTINCT source, lh, doc_id FROM hashed) GROUP BY 1, 2
), boiler AS (
  SELECT p.source, p.lh
  FROM presence p JOIN src_docs s USING (source)
  WHERE s.n_docs >= {_BP_MIN_DOCS} AND p.n_in * 100 > {_BP_PCT} * s.n_docs
), kept AS (
  SELECT h.* FROM hashed h
  LEFT JOIN boiler b ON h.source = b.source AND h.lh = b.lh
  WHERE b.lh IS NULL
), per_doc AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_kept_lines,
         CAST(CAST(SUM(ph >> 31) AS DECIMAL(38,0)) * {_LD_POW31}
              + CAST(SUM(ph & {_LD_MASK31}) AS DECIMAL(38,0)) AS VARCHAR) AS clean_check
  FROM (
    SELECT doc_id,
           CAST(concat('0x', substring(md5(CAST(line_no AS VARCHAR) || ':' || line), 1, 10)) AS BIGINT) AS ph
    FROM kept
  ) GROUP BY doc_id
)
SELECT t.doc_id, t.source,
       CAST(CEIL(len(t.w) / {_LINE_TOKENS}.0) AS BIGINT) AS n_lines,
       CAST(CEIL(len(t.w) / {_LINE_TOKENS}.0) AS BIGINT)
         - CAST(COALESCE(p.n_kept_lines, 0) AS BIGINT) AS n_boiler_lines,
       COALESCE(p.clean_check, '0') AS clean_check
FROM toks t LEFT JOIN per_doc p USING (doc_id)
"""


register(
    QuerySpec(
        "boilerplate_removal",
        q_boilerplate_removal,
        _BP_SQL,
        "TXT-boiler,TD-webcur",
        False,
        "Per-source template-line removal: distinct-doc frequency rule, reassembled clean-text md5",
    )
)


# --- URL canonicalization + host-level dedup stats ---------------------------
# The first step of every web-curation pipeline (CCNet/C4/RefinedWeb all
# dedup by canonicalized URL before touching content): lowercase
# scheme/authority, strip default ports, drop the fragment, remove
# tracking parameters (utm_*/fbclid/gclid), sort the surviving query
# parameters, strip the trailing slash — then count raw vs canonical
# URLs per host. The corpus has no URL column, so a messy-but-
# deterministic URL is synthesized per document from its keys (the
# spatial_dissolve recipe: synthesize the input arithmetically, run the
# REAL kernel, oracle-check the kernel); every canonicalization rule is
# general-purpose string logic, not tuned to the synthesis.
#
# 100 TB shape: the canonicalization is pure per-row string codegen (one
# interpreted HOF — the tracking-param filter over ~3 query params — is
# the only non-codegen step); dedup is ONE hash aggregation on the
# canonical string (map-side collapse), host rollup is |hosts|-sized.
# Exactness: outputs are integers + one micro-quantized ratio; the
# parameter sort is binary string order in both engines.


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    # messy synthesis: mixed-case scheme/host, default ports, shuffled
    # param order, tracking params, fragments, trailing slashes
    url = F.expr(
        "concat("
        " CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END, '://',"
        " CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END,"
        " '.example.org',"
        " CASE WHEN doc_id % 5 = 0 THEN (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END) ELSE '' END,"
        " '/', lang, '/page-', CAST(doc_id % 1000 AS STRING),"
        " CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END,"
        " CASE WHEN doc_id % 7 = 0 THEN ''"
        "      WHEN doc_id % 2 = 0 THEN concat('?utm_source=feed&b=', CAST(doc_id % 3 AS STRING), '&a=1')"
        "      ELSE concat('?a=1&b=', CAST(doc_id % 3 AS STRING), '&fbclid=xyz') END,"
        " CASE WHEN doc_id % 3 = 0 THEN '#sec1' ELSE '' END"
        ")"
    )
    steps = (
        d.select(F.col("doc_id"), url.alias("u"))
        .select("doc_id", F.expr("split_part(u, '#', 1)").alias("nofrag"))
        .select(
            "doc_id",
            F.expr("lower(split_part(nofrag, '://', 1))").alias("scheme"),
            F.expr("split_part(nofrag, '://', 2)").alias("rest"),
        )
        .select(
            "doc_id", "scheme",
            F.expr("lower(split_part(rest, '/', 1))").alias("auth0"),
            F.expr("substring(rest, length(split_part(rest, '/', 1)) + 1)").alias("pathq"),
        )
        .select(
            "doc_id", "scheme",
            # default-port strip is SCHEME-CONDITIONAL (ADVICE r9 #5):
            # https://host:80 is a distinct origin and must keep its port
            F.expr(
                "CASE WHEN scheme = 'http' AND endswith(auth0, ':80') THEN substring(auth0, 1, length(auth0) - 3)"
                "     WHEN scheme = 'https' AND endswith(auth0, ':443') THEN substring(auth0, 1, length(auth0) - 4)"
                "     ELSE auth0 END"
            ).alias("host"),
            F.expr("split_part(pathq, '?', 1)").alias("path0"),
            F.expr(
                "CASE WHEN instr(pathq, '?') > 0 THEN substring(pathq, instr(pathq, '?') + 1) ELSE '' END"
            ).alias("q"),
        )
        .select(
            "doc_id", "scheme", "host",
            F.expr(
                "CASE WHEN length(path0) > 1 AND endswith(path0, '/')"
                " THEN substring(path0, 1, length(path0) - 1) ELSE path0 END"
            ).alias("path"),
            F.expr(
                "array_join(sort_array(filter(split(q, '&'),"
                " x -> NOT (startswith(x, 'utm_') OR startswith(x, 'fbclid')"
                " OR startswith(x, 'gclid') OR x = ''))), '&')"
            ).alias("qc"),
        )
        .select(
            "doc_id", "host",
            F.expr(
                "concat(scheme, '://', host, path,"
                " CASE WHEN qc <> '' THEN concat('?', qc) ELSE '' END)"
            ).alias("canonical"),
        )
    )
    return (
        steps.groupBy("host")
        .agg(
            F.count("*").cast("bigint").alias("n_raw"),
            F.countDistinct("canonical").cast("bigint").alias("n_canonical"),
        )
        .select(
            "host", "n_raw", "n_canonical",
            micro(
                (F.col("n_raw") - F.col("n_canonical")).cast("double") / F.col("n_raw")
            ).alias("dup_rate_ppm"),
        )
    )


_URL_SQL = """
WITH synth AS (
    SELECT doc_id,
           concat(
             CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'https' END, '://',
             CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END,
             '.example.org',
             CASE WHEN doc_id % 5 = 0 THEN (CASE WHEN doc_id % 2 = 0 THEN ':80' ELSE ':443' END) ELSE '' END,
             '/', lang, '/page-', CAST(doc_id % 1000 AS VARCHAR),
             CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END,
             CASE WHEN doc_id % 7 = 0 THEN ''
                  WHEN doc_id % 2 = 0 THEN concat('?utm_source=feed&b=', CAST(doc_id % 3 AS VARCHAR), '&a=1')
                  ELSE concat('?a=1&b=', CAST(doc_id % 3 AS VARCHAR), '&fbclid=xyz') END,
             CASE WHEN doc_id % 3 = 0 THEN '#sec1' ELSE '' END
           ) AS u
    FROM documents
),
s1 AS (SELECT doc_id, split_part(u, '#', 1) AS nofrag FROM synth),
s2 AS (SELECT doc_id, lower(split_part(nofrag, '://', 1)) AS scheme,
              split_part(nofrag, '://', 2) AS rest FROM s1),
s3 AS (SELECT doc_id, scheme,
              lower(split_part(rest, '/', 1)) AS auth0,
              substring(rest, length(split_part(rest, '/', 1)) + 1) AS pathq
       FROM s2),
s4 AS (SELECT doc_id, scheme,
              CASE WHEN scheme = 'http' AND ends_with(auth0, ':80') THEN substring(auth0, 1, length(auth0) - 3)
                   WHEN scheme = 'https' AND ends_with(auth0, ':443') THEN substring(auth0, 1, length(auth0) - 4)
                   ELSE auth0 END AS host,
              split_part(pathq, '?', 1) AS path0,
              CASE WHEN instr(pathq, '?') > 0 THEN substring(pathq, instr(pathq, '?') + 1) ELSE '' END AS q
       FROM s3),
s5 AS (SELECT doc_id, scheme, host,
              CASE WHEN length(path0) > 1 AND ends_with(path0, '/')
                   THEN substring(path0, 1, length(path0) - 1) ELSE path0 END AS path,
              array_to_string(list_sort(list_filter(string_split(q, '&'),
                x -> NOT (starts_with(x, 'utm_') OR starts_with(x, 'fbclid')
                          OR starts_with(x, 'gclid') OR x = ''))), '&') AS qc
       FROM s4),
canon AS (
    SELECT doc_id, host,
           concat(scheme, '://', host, path,
                  CASE WHEN qc <> '' THEN concat('?', qc) ELSE '' END) AS canonical
    FROM s5
)
SELECT host,
       CAST(COUNT(*) AS BIGINT) AS n_raw,
       CAST(COUNT(DISTINCT canonical) AS BIGINT) AS n_canonical,
       CAST(ROUND(CAST(COUNT(*) - COUNT(DISTINCT canonical) AS DOUBLE)
                  / COUNT(*) * 1000000.0) AS BIGINT) AS dup_rate_ppm
FROM canon
GROUP BY 1
"""


register(
    QuerySpec(
        "url_canonicalize",
        q_url_canonicalize,
        _URL_SQL,
        "TD-urldedup",
        False,
        "URL canonicalization (scheme/host case, default ports, fragments, tracking params, param order, trailing slash) + per-host raw-vs-canonical dedup stats",
    )
)
