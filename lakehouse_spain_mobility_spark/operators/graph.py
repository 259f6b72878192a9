"""Iterative graph operators: connected components via min-label
propagation.

The reference engine has no graph surface; this exists for the
duplicate-clustering step of a training-data curation pipeline — near-dup
*pairs* (from LSH/Jaccard, ``operators/dedup.py``) must be closed into
*clusters* before a keep-one-per-cluster policy is well-defined (keeping
"the first of each pair" over-deletes when A~B and B~C but A!~C).

Scale path: each iteration is one shuffle on the vertex id (join edges to
current labels + min-aggregate), i.e. the standard large-graph CC loop
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14
— the simple label-propagation variant; diameter-bounded iterations).
Near-dup graphs are piles of small cliques, so it converges in 2-3
rounds regardless of corpus size. ``localCheckpoint`` truncates lineage
each round, the same pattern as ``operators/clustering.py`` k-means.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame, src: str = "d1", dst: str = "d2", max_iter: int = 20
) -> DataFrame:
    """Return ``(vertex, component)`` where ``component`` is the minimum
    vertex id reachable from ``vertex`` over the undirected edge set.

    Converges when no label changes in a round (checked with a single
    count aggregate — a scalar action per iteration, like the k-means
    shift test). Labels initialize at the round-1 state (see below), so
    ``max_iter`` bounds the rounds AFTER the first; total propagation
    depth is ``max_iter + 1``. ``max_iter < 1`` raises ``ValueError``: with
    no loop round the convergence check never runs, and the round-1 labels
    would come back as if converged.
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    sym = edges.select(
        F.col(src).alias("a"), F.col(dst).alias("b")
    ).union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
    # Lazy localCheckpoint: materialization piggybacks on the first
    # round's convergence count instead of costing a dedicated job per
    # frame (driver-side job launches were ~half the operator's wall-clock
    # at bench scale — PERF.md round 3). localCheckpoint, not persist():
    # persisted plans enter the cache manager and silently substitute into
    # later identical plans (cross-query contamination); checkpoints also
    # truncate lineage so the per-round plan stays O(1).
    sym = sym.distinct().localCheckpoint(eager=False)

    # Fused init (r11): labels start at the state AFTER the first
    # propagation round — min(own, min over neighbours) — computed by ONE
    # aggregation over sym instead of the identity-labels distinct + a
    # full round-1 (join + union + min-agg + convergence-count job). Every
    # vertex appears as `a` in the symmetrized edge set, so the vertex
    # set is identical, and min-label propagation from the round-1 state
    # reaches the same fixed point one round sooner: the loop below runs
    # diameter rounds instead of diameter+1. Per-group aggregation state
    # is one value (spill-safe). Paired A/B at sf0.1 (rows identical):
    # dedup_clusters 2.67 -> 2.46 s, cluster_representatives 3.25 ->
    # 2.79 s min-of-3.
    labels = (
        sym.groupBy("a")
        .agg(F.min(F.least(F.col("a"), F.col("b"))).alias("component"))
        .select(F.col("a").alias("vertex"), "component")
    ).localCheckpoint(eager=False)

    for _ in range(max_iter):
        # candidate label for each vertex: min of own label and the labels
        # of all neighbours (one shuffle join + one min-aggregate). The
        # own-label rows carry the previous component in `old`, so the same
        # aggregation yields both the new labels AND the convergence test —
        # no extra join-per-round (each vertex appears exactly once in
        # `labels`, so MAX(old) recovers its previous component; neighbour
        # rows contribute NULL old, which MAX ignores).
        neighbour = (
            sym.join(labels, sym["b"] == labels["vertex"])
            .select(
                F.col("a").alias("vertex"),
                "component",
                F.lit(None).cast(labels.schema["component"].dataType).alias("old"),
            )
        )
        own = labels.select("vertex", "component", F.col("component").alias("old"))
        new_full = (
            own.union(neighbour)
            .groupBy("vertex")
            .agg(F.min("component").alias("component"), F.max("old").alias("old"))
        ).localCheckpoint(eager=False)

        # Full count (no limit): the scan materializes every cached
        # partition of new_full in this one job, so the next round never
        # recomputes through an unpersisted parent.
        changed = new_full.filter(F.col("component") != F.col("old")).count()
        labels = new_full.select("vertex", "component")
        if changed == 0:
            break
    return labels


def sql_connected_components(edges_sql: str, src: str = "d1", dst: str = "d2") -> str:
    """DuckDB oracle: transitive closure by recursive CTE (UNION dedups the
    frontier, so it terminates), then component = min reachable vertex.
    O(n·m) rows — fine at oracle scale, never the scale path."""
    return f"""
    WITH RECURSIVE edges AS ({edges_sql}),
    sym AS (
        SELECT {src} AS a, {dst} AS b FROM edges
        UNION
        SELECT {dst} AS a, {src} AS b FROM edges
    ),
    reach(a, b) AS (
        SELECT a, b FROM sym
        UNION
        SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    )
    SELECT a AS vertex, LEAST(a, MIN(b)) AS component
    FROM reach GROUP BY a"""
