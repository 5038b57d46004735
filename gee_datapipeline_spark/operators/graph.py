"""Connected components for dedup clustering (large-star / small-star).

Near-duplicate detection (MinHash-LSH, SimHash, n-gram Jaccard,
embedding cosine — ``functions.dedup``, ``plans.text_queries``) emits
PAIRS; a training-data pipeline needs CLUSTERS ("keep one doc per
component"). That closure is a connected-components computation on the
pair graph.

Algorithm: alternating large-star / small-star contraction (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC'14 — public
literature). Each round is two groupBy/join passes expressible as pure
DataFrame ops; converges in O(log n) rounds even on path graphs, vs
O(diameter) for naive label propagation. This is the 100 TB-safe
choice: every step is a shuffle on node id with map-side combine, no
driver-side state beyond the convergence counter, and lineage is cut
every round via localCheckpoint so the plan doesn't grow unboundedly.

- large-star(u): connect every neighbor v > u to m = min(N(u) ∪ {u}).
- small-star(u): connect every neighbor v ≤ u to m.

At fixpoint every node points at its component's minimum id, which
becomes the canonical ``cluster_id``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Upper bound on connected_components' star-contraction rounds; the
# loop normally stops earlier, at the fixpoint (O(log n) rounds).
CC_MAX_ROUNDS = 25


def _star_round(edges: DataFrame, large: bool) -> DataFrame:
    """One large- or small-star contraction over symmetric edges.

    Implemented as agg + equi-join, NOT collect_set: a star center's
    neighborhood is the whole component, and materializing that as one
    array row is exactly the skew bomb this operator exists to avoid.
    The join re-shuffles on the same key as the agg, so AQE coalesces
    it into the cheapest possible exchange."""
    mins = edges.groupBy("u").agg(
        F.least(F.min("v"), F.first("u")).alias("m")
    )
    keep = F.col("v") > F.col("u") if large else F.col("v") <= F.col("u")
    out = (
        edges.join(mins, on="u")
        .filter(keep)
        .select(F.col("v").alias("a"), F.col("m").alias("b"))
    )
    if not large:
        # small-star must also re-link each node itself to its min
        # (Kiveris et al. §3: emit (u, m) for u ∈ N≤(v) ∪ {v}) — without
        # it a two-node component's only edge self-cancels and the
        # component dissolves.
        out = out.unionByName(
            mins.select(F.col("u").alias("a"), F.col("m").alias("b"))
        )
    # no distinct here: the following _symmetric() dedups, and one
    # shuffle per star beats two
    return out.filter(F.col("a") != F.col("b"))


def _symmetric(pairs: DataFrame) -> DataFrame:
    fwd = pairs.select(F.col("a").alias("u"), F.col("b").alias("v"))
    rev = pairs.select(F.col("b").alias("u"), F.col("a").alias("v"))
    return fwd.unionByName(rev).filter(F.col("u") != F.col("v")).distinct()


def connected_components(
    pairs: DataFrame,
    src: str = "a",
    dst: str = "b",
) -> DataFrame:
    """(src, dst) pair graph → (node bigint, cluster_id bigint).

    ``cluster_id`` is the minimum node id of the component. Every node
    that appears in any pair gets a row; callers left-join docs and
    ``coalesce(cluster_id, doc_id)`` to cover singletons."""
    edges = pairs.select(
        F.col(src).cast("long").alias("a"), F.col(dst).cast("long").alias("b")
    )
    def _stats(df: DataFrame):
        # decimal sum: full-range longs would overflow BIGINT
        h = F.xxhash64(F.least("u", "v"), F.greatest("u", "v"))
        row = df.select(
            F.count(F.lit(1)).alias("n"),
            F.sum(h.cast("decimal(30,0)")).alias("h"),
        ).first()
        return (row["n"], row["h"])

    cur = _symmetric(edges).localCheckpoint(eager=True)
    stats_prev = _stats(cur)
    for _ in range(CC_MAX_ROUNDS):
        after_large = _symmetric(_star_round(cur, large=True))
        after_small = _symmetric(_star_round(after_large, large=False))
        cur = after_small.localCheckpoint(eager=True)
        # fixpoint: the edge set stopped changing (same count + same
        # unordered-pair checksum). The stats read is a separate job,
        # but it runs over the 1-partition checkpointed output (~0.2 s);
        # folding it into the checkpoint job via observe() was tried
        # (r11) and measured SLOWER — min 8.45 s vs 6.21 s for
        # dedup_clusters at sf0.1 — the Observation listener's
        # async delivery per round costs more than the tiny job saved.
        stats_next = _stats(cur)
        if stats_next == stats_prev:
            break
        stats_prev = stats_next
    # At fixpoint the graph is a union of stars centered at each
    # component's min node: every node's min neighbor IS the center
    # (and centers keep themselves via the union below).
    membership = cur.groupBy(F.col("u").alias("node")).agg(
        F.min("v").alias("cluster_id")
    )
    centers = membership.select(
        F.col("cluster_id").alias("node"), F.col("cluster_id")
    ).distinct()
    return (
        membership.withColumn(
            "cluster_id", F.least("node", "cluster_id")
        )
        .unionByName(centers)
        .groupBy("node")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )
