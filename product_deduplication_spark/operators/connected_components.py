"""Connected components: a driver-side union-find for small graphs,
alternating large-star / small-star for large ones.

Replaces the reference's sequential greedy group-union loop
(``reference/static.py:127-175``, driver loop ``static.py:286-289``;
SURVEY.md A12). Equivalence: the reference merges any overlapping groups
transitively, so its final partitions equal connected components over the
verified-pair edge list (SURVEY.md §2.8 note on V7/A12) — large-star/
small-star computes exactly that in O(log n) rounds (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC 2014).

The edge list is first canonicalized (u > v, distinct, no self-loops) and
checkpointed eagerly with ``localCheckpoint``; one bounded collect then
decides the path:

- Small graphs finish on the driver. The loop's per-round job latency is
  the whole cost at a few thousand edges, so up to ``LOCAL_MAX_EDGES``
  edges are labelled by a numpy union-find (``_local_components``). The
  limit is a constant, not a config field: both paths label identically,
  so it only bounds driver memory (about 16 MB of Arrow).
- Larger graphs run the large-star/small-star loop. Each round is two
  window-min passes (one exchange of the edge list each — see
  _large_star) plus a dedup, and ends in a lazy ``localCheckpoint`` that
  truncates lineage (SURVEY.md §4.2). Convergence: a stable edge count
  (one count per round, which also materializes the checkpoint) and a
  star-forest edge set (``_is_star_forest`` — a fixed point of both star
  ops, so the round that reaches it is the last).

At scale: all exchanges are on long node ids. A hot root (giant component)
concentrates its O(degree) neighbor rows on one reducer, and the per-row
work there is a running min, never a pairwise blowup.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F

from product_deduplication_spark.caching import CacheScope, persist_in

# largest canonical edge list that connected_components finishes on the driver
LOCAL_MAX_EDGES = 1 << 20


def _canonical(edges: DataFrame, by_u: bool = False) -> DataFrame:
    """Undirected edge set as (u > v) pairs, no self-loops, distinct.

    ``by_u`` partitions by ``u`` alone: HashPartitioning(u) satisfies the
    dedup's ClusteredDistribution(u, v) AND the following small-star
    window's ClusteredDistribution(u), so the dedup and the window share ONE
    exchange (verified in the plan: Exchange → two HashAggregates → Sort →
    Window, no second exchange) instead of the dedup exchanging by (u, v)
    and the window re-exchanging by u."""
    e = edges.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    ).where(F.col("u") != F.col("v"))
    return (e.repartition("u") if by_u else e).dropDuplicates(["u", "v"])


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node, connect strictly-larger neighbors to the min of the
    closed neighborhood.

    The neighborhood min comes from a window over the doubled edge list —
    ONE exchange of it — instead of the former groupBy + join-back, which
    exchanged it twice per round (each round of the CC loop ran both star
    ops, so this halves the loop's shuffled bytes and its stage count)."""
    nbrs = edges.select(F.col("u").alias("a"), F.col("v").alias("b")).unionAll(
        edges.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    mn = F.min("b").over(Window.partitionBy("a"))
    return (
        nbrs.withColumn("m", F.least(F.col("a"), mn))
        .where(F.col("b") > F.col("a"))
        .select(F.col("b").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Connect all smaller-or-equal neighbors (and self) to the neighborhood
    min. Same window fusion as _large_star; the self edge is emitted once
    per input edge instead of once per node (duplicates collapse in the
    _canonical() that always follows in the loop)."""
    m = F.min("v").over(Window.partitionBy("u"))
    e2 = edges.select("u", F.col("v").alias("src"), m.alias("dst"))
    moved = e2.select("src", "dst")
    self_edges = e2.select(F.col("u").alias("src"), "dst")
    return moved.unionAll(self_edges)


def _is_star_forest(edges: DataFrame) -> bool:
    """True iff the canonical (u > v, distinct) edge set is a star forest:
    every u appears in exactly one edge, and no node is both a member (u)
    and a root (v). A star forest is a FIXED POINT of both star operations
    (large-star: a root's closed-neighborhood min is itself; small-star:
    each member's single neighbor is already the min), so this detects
    convergence one round EARLIER than the former multiset-signature
    compare, which needed an extra full round just to observe stability.
    One exchange on node ids + a scalar isEmpty."""
    ends = edges.select(
        F.col("u").alias("n"), F.lit(1).alias("cu"), F.lit(0).alias("cv")
    ).unionAll(edges.select(F.col("v").alias("n"), F.lit(0), F.lit(1)))
    per = ends.groupBy("n").agg(F.sum("cu").alias("cu"), F.sum("cv").alias("cv"))
    return per.where(
        (F.col("cu") > 1) | ((F.col("cu") > 0) & (F.col("cv") > 0))
    ).isEmpty()


def _local_components(u: np.ndarray, v: np.ndarray) -> pd.DataFrame:
    """(node, component = min id): hook each edge's larger root to its
    smaller root, pointer-jump to roots, repeat until no edge joins two
    roots. O(log n) passes on a chain, where min-label propagation needs one
    per hop; sorted ``ids`` make the min index the min id."""
    ids, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    a, b = inv[: len(u)], inv[len(u) :]
    lab = np.arange(len(ids))
    while True:
        ra, rb = lab[a], lab[b]
        if (ra == rb).all():
            return pd.DataFrame({"node": ids, "component": ids[lab]})
        np.minimum.at(lab, np.maximum(ra, rb), np.minimum(ra, rb))
        while not np.array_equal(nxt := lab[lab], lab):
            lab = nxt


def connected_components(edges: DataFrame, max_iter: int = 50) -> DataFrame:
    """Labels (node, component) for every node appearing in ``edges``;
    component = min node id of the component (deterministic labeling,
    mirrors SURVEY.md §5.2 "min-member-id labeled partitions").

    At most ``LOCAL_MAX_EDGES`` canonical edges (or none) are labelled on the
    driver; more run the large-star/small-star loop, which raises
    ``RuntimeError`` if not converged after ``max_iter`` rounds."""
    # eager: the driver/loop split below reads the edges once, and the loop
    # starts from these rows instead of re-running the lineage above
    e = _canonical(edges).localCheckpoint(eager=True)
    small = e.limit(LOCAL_MAX_EDGES + 1).toArrow()
    if small.num_rows <= LOCAL_MAX_EDGES:
        labels = _local_components(small["u"].to_numpy(), small["v"].to_numpy())
        return edges.sparkSession.createDataFrame(labels, "node long, component long")
    prev_n = None
    for _ in range(max_iter):
        e = _canonical(_large_star(e), by_u=True)
        # lazy checkpoint: the count action below materializes it, so a
        # round costs ONE driver round-trip, not two (per-round driver
        # latency is the main serial fraction at high core counts)
        e = _canonical(_small_star(e)).localCheckpoint(eager=False)
        # stable edge COUNT is a cheap necessary condition for convergence;
        # only then pay the star-forest check (sufficient: a star forest is
        # a fixed point, see _is_star_forest — the round that REACHES the
        # forest is the last one, no confirmation round needed)
        n = e.count()
        if n == prev_n and _is_star_forest(e):
            break
        prev_n = n
    else:
        raise RuntimeError(f"connected_components did not converge in {max_iter} iterations")
    # converged star: every edge is (member u -> root v)
    members = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    roots = e.select(F.col("v").alias("node"), F.col("v").alias("component")).distinct()
    return members.unionByName(roots).dropDuplicates(["node"])


def assign_clusters(docs: DataFrame, edges: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Every doc gets a cluster_id: its component root, or itself if unlinked."""
    labels = connected_components(edges)
    return (
        docs.join(labels, docs[id_col] == labels["node"], "left")
        .withColumn("cluster_id", F.coalesce(F.col("component"), F.col(id_col)))
        .drop("node", "component")
    )


def assign_clusters_contracted(
    docs: DataFrame,
    star_edges: DataFrame,
    other_edges: DataFrame,
    id_col: str = "doc_id",
    scope: CacheScope | None = None,
) -> DataFrame:
    """assign_clusters with the exact-duplicate classes CONTRACTED out of
    the iterative stage.

    ``star_edges`` are (src=hub, dst=member) with hub = min id of its class
    (exact_duplicate_edges shape). Because every contracted-away member is
    strictly greater than its hub, the min-id component labels over the
    contracted graph equal the uncontracted labels exactly (the hub is in
    the same component, so a member can never be the component minimum) —
    pinned against plain assign_clusters in tests/test_connected_components.

    Why: on web corpora exact duplicates dominate the edge list (boilerplate
    / mirrored pages). Star classes are ALREADY components; routing them
    through large-star/small-star just re-derives that at O(rounds) driver
    actions over the largest relation. Contraction rewrites near-dup edges
    through the member→hub map (one broadcast-or-merge join per side), runs
    the O(log n) loop on the near-dup graph only, and expands members back
    with a single join."""
    mapping = star_edges.select(F.col("dst").alias("node"), F.col("src").alias("root"))
    # the mapping feeds THREE consumers (src rewrite, dst rewrite, member
    # expansion) — persist so the star-edge derivation (e.g. the sha2
    # groupBy over the corpus) runs once; member rows only, released via
    # ``scope`` by the caller once the labels are materialized (see
    # caching.py for why CacheManager entries outlive the DAG otherwise)
    mapping = persist_in(mapping, scope)
    ma = mapping.select(F.col("node").alias("src"), F.col("root").alias("_ra"))
    mb = mapping.select(F.col("node").alias("dst"), F.col("root").alias("_rb"))
    contracted = (
        other_edges.select("src", "dst")
        .join(ma, "src", "left")
        .join(mb, "dst", "left")
        .select(
            F.coalesce("_ra", "src").alias("src"), F.coalesce("_rb", "dst").alias("dst")
        )
        .where(F.col("src") != F.col("dst"))
    )
    labels = connected_components(contracted)
    # members inherit their hub's component; a hub with no near edges has no
    # label row and the member labels fall back to the hub id itself
    member_labels = (
        mapping.join(labels.withColumnRenamed("node", "root"), "root", "left")
        .select("node", F.coalesce("component", F.col("root")).alias("component"))
    )
    all_labels = labels.unionByName(member_labels)
    return (
        docs.join(all_labels, docs[id_col] == all_labels["node"], "left")
        .withColumn("cluster_id", F.coalesce(F.col("component"), F.col(id_col)))
        .drop("node", "component")
    )
