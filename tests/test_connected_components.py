"""CC correctness vs a union-find oracle (SURVEY.md §5.1: invariant under
edge permutation; exact component equality).

connected_components has two paths: small edge lists finish on the driver,
larger ones run the large-star/small-star loop. ``_run`` labels every graph
both ways — ``LOCAL_MAX_EDGES`` patched to 0 forces the loop — and requires
identical labels before any test compares them with its expectation."""

from __future__ import annotations

import random

import numpy as np
import pytest

from product_deduplication_spark.operators import connected_components as cc
from product_deduplication_spark.operators.connected_components import (
    assign_clusters,
    connected_components,
)
from product_deduplication_spark.oracle.brute_force import union_find_clusters


def _labels(df):
    return {r["node"]: r["component"] for r in connected_components(df).collect()}


def _run(spark, edges):
    df = spark.createDataFrame(edges, "src long, dst long")
    driver = _labels(df)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(cc, "LOCAL_MAX_EDGES", 0)
        loop = _labels(df)
    assert driver == loop
    return driver


def test_cc_simple_chain(spark):
    labels = _run(spark, [(1, 2), (2, 3), (3, 4), (10, 11)])
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_cc_self_loops_and_duplicates(spark):
    labels = _run(spark, [(5, 5), (1, 2), (2, 1), (1, 2)])
    assert labels == {1: 1, 2: 1}


def test_cc_empty(spark):
    assert _run(spark, []) == {}


def test_cc_loop_raises_when_not_converged(spark, monkeypatch):
    monkeypatch.setattr(cc, "LOCAL_MAX_EDGES", 0)
    df = spark.createDataFrame([(i, i + 1) for i in range(8)], "src long, dst long")
    with pytest.raises(RuntimeError, match="did not converge in 1 iterations"):
        connected_components(df, max_iter=1)


def test_local_components_long_shuffled_chain():
    """Pointer jumping labels a path in O(log n) passes; min-label
    propagation would need one per hop."""
    rng = np.random.default_rng(0)
    order = rng.permutation(5000).astype(np.int64) * 7 - 100
    u, v = np.maximum(order[1:], order[:-1]), np.minimum(order[1:], order[:-1])
    labels = cc._local_components(u, v)
    assert np.array_equal(labels["node"], np.sort(order))
    assert (labels["component"] == order.min()).all()


@pytest.mark.parametrize("seed", [0, 1])
def test_cc_random_graph_matches_union_find(spark, seed):
    rng = random.Random(seed)
    nodes = list(range(200))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(150)]
    labels = _run(spark, edges)
    involved = sorted({n for e in edges for n in e if e[0] != e[1]})
    oracle = union_find_clusters(involved, [e for e in edges if e[0] != e[1]])
    assert labels == {n: oracle[n] for n in involved}


def test_cc_edge_permutation_invariance(spark):
    rng = random.Random(3)
    edges = [(rng.randrange(50), rng.randrange(50)) for _ in range(40)]
    l1 = _run(spark, edges)
    shuffled = edges[:]
    rng.shuffle(shuffled)
    l2 = _run(spark, [(b, a) for a, b in shuffled])
    assert l1 == l2


def test_assign_clusters_includes_singletons(spark):
    docs = spark.createDataFrame([(1, "a"), (2, "b"), (99, "z")], "doc_id long, text string")
    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    rows = {r["doc_id"]: r["cluster_id"] for r in assign_clusters(docs, edges).collect()}
    assert rows == {1: 1, 2: 1, 99: 99}


def test_simhash_disabled_features_fail_loudly_in_simhash_join(spark):
    """simhash=False emits NULL fingerprints; feeding such features to
    simhash_candidate_pairs must raise, not silently collide every doc in
    one bucket (the 0-sentinel failure mode)."""
    import pandas as pd
    import pytest as _pytest
    from pyspark.sql import functions as F

    from product_deduplication_spark.config import DedupConfig
    from product_deduplication_spark.functions.features import with_features
    from product_deduplication_spark.operators.simhash_join import (
        simhash_candidate_pairs,
    )

    cfg = DedupConfig(shuffle_partitions=4)
    feats = with_features(
        spark.createDataFrame(
            pd.DataFrame({"doc_id": range(6), "text": [f"some text {i} " * 10 for i in range(6)]})
        ),
        cfg,
        simhash=False,
    )
    assert feats.where(F.col("simhash").isNull()).count() == 6
    with _pytest.raises(Exception, match="simhash=False"):
        simhash_candidate_pairs(feats).count()


@pytest.mark.parametrize("seed", [0, 5])
def test_contracted_labels_equal_plain_cc(spark, seed):
    """assign_clusters_contracted (exact-star classes contracted out of the
    iterative stage) must produce the SAME labels as plain assign_clusters
    over the union of star + near edges — including hubs with no near
    edges, near edges between members of the same star class (contracted
    self-loops), near edges touching docs outside any star class, and
    singleton docs."""
    from product_deduplication_spark.operators.connected_components import (
        assign_clusters_contracted,
    )

    rng = random.Random(seed)
    n = 300
    docs = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    # random disjoint exact classes: hub = min of class (exact_dedup shape)
    pool = list(range(n))
    rng.shuffle(pool)
    star = []
    i = 0
    while i < len(pool) - 1 and len(star) < 80:
        size = rng.randrange(2, 6)
        cls = sorted(pool[i : i + size])
        star.extend((cls[0], m) for m in cls[1:])
        i += size
    near = [(rng.randrange(n), rng.randrange(n)) for _ in range(120)]
    near = [(a, b) for a, b in near if a != b]
    star_df = spark.createDataFrame(star, "src long, dst long")
    near_df = spark.createDataFrame(near, "src long, dst long")
    union_df = star_df.unionByName(near_df)
    plain = {
        r["doc_id"]: r["cluster_id"] for r in assign_clusters(docs, union_df).collect()
    }
    contracted = {
        r["doc_id"]: r["cluster_id"]
        for r in assign_clusters_contracted(docs, star_df, near_df).collect()
    }
    assert plain == contracted
