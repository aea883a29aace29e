"""Physical-plan properties (Catalyst integration) + skew-safety.

The scale story isn't just wall clock: these tests pin the plan shapes —
predicate pushdown reaches the parquet scan, column pruning trims ReadSchema,
small dims broadcast, and hot LSH buckets produce O(n) star edges instead of
O(n^2) pairs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from product_deduplication_spark.config import DedupConfig
from product_deduplication_spark.functions.features import with_features
from product_deduplication_spark.functions.hashing import band_hashes_from_signatures
from product_deduplication_spark.operators.exact_dedup import exact_duplicate_edges
from product_deduplication_spark.operators.lsh import candidate_pairs
from product_deduplication_spark.plans import queries as Q


def _plan(df) -> str:
    jvm = df.sparkSession._jvm
    return jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    plan = _plan(Q.q_scan_filter_project(spark, sf_dir))
    assert "PushedFilters" in plan
    # the quantity predicate must be pushed, not evaluated post-scan only
    assert "GreaterThan(l_quantity" in plan, plan[:2000]


def test_column_pruning_trims_read_schema(spark, sf_dir):
    plan = _plan(Q.q_scan_filter_project(spark, sf_dir))
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema, plan[:1000]
    line = read_schema[0]
    # only the 4 referenced columns are read — not l_extendedprice etc.
    assert "l_extendedprice" not in line
    assert "l_quantity" in line and "l_orderkey" in line


def test_small_dim_broadcasts(spark, sf_dir):
    plan = _plan(Q.q_join_inner(spark, sf_dir))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_hot_bucket_produces_linear_edges(spark):
    """1000 byte-identical docs share every band: a naive pair join emits
    ~499,500 pairs; the hub-star path must emit exactly n-1."""
    n = 1000
    docs = pd.DataFrame(
        {"doc_id": range(n), "text": ["identical boilerplate page text " * 10] * n}
    )
    cfg = DedupConfig(shuffle_partitions=8, bucket_cap=64)
    feats = with_features(spark.createDataFrame(docs), cfg).select(
        "doc_id", "shingles", "minhash", "simhash", "bands"
    )
    pairs = candidate_pairs(feats, cfg)
    assert pairs.count() == n - 1


def test_mixed_hot_and_normal_buckets(spark):
    """Hot group star-connects; small distinct near-dup pairs still pair up."""
    import random

    rng = random.Random(7)
    vocab = [f"w{k}" for k in range(3000)]
    hot = ["identical boilerplate page text " * 10] * 200
    normal = [" ".join(rng.sample(vocab, 60)) for _ in range(20)]
    docs = pd.DataFrame({"doc_id": range(220), "text": hot + normal})
    cfg = DedupConfig(shuffle_partitions=8, bucket_cap=64)
    feats = with_features(spark.createDataFrame(docs), cfg).select(
        "doc_id", "shingles", "minhash", "simhash", "bands"
    )
    n_pairs = candidate_pairs(feats, cfg).count()
    # hot star: 199 edges; normal docs are mutually dissimilar -> few extras
    assert 199 <= n_pairs <= 199 + 40


# 4-band/2-row config: band slices are sig[0:2], sig[2:4], sig[4:6], sig[6:8]
_LSH_CFG = DedupConfig(num_hashes=8, lsh_bands=4, bucket_cap=4, shuffle_partitions=8)


def _sig_features(spark, rows):
    """Hand-built (doc_id, minhash, bands) features for surgical LSH tests:
    band hashes come from the feature kernel's numpy banding, so equal
    signature slices collide exactly as in the pipeline."""
    sigs = np.array([sig for _, sig in rows], dtype=np.int64)
    bands = band_hashes_from_signatures(sigs, _LSH_CFG.lsh_bands)
    return spark.createDataFrame(
        [(i, sig, b.tolist()) for (i, sig), b in zip(rows, bands)],
        "doc_id long, minhash array<long>, bands array<long>",
    )


def _edge_set(df) -> set:
    return {(r["src"], r["dst"]) for r in df.collect()}


def _two_hot_band_fixture():
    """A (50) and B (51) agree ONLY on bands 0 and 1, and BOTH those buckets
    are hot (shared with 10 fillers each, hubs 0 and 20 — not duplicates of
    A/B). The only way to candidate (A, B) directly is secondary re-banding."""
    rows = []
    for i in range(10):  # band-0 hot fillers, hub = 0
        rows.append((i, [1, 1] + [10_000 + i, 1] + [20_000 + i, 1] + [30_000 + i, 1]))
    for i in range(10):  # band-1 hot fillers, hub = 20
        rows.append((20 + i, [40_000 + i, 1] + [2, 2] + [50_000 + i, 1] + [60_000 + i, 1]))
    rows.append((50, [1, 1] + [2, 2] + [70_001, 1] + [70_002, 1]))
    rows.append((51, [1, 1] + [2, 2] + [80_001, 1] + [80_002, 1]))
    return rows


def test_hot_bucket_secondary_reband_recovers_pair(spark):
    """Two docs whose only collisions are hot buckets must still become a
    DIRECT candidate pair (not just hub-star edges that verification can
    drop when the hub isn't a true duplicate)."""
    feats = _sig_features(spark, _two_hot_band_fixture())
    pairs = {(r["src"], r["dst"]) for r in candidate_pairs(feats, _LSH_CFG).collect()}
    assert (50, 51) in pairs
    # hub stars still present and linear
    assert (0, 50) in pairs and (20, 51) in pairs


def _still_hot_fixture():
    """The two-hot-band fixture plus a bucket-cap-busting block of 10
    identical signatures (ids 100-109): still-hot sub-buckets and a hub star
    on top of the fixture's hot and re-band cases."""
    return _two_hot_band_fixture() + [(100 + i, [7, 7, 8, 8, 9, 9, 10, 10]) for i in range(10)]


def test_bootstrap_fast_path_equals_general_path(spark):
    """Delta mode with every doc new (delta_ids = all ids) must emit EXACTLY
    the bootstrap pair set: every bucket is touched and every pair has a
    new end. Covers small buckets, hot buckets, secondary re-banding and
    still-hot stars via the still-hot fixture."""
    feats = _sig_features(spark, _still_hot_fixture())
    full = _edge_set(candidate_pairs(feats, _LSH_CFG))
    all_ids = feats.select(F.col("doc_id"))
    assert _edge_set(candidate_pairs(feats, _LSH_CFG, delta_ids=all_ids)) == full
    assert (50, 51) in full and (100, 101) in full


@pytest.mark.parametrize(
    "new_ids",
    [[51], [104], [-1], "all", []],
    ids=["reband_pair_only", "still_hot_member", "new_min_id_hub", "all_ids", "empty"],
)
def test_delta_candidates_equal_new_vs_all(spark, new_ids):
    """Delta mode emits exactly the full-mode pairs that touch a new doc —
    per-batch cost proportional to the delta, zero recall loss. Cases: 51,
    whose pair with 50 only re-banding finds; one member of the still-hot
    block; a new doc -1 that becomes the hot band-0 bucket's min-id hub;
    every id; and no id at all."""
    rows = _still_hot_fixture()
    rows.append((-1, [1, 1] + [90_001, 1] + [90_002, 1] + [90_003, 1]))
    feats = _sig_features(spark, rows)
    new = {i for i, _ in rows} if new_ids == "all" else set(new_ids)
    full = _edge_set(candidate_pairs(feats, _LSH_CFG))
    delta = spark.createDataFrame([(i,) for i in sorted(new)], "doc_id long")
    got = _edge_set(candidate_pairs(feats, _LSH_CFG, delta_ids=delta))
    assert got == {(s, d) for (s, d) in full if s in new or d in new}
    assert bool(got) == bool(new)
    if new_ids == [51]:
        assert (50, 51) in got


def test_delta_candidates_new_min_id_hub_reaches_old_members(spark):
    """A new doc that becomes the hot bucket's min-id hub must still emit
    star edges to the OLD members (otherwise the new doc is orphaned)."""
    rows = _two_hot_band_fixture()
    rows.append((-1, [1, 1] + [90_001, 1] + [90_002, 1] + [90_003, 1]))  # new min id
    feats = _sig_features(spark, rows)
    delta = spark.createDataFrame([(-1,)], "doc_id long")
    got = {
        (r["src"], r["dst"])
        for r in candidate_pairs(feats, _LSH_CFG, delta_ids=delta).collect()
    }
    # -1 is the new hub of the hot band-0 bucket: stars to every old member
    assert (-1, 0) in got and (-1, 50) in got and (-1, 51) in got


def _exact_fixture(spark):
    """Hash classes {10, 20, 30}, {40, 50}, {60} and {-5, 70, 80}."""
    rows = [(10, "alpha"), (20, "alpha"), (30, "alpha"), (40, "beta"), (50, "beta"),
            (60, "gamma"), (70, "delta"), (80, "delta"), (-5, "delta")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_delta_exact_edges_equal_new_vs_all(spark):
    """Delta mode emits exactly the full-mode edges of the hash classes that
    contain a new doc: a touched class emits its whole star, old-only and
    singleton classes emit nothing."""
    docs = _exact_fixture(spark)
    full = _edge_set(exact_duplicate_edges(docs))
    delta = spark.createDataFrame([(30,), (60,)], "doc_id long")
    got = _edge_set(exact_duplicate_edges(docs, delta_ids=delta))
    assert got == {(s, d) for (s, d) in full if s == 10}
    assert got == {(10, 20), (10, 30)}


def test_delta_exact_edges_new_min_id_hub_reaches_old_members(spark):
    """A new doc that becomes its class's min-id hub stars to the OLD
    members, as the full mode does."""
    docs = _exact_fixture(spark)
    full = _edge_set(exact_duplicate_edges(docs))
    delta = spark.createDataFrame([(-5,)], "doc_id long")
    got = _edge_set(exact_duplicate_edges(docs, delta_ids=delta))
    assert got == {(s, d) for (s, d) in full if s == -5}
    assert got == {(-5, 70), (-5, 80)}


def test_canonical_upsert_never_forces_broadcast(spark):
    """member_index / leader_index grow with the corpus — the upsert must
    not FORCE a broadcast of them (AQE may still pick one at runtime when
    the side is actually small; what's banned is the unconditional hint
    that would OOM the driver at 100x)."""
    from product_deduplication_spark.operators.canonical import upsert_canonical

    catalog = spark.createDataFrame(
        [(1, "leader a")], "canonical_id long, canonical_leader string"
    )
    links = spark.createDataFrame(
        [("u1", "n1", 1, "leader a", "member a", 0)],
        "item_uuid string, item_name string, canonical_id long, "
        "canonical_leader string, canonical_member string, agent_verified int",
    )
    groups = spark.createDataFrame(
        [(10, "leader b", "member b", "u2", "n2")],
        "group_id long, leader string, member string, item_uuid string, item_name string",
    )
    out_cat, out_links = upsert_canonical(catalog, links, groups)
    for df in (out_cat, out_links):
        lines = df._jdf.queryExecution().analyzed().toString().splitlines()
        for i, ln in enumerate(lines):
            if "ResolvedHint" in ln:
                # the only allowed forced broadcast is the O(numPartitions)
                # offsets map inside assign_sequential_ids
                nxt = lines[i + 1] if i + 1 < len(lines) else ""
                assert "_pid" in nxt and "_offset" in nxt, "\n".join(lines[i : i + 3])


def test_verify_join_never_broadcasts_features(spark):
    """The signature/shingle sides of verify_pairs grow with the corpus —
    the plan must use merge joins there regardless of (mis)estimated sizes
    (regression: a static broadcast of the features side collected ~1 GiB
    to the driver at 370k docs)."""
    from product_deduplication_spark.operators.verify import verify_pairs

    cfg = DedupConfig(shuffle_partitions=8)
    feats = with_features(
        spark.createDataFrame(
            pd.DataFrame({"doc_id": range(20), "text": [f"doc text {i} " * 20 for i in range(20)]})
        ),
        cfg,
    ).select("doc_id", "shingles", "minhash", "simhash", "bands")
    pairs = spark.createDataFrame([(0, 1), (2, 3)], "src long, dst long")
    plan = _plan(verify_pairs(pairs, feats, cfg))
    assert "BroadcastHashJoin" not in plan, plan[:3000]


def test_no_forced_broadcast_of_corpus_sides_across_operators(spark):
    """Sweep the operator surface: NO operator may carry an unconditional
    broadcast hint on a corpus-derived side (relations, images, links,
    features all grow with the catalog — a forced broadcast OOMs the
    driver at 100x; regression class: verify_pairs at 370k docs, round-2
    canonical/winner fixes).

    Allowed ResolvedHints: the O(numPartitions) _pid/_offset map inside
    assign_sequential_ids and the 1-row _mu/_sd scalar-stats frame in
    score_entities — both bounded by construction, not by data size."""
    from product_deduplication_spark.operators.canonical import (
        append_missing_members,
        bootstrap_canonical,
        upsert_canonical,
    )
    from product_deduplication_spark.operators.enrichment import (
        agg_images_bulk_reference_shape,
    )
    from product_deduplication_spark.operators.winner import score_entities

    rel = spark.createDataFrame(
        [("w1", "l1")], "winner_entity_uuid string, loser_entity_uuid string"
    )
    imgs = spark.createDataFrame(
        [("l1", "http://img/a.jpg", "IMAGE_SOURCE_CATALOG")],
        "ucpc_entity_uuid string, image_1 string, image_source_1 string",
    )
    links = spark.createDataFrame(
        [("u1", "n1", 1, "leader a", "member a", 0)],
        "item_uuid string, item_name string, canonical_id long, "
        "canonical_leader string, canonical_member string, agent_verified long",
    )
    catalog = spark.createDataFrame(
        [(1, "leader a")], "canonical_id long, canonical_leader string"
    )
    groups = spark.createDataFrame(
        [(10, "leader b", "member b", "u2", "n2")],
        "group_id long, leader string, member string, item_uuid string, item_name string",
    )
    missing = spark.createDataFrame([("m1", "New Prod")], "item_uuid string, item_name string")
    score_in = spark.createDataFrame(
        [("e1", *([1] * 14), 10, 8, 2, 10)],
        "entity_uuid string, "
        + ", ".join(
            f"{c} int"
            for c in __import__(
                "product_deduplication_spark.operators.winner", fromlist=["ATTRIBUTE_WEIGHTS"]
            ).ATTRIBUTE_WEIGHTS
        )
        + ", scans int, correct_scans int, incorrect_scans int, linked_products int",
    )

    boot_cat, boot_links = bootstrap_canonical(groups)
    ups_cat, ups_links = upsert_canonical(catalog, links, groups)
    app_cat, app_links = append_missing_members(catalog, links, missing)
    outputs = {
        "agg_images_bulk": agg_images_bulk_reference_shape(rel, imgs, n_slots=1),
        "bootstrap_links": boot_links,
        "upsert_links": ups_links,
        "append_catalog": app_cat,
        "append_links": app_links,
        "score_entities": score_entities(score_in),
    }
    for name, df in outputs.items():
        lines = df._jdf.queryExecution().analyzed().toString().splitlines()
        for i, ln in enumerate(lines):
            if "ResolvedHint" not in ln:
                continue
            ctx = "\n".join(lines[i : i + 4])
            assert ("_pid" in ctx and "_offset" in ctx) or (
                "_mu" in ctx and "_sd" in ctx
            ), f"{name}: forced broadcast of a corpus-derived side:\n{ctx}"


def _exchange_blocks(plan: str) -> list[str]:
    """Detail blocks of the formatted plan belonging to Exchange nodes,
    shuffle and broadcast alike: a broadcast side carrying ``text`` would
    ship the payload to every executor."""
    blocks, cur, keep = [], [], False
    for ln in plan.splitlines():
        if ln.startswith("(") and ") " in ln:
            if keep and cur:
                blocks.append("\n".join(cur))
            keep = ") Exchange" in ln or ") BroadcastExchange" in ln
            cur = [ln]
        elif cur:
            cur.append(ln)
    if keep and cur:
        blocks.append("\n".join(cur))
    return blocks


def test_winner_orderkey_keeps_text_out_of_exchanges(spark, sf_dir):
    """pick_winners ordering by a precomputed ``_text_len`` (what run_dedup
    passes): the text payload must not cross ANY exchange for a consumer
    that doesn't select it — the length is computed below the label join,
    so column pruning drops text from the join and window shuffles. The
    length(text)-above-the-join form (frozen callers without the column)
    must still produce the identical winner set."""
    from product_deduplication_spark.pipeline import pick_winners

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .withColumn("url", F.concat(F.lit("u"), F.col("doc_id").cast("string")))
    )
    labels = docs.select(
        F.col("doc_id").alias("node"), (F.col("doc_id") % 7).alias("component")
    )

    def clusters(d):
        return (
            d.join(labels, d["doc_id"] == labels["node"])
            .withColumn("cluster_id", F.col("component"))
            .drop("node", "component")
        )

    narrow = pick_winners(
        clusters(docs.withColumn("_text_len", F.length("text"))), "_text_len"
    )
    wide = pick_winners(clusters(docs))

    out = narrow.select("cluster_id", "is_winner")
    for block in _exchange_blocks(_plan(out)):
        assert "text#" not in block, f"text payload crosses an exchange:\n{block}"
    # control: the length(text)-above-the-join form ships text through a shuffle
    assert any(
        "text#" in b for b in _exchange_blocks(_plan(wide.select("cluster_id", "is_winner")))
    )

    got = sorted(
        narrow.where("is_winner").select("cluster_id", "url").collect()
    )
    want = sorted(wide.where("is_winner").select("cluster_id", "url").collect())
    assert got == want and len(got) == 7


def test_exchange_blocks_include_broadcasts():
    plan = (
        "(1) Scan parquet\nOutput [1]: [text#1]\n"
        "(2) BroadcastExchange\nInput [1]: [text#1]\n"
        "(3) Exchange\nInput [1]: [id#2]\n"
        "(4) BroadcastHashJoin\nLeft keys [1]: [text#1]\n"
    )
    blocks = _exchange_blocks(plan)
    assert [b.splitlines()[0] for b in blocks] == ["(2) BroadcastExchange", "(3) Exchange"]


def _persisted_feature_partitions(spark, texts) -> int:
    cfg = DedupConfig(shuffle_partitions=8)
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    )
    feats = with_features(df, cfg).persist()
    try:
        assert feats.count() == len(texts)
        return feats.rdd.getNumPartitions()
    finally:
        feats.unpersist()


def test_small_input_runs_one_feature_task(spark):
    """A 20-doc delta must not fan out to shuffle_partitions Arrow-UDF tasks:
    each Python task costs far more in worker setup than 20 docs of hashing.
    The rebalance exchange is coalesced by AQE inside the persisted plan."""
    texts = [f"delta document {i} with a little text " * 20 for i in range(20)]
    assert _persisted_feature_partitions(spark, texts) == 1


def test_multi_mb_input_still_spreads_feature_work(spark):
    """Several MB of (incompressible) text in a single-partition input is
    still split across cores before the Arrow UDF runs."""
    rng = np.random.default_rng(7)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz "))
    texts = ["".join(rng.choice(letters, 6000)) for _ in range(1000)]
    assert _persisted_feature_partitions(spark, texts) > 1
