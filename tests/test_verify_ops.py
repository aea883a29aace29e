"""Verify-stage knobs: candidate cap (reference ntop=25), prefilter safety,
title-case parity."""

from __future__ import annotations

import numpy as np
import pandas as pd

from product_deduplication_spark.config import DedupConfig
from product_deduplication_spark.functions import hashing
from product_deduplication_spark.functions.features import with_features
from product_deduplication_spark.functions.normalize import title_case
from product_deduplication_spark.operators.verify import N_MIN, verify_pairs


def _feats_and_pairs(spark, texts, cfg):
    docs = pd.DataFrame({"doc_id": range(len(texts)), "text": texts})
    feats = with_features(spark.createDataFrame(docs), cfg).select(
        "doc_id", "shingles", "minhash", "simhash"
    )
    n = len(texts)
    pairs = spark.createDataFrame(
        [(i, j) for i in range(n) for j in range(i + 1, n)], "src long, dst long"
    )
    return feats, pairs


def test_candidate_cap_per_doc(spark):
    """O2: rank-cap keeps only the top-k strongest matches per src
    (reference/static.py:194 ntop semantics)."""
    base = "the quick brown fox jumps over the lazy dog and runs far away " * 4
    texts = [base] + [base + f" tail{i}" for i in range(6)]
    cfg = DedupConfig(shuffle_partitions=4, jaccard_threshold=0.5, prefilter_margin=None)
    feats, pairs = _feats_and_pairs(spark, texts, cfg)
    uncapped = verify_pairs(pairs, feats, cfg)
    n_for_src0 = uncapped.where("src = 0").count()
    assert n_for_src0 == 6
    capped = verify_pairs(pairs, feats, cfg.with_(candidate_cap_per_doc=3))
    assert capped.where("src = 0").count() == 3
    # the kept 3 follow the operator's deterministic order: sim desc, dst asc
    top = {r["dst"] for r in capped.where("src = 0").collect()}
    ranked = sorted(
        uncapped.where("src = 0").collect(), key=lambda r: (-r["similarity"], r["dst"])
    )
    assert top == {r["dst"] for r in ranked[:3]}


def test_prefilter_never_drops_threshold_pairs(spark):
    """Prefilter on vs off must yield identical verified edges (the margin
    is at least 6 sigma where the filter applies — this is the practical
    check of that claim)."""
    rng_texts = [
        ("hello world this is a long document about spark and data " * 3) + f"v{i}"
        for i in range(10)
    ]
    near = [rng_texts[0] + " extra", rng_texts[0] + " other extra"]
    cfg_on = DedupConfig(shuffle_partitions=4, jaccard_threshold=0.7)
    cfg_off = cfg_on.with_(prefilter_margin=None)
    feats, pairs = _feats_and_pairs(spark, rng_texts + near, cfg_on)
    on = {(r["src"], r["dst"]) for r in verify_pairs(pairs, feats, cfg_on).collect()}
    off = {(r["src"], r["dst"]) for r in verify_pairs(pairs, feats, cfg_off).collect()}
    assert on == off
    assert on  # some near pairs exist


def test_prefilter_keeps_short_near_copies(spark):
    """Pairs of 20-shingle sets at Jaccard 18/22 = 0.82: their 126-bin OPH
    estimate has sd ~0.08, so some read below the 0.55 cutoff. Every pair
    must still be verified, because the estimate is only trusted when both
    sets have at least ``N_MIN`` shingles. Two more pairs with fabricated
    disagreeing signatures pin that boundary: identical sets below
    ``N_MIN`` are kept, identical sets at ``N_MIN`` are filtered."""
    cfg = DedupConfig(shuffle_partitions=4)
    rng = np.random.default_rng(0)
    sets = []
    for _ in range(600):
        u = rng.choice(2**32, size=22, replace=False).astype(np.uint32)
        sets += [np.unique(u[:20]), np.unique(u[2:])]
    sigs = list(hashing.oph_signatures(sets, hashing.minhash_seeds(cfg.num_hashes, cfg.seed)))
    # the estimate verify computes, on 31-bit truncated signatures
    est = [np.mean((a & 0x7FFFFFFF) == (b & 0x7FFFFFFF)) for a, b in zip(sigs[::2], sigs[1::2])]
    assert min(est) < cfg.jaccard_threshold - cfg.prefilter_margin

    small, big = np.arange(20, dtype=np.uint32), np.arange(N_MIN, dtype=np.uint32)
    sets += [small, small, big, big]
    sigs += [np.arange(cfg.num_hashes), np.arange(cfg.num_hashes) + 1000] * 2
    feats = spark.createDataFrame(
        [(i, sh.view(np.int32).tolist(), sig.tolist()) for i, (sh, sig) in enumerate(zip(sets, sigs))],
        "doc_id long, shingles array<int>, minhash array<long>",
    )
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(0, len(sets), 2)], "src long, dst long"
    )
    got = {r["src"] for r in verify_pairs(pairs, feats, cfg).collect()}
    assert got == set(range(0, len(sets) - 2, 2))


def test_title_case_variants(spark):
    df = spark.createDataFrame([("coca-cola 330ml",)], "name string")
    initcap = title_case(df, "name", "t").collect()[0]["t"]
    pandas_t = title_case(df, "name", "t", pandas_semantics=True).collect()[0]["t"]
    assert initcap == "Coca-cola 330ml"   # initcap: after whitespace only
    assert pandas_t == "Coca-Cola 330Ml"  # str.title: after any non-alpha
