"""Verify stage: exact-Jaccard output against the brute-force oracle,
prefilter safety, title-case parity."""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
import pytest

from product_deduplication_spark.config import DedupConfig
from product_deduplication_spark.functions import hashing
from product_deduplication_spark.functions.features import SEED, with_features
from product_deduplication_spark.functions.normalize import title_case
from product_deduplication_spark.operators.verify import MARGIN, N_MIN, verify_pairs
from product_deduplication_spark.oracle.brute_force import exact_jaccard_pairs, shingle_sets


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


def test_verify_matches_brute_force_oracle(spark):
    """verify_pairs keeps exactly the pairs the brute-force oracle finds at
    the threshold, with the same similarities, over every pair of: long
    docs (over ``N_MIN`` shingles, so the estimate filters them), their
    near-copies and a half-and-half splice, plus two short near-copies below
    ``N_MIN`` (exact Jaccard 0.8, no estimate)."""
    rng = random.Random(3)
    vocab = [f"w{k}" for k in range(400)]
    words = [[rng.choice(vocab) for _ in range(60)] for _ in range(6)]
    texts = [" ".join(w) for w in words] + [
        " ".join(words[0][:-2]),
        " ".join(words[1] + ["tail"]),
        " ".join(words[2][:30] + words[3][30:]),
        "tiny page a b",
        "tiny page a c",
    ]
    cfg = DedupConfig(shuffle_partitions=4)
    sizes = [s.size for s in shingle_sets(texts, cfg)]
    assert min(sizes[:9]) >= N_MIN > max(sizes[9:])
    feats, pairs = _feats_and_pairs(spark, texts, cfg)
    got = {(r["src"], r["dst"]): r["similarity"] for r in verify_pairs(pairs, feats, cfg).collect()}
    want = exact_jaccard_pairs(list(range(len(texts))), texts, cfg)
    assert set(got) == set(zip(want["src"], want["dst"])) == {(0, 6), (1, 7), (9, 10)}
    for a, b, sim in want.itertuples(index=False):
        assert got[(a, b)] == pytest.approx(sim)


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
    sigs = list(hashing.oph_signatures(sets, hashing.minhash_seeds(cfg.num_hashes, SEED)))
    # the estimate verify computes, on 31-bit truncated signatures
    est = [np.mean((a & 0x7FFFFFFF) == (b & 0x7FFFFFFF)) for a, b in zip(sigs[::2], sigs[1::2])]
    assert min(est) < cfg.jaccard_threshold - MARGIN

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
