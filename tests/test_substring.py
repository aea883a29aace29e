"""Substring-containment dedup: winnowing guarantee + exact verification."""

from __future__ import annotations

import numpy as np

from product_deduplication_spark.config import DedupConfig
from product_deduplication_spark.datagen import generate_web_documents
from product_deduplication_spark.operators.substring import (
    substring_duplicate_edges,
    winnow_fingerprints,
)

CFG = DedupConfig(shuffle_partitions=8)


def test_winnow_substring_shares_fingerprints():
    rng = np.random.default_rng(0)
    vocab = [f"tok{i}" for i in range(200)]
    big = " ".join(rng.choice(vocab, 300))
    small = big[200:800]  # contiguous slice
    fb = winnow_fingerprints(big)
    fs = winnow_fingerprints(small)
    assert fs.size > 0
    frac = np.isin(fs, fb).mean()
    assert frac >= 0.9  # interior fingerprints all shared


def test_winnow_unrelated_texts_share_little():
    rng = np.random.default_rng(1)
    vocab = [f"tok{i}" for i in range(200)]
    t1 = " ".join(rng.choice(vocab, 300))
    t2 = " ".join(rng.choice(vocab, 300))
    f1, f2 = winnow_fingerprints(t1), winnow_fingerprints(t2)
    assert np.isin(f2, f1).mean() < 0.2


def test_winnow_short_and_empty():
    assert winnow_fingerprints("", 20, 31).size == 0
    assert winnow_fingerprints("short", 20, 31).size == 0
    assert winnow_fingerprints("x" * 25, 20, 31).size >= 1


def test_substring_edges_found_and_exact(spark):
    docs_pdf, truth = generate_web_documents(n_base_docs=120, seed=5)
    sdf = spark.createDataFrame(docs_pdf[["url", "text"]]).selectExpr(
        "xxhash64(url) as doc_id", "url", "text"
    )
    edges = substring_duplicate_edges(sdf, CFG).collect()
    id2url = {r["doc_id"]: r["url"] for r in sdf.select("doc_id", "url").collect()}
    url2text = dict(zip(docs_pdf["url"], docs_pdf["text"]))
    found = {(id2url[r["src"]], id2url[r["dst"]]) for r in edges}
    # every found edge is a true byte containment (precision 1.0)
    for big, small in found:
        assert url2text[small] in url2text[big]
    # recall over truth substring pairs (url_a = container)
    sub_truth = {
        (a, b)
        for a, b, k in truth.itertuples(index=False)
        if k == "substring"
    }
    assert sub_truth, "corpus has no substring pairs"
    hits = sum((a, b) in found for a, b in sub_truth)
    assert hits / len(sub_truth) >= 0.99, (hits, len(sub_truth))


def test_boilerplate_heavy_containment_still_found(spark):
    """A contained doc that is mostly hot boilerplate must still be found:
    hot fingerprints are excluded from the containment DENOMINATOR, not just
    the join (regression for the silent hot-drop)."""
    import random

    rng = random.Random(3)
    vocab = [f"w{i}" for i in range(500)]
    boiler = " ".join(rng.choice(vocab) for _ in range(400))  # shared by many
    distinct = " ".join(rng.choice(vocab) for _ in range(120))
    small = boiler + " " + distinct            # ~77% boilerplate
    big = small + " " + " ".join(rng.choice(vocab) for _ in range(200))
    rows = [("big", big), ("small", small)]
    # 30 other docs carrying the same boilerplate -> its fps exceed the cap
    for i in range(30):
        rows.append((f"noise{i}", boiler + " " + " ".join(rng.choice(vocab) for _ in range(150))))
    sdf = spark.createDataFrame(rows, "url string, text string").selectExpr(
        "xxhash64(url) as doc_id", "url", "text"
    )
    cfg = DedupConfig(shuffle_partitions=8, bucket_cap=8)
    edges = substring_duplicate_edges(sdf, cfg).collect()
    id2url = {r["doc_id"]: r["url"] for r in sdf.select("doc_id", "url").collect()}
    found = {(id2url[r["src"]], id2url[r["dst"]]) for r in edges}
    assert ("big", "small") in found, found
