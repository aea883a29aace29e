"""Multimodal plumbing + ANN recall vs brute force."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from product_deduplication_spark.operators.knn import (
    ann_candidates,
    ann_topk,
    brute_force_topk,
)
from product_deduplication_spark.operators.multimodal import (
    MediaCodecBackend,
    extract_media_features,
)


@pytest.fixture(scope="module")
def media(spark):
    docs = spark.createDataFrame(
        [("u1", "same text payload"), ("u2", "same text payload"), ("u3", "different")],
        "url string, text string",
    )
    # payload = utf-8 of the text: a stand-in for encoded bytes that every
    # decoder route stubs deterministically
    return docs.select(
        F.col("url").alias("doc_url"),
        F.lit("image").alias("kind"),
        F.encode("text", "utf-8").alias("payload"),
        F.struct(
            F.lit("application/octet-stream").alias("mime"),
            F.lit(64).alias("width"),
            F.lit(64).alias("height"),
            F.lit(None).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


def test_media_schema_and_features(media):
    feats = extract_media_features(media).collect()
    by_url = {r["doc_url"]: r for r in feats}
    assert len(by_url) == 3
    # deterministic stub: identical payloads -> identical hash AND feature
    assert by_url["u1"]["payload_sha256"] == by_url["u2"]["payload_sha256"]
    assert by_url["u1"]["feature"] == by_url["u2"]["feature"]
    assert by_url["u1"]["feature"] != by_url["u3"]["feature"]
    assert by_url["u1"]["payload_bytes"] == len(b"same text payload")
    # unit-norm feature
    import math

    assert math.isclose(sum(x * x for x in by_url["u3"]["feature"]), 1.0, rel_tol=1e-3)
    # provenance tag: stub vectors must be labeled as such on every row
    assert all(r["feature_kind"] == "stub" for r in feats)


def test_null_payload_rows_have_null_feature_kind(spark):
    media = spark.createDataFrame(
        [("u9", "image", None, None)],
        "doc_url string, kind string, payload binary, "
        "meta struct<mime string, width int, height int, duration_ms int>",
    )
    row = extract_media_features(media).collect()[0]
    assert row["feature"] is None and row["feature_kind"] is None


def test_strict_backend_raises(media):
    import py4j

    with pytest.raises(Exception) as exc:
        extract_media_features(media, MediaCodecBackend(strict=True)).collect()
    assert "NotImplementedError" in str(exc.value) or isinstance(
        exc.value, py4j.protocol.Py4JJavaError
    )


def test_ann_matches_bruteforce_topk(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.where("vec_id < 8")
    bf = brute_force_topk(queries, emb, k=5)
    # moderate-cosine neighbors (unnormalized gaussian-ish clusters) need
    # few bits + many tables: P(collide | cos=0.5) = 1-(1-(2/3)^4)^16 = 0.97
    ann = ann_topk(queries, emb, k=5, dim=64, n_bits=4, n_tables=16)
    bf_set = {(r["query_id"], r["neighbor_id"]) for r in bf.collect()}
    ann_set = {(r["query_id"], r["neighbor_id"]) for r in ann.collect()}
    recall = len(bf_set & ann_set) / len(bf_set)
    assert recall >= 0.85, recall
    # every ANN cos value must equal the exact cosine (re-rank is exact)
    bf_cos = {(r["query_id"], r["neighbor_id"]): r["cos"] for r in bf.collect()}
    for r in ann.collect():
        key = (r["query_id"], r["neighbor_id"])
        if key in bf_cos:
            assert abs(bf_cos[key] - r["cos"]) < 1e-9


def test_ann_hot_bucket_cap_bounds_degenerate_corpus(spark):
    """Adversarial skew (VERDICT r04 #3): a corpus of N identical embeddings
    puts every vector in ONE bucket per table; uncapped self-ANN enumerates
    N^2 candidate rows per table. The hash-stride thinning must bound the
    candidate relation to ~|queries| x tables x cap while ann_topk still
    returns a full, correct top-k (all cosines 1.0, ranks 1..k)."""
    n, cap, tables = 10_000, 16, 8
    emb = spark.range(n).selectExpr(
        "id as vec_id", "array(1.0f, 0.0f, 2.0f, 0.0f, 3.0f, 0.0f, 4.0f, 0.0f) as embedding"
    )
    cands = ann_candidates(
        emb, emb, dim=8, n_bits=4, n_tables=tables, bucket_cap=cap
    )
    n_cands = cands.count()
    # per query: <= tables x (expected cap survivors, binomial slack 4x)
    assert 0 < n_cands <= n * tables * cap * 4
    # top-k over the capped candidates: every query still gets k exact-cos
    # neighbors (identical vectors -> cos 1.0, deterministic id tie-break)
    k = 3
    queries = emb.where("vec_id < 20")
    res = ann_topk(queries, emb, k=k, dim=8, n_bits=4, n_tables=tables, bucket_cap=cap)
    rows = res.collect()
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r)
        assert r["cos"] == 1.0
    assert len(per_q) == 20
    for q, rs in per_q.items():
        assert sorted(r["rk"] for r in rs) == list(range(1, k + 1))
