"""The recall >= 0.99 gate (BASELINE.json metric, SURVEY.md §5.2).

Brute-force exact-Jaccard oracle at the SAME shingle config vs the Spark
LSH pipeline: every oracle pair at threshold must be found (LSH S-curve at
b=32,r=4 gives P(candidate) ~ 1 at s>=0.8), plus precision is exactly 1.0
because verification recomputes exact Jaccard.
"""

from __future__ import annotations

import pandas as pd
import pytest

from product_deduplication_spark.config import DedupConfig
from product_deduplication_spark.datagen import generate_web_documents
from product_deduplication_spark.oracle import brute_force
from product_deduplication_spark.pipeline import run_dedup

CFG = DedupConfig(shuffle_partitions=8)


@pytest.fixture(scope="module")
def corpus():
    docs, truth = generate_web_documents(n_base_docs=150, seed=42)
    return docs, truth


@pytest.fixture(scope="module")
def result(spark, corpus):
    docs, _ = corpus
    sdf = spark.createDataFrame(docs)
    res = run_dedup(sdf, CFG, use_simhash=False, validate_extraction=True)
    res.clusters.persist().count()
    return res


def _oracle_pairs(docs: pd.DataFrame) -> set:
    import pyspark.sql.functions as F  # noqa: F401

    ids = docs["url"].tolist()
    texts = docs["text"].tolist()
    pairs = brute_force.exact_jaccard_pairs(ids, texts, CFG)
    return set(zip(pairs["src"], pairs["dst"]))


def test_recall_and_precision_vs_bruteforce(spark, corpus, result):
    docs, _ = corpus
    truth_pairs = _oracle_pairs(docs)
    id_map = {r["doc_id"]: r["url"] for r in result.docs.select("doc_id", "url").collect()}
    found = set()
    for r in result.all_edges.select("src", "dst").collect():
        a, b = id_map[r["src"]], id_map[r["dst"]]
        found.add((min(a, b), max(a, b)))
    assert truth_pairs, "oracle found no pairs — corpus generation broken"
    recall = brute_force.pair_recall(found, truth_pairs)
    assert recall >= 0.99, f"recall {recall} < 0.99 ({len(truth_pairs)} oracle pairs)"
    # precision exactly 1.0: every found edge is exact-verified >= threshold
    extras = found - truth_pairs
    assert not extras, f"false positives: {sorted(extras)[:5]}"


def test_cluster_partition_equivalence(spark, corpus, result):
    """Cluster partitions == union-find over oracle pairs (min-member label)."""
    docs, _ = corpus
    truth_pairs = _oracle_pairs(docs)
    urls = docs["url"].tolist()
    oracle_labels = brute_force.union_find_clusters(urls, sorted(truth_pairs))
    oracle_pairset = brute_force.clusters_to_pairs(oracle_labels)
    got = {r["url"]: r["cluster_id"] for r in result.clusters.select("url", "cluster_id").collect()}
    got_pairset = brute_force.clusters_to_pairs(got)
    # compare as partitions via intra-cluster pair sets (ids differ)
    url_pairs = set()
    id_map = {r["doc_id"]: r["url"] for r in result.docs.select("doc_id", "url").collect()}
    for a, b in got_pairset:
        # got labels are (url -> long cluster); pairs are url pairs already
        url_pairs.add((min(a, b), max(a, b)))
    assert url_pairs == oracle_pairset


def test_extraction_invariant(result):
    """Byte-identical extracted text per url (BASELINE.json input_hint)."""
    bad = result.docs.where(~result.docs["extraction_ok"]).count()
    assert bad == 0


def test_every_doc_in_exactly_one_cluster(corpus, result):
    docs, _ = corpus
    n = result.clusters.count()
    assert n == len(docs)
    assert result.clusters.select("url").distinct().count() == len(docs)
    winners = result.clusters.where("is_winner").count()
    n_clusters = result.clusters.select("cluster_id").distinct().count()
    assert winners == n_clusters


# Spark jobs started by run_dedup with SimHash on plus one count of its
# clusters (the corpus below, local[8], 8 shuffle partitions): 39 in three
# runs on a 4-CPU host. The bound leaves two jobs of slack for AQE's
# runtime plan choices. A job costs ~0.1 s of scheduling there, whatever
# its size, so a stage that adds jobs shows up here first.
BATCH_JOBS = 41


def test_batch_job_count(spark, count_jobs):
    docs, _ = generate_web_documents(n_base_docs=40, seed=5)
    frame = spark.createDataFrame(docs[["url", "text"]])

    def run():
        res = run_dedup(frame, CFG, use_simhash=True)
        n = res.clusters.count()
        res.release()
        return n

    n, jobs = count_jobs(run)
    assert n == len(docs)
    assert jobs <= BATCH_JOBS
