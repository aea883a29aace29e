#!/usr/bin/env python
"""Resumable dedup pipeline job (spark-submit entry point).

Cluster usage (north_rule: ships via spark-submit --py-files):

    python jobs/make_pyfiles.py                      # builds dist/pkg.zip
    spark-submit --py-files dist/pkg.zip jobs/run_pipeline.py \\
        --input s3://bucket/webpages --workdir s3://bucket/dedup_work

Sandbox usage (local mode):

    python jobs/run_pipeline.py --input BENCH/data/webtext_12000.parquet \\
        --workdir /tmp/dedup_work [--stop-after s4_candidates]

Every stage is written through the SnapshotCatalog (per-partition lineage +
metrics in manifest.jsonl); re-running the job resumes from the latest
snapshot of each completed stage — kill it after stage N and restart: stages
1..N are read back, not recomputed (tested in tests/test_resume.py).

Stages (SURVEY.md §7.1):
    s1_docs        doc ids (+ extraction validation when html present)
    s2_features    shingles + minhash + simhash
    s3_exact       sha2 exact-dup star edges
    s4_candidates  LSH band candidate pairs (+ simhash channel)
    s5_verified    exact-Jaccard verified near-dup edges
    s6_clusters    connected components + winners
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

STAGES = ["s1_docs", "s2_features", "s3_exact", "s4_candidates", "s5_verified", "s6_clusters"]


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet of (url[, warc_ts, html], text, lang)")
    ap.add_argument("--workdir", required=True, help="snapshot catalog root")
    ap.add_argument("--stop-after", choices=STAGES, default=None)
    ap.add_argument("--use-simhash", action="store_true")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from pyspark.sql import functions as F

    from product_deduplication_spark.catalog import SnapshotCatalog
    from product_deduplication_spark.config import DedupConfig
    from product_deduplication_spark.functions.features import with_features
    from product_deduplication_spark.operators.connected_components import assign_clusters
    from product_deduplication_spark.operators.exact_dedup import exact_duplicate_edges
    from product_deduplication_spark.operators.lsh import candidate_pairs
    from product_deduplication_spark.operators.simhash_join import simhash_candidate_pairs
    from product_deduplication_spark.operators.verify import verify_pairs
    from product_deduplication_spark.pipeline import pick_winners, prepare_docs
    from product_deduplication_spark.session import get_spark

    spark = get_spark(app_name="dedup-pipeline", master=args.master)
    cfg = DedupConfig(shuffle_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")))
    cat = SnapshotCatalog(spark, args.workdir)
    t_start = time.time()

    def done(stage: str) -> bool:
        if args.stop_after and STAGES.index(stage) > STAGES.index(args.stop_after):
            print(json.dumps({"stopped_after": args.stop_after, "sec": round(time.time() - t_start, 1)}))
            spark.stop()
            sys.exit(0)
        return False

    raw = spark.read.parquet(args.input)
    docs = cat.get_or_compute(
        "s1_docs",
        lambda: prepare_docs(raw, cfg, validate_extraction="html" in raw.columns).drop("html"),
        metrics={"stage": "ingest"},
    )
    done("s1_docs")

    eligible = docs.where(F.length("text") >= cfg.min_doc_chars)  # as run_dedup
    feats = cat.get_or_compute(
        "s2_features",
        lambda: with_features(eligible.select("doc_id", "text"), cfg).select(
            "doc_id", "shingles", "minhash", "simhash", "bands"
        ),
        metrics={"num_hashes": cfg.num_hashes, "bands": cfg.lsh_bands, "k": cfg.shingle_k},
    )
    done("s2_features")

    exact = cat.get_or_compute(
        "s3_exact", lambda: exact_duplicate_edges(eligible, "doc_id", "text")
    )
    done("s3_exact")

    def _cands():
        p = candidate_pairs(feats, cfg)
        if args.use_simhash:
            p = p.unionByName(simhash_candidate_pairs(feats, cfg)).dropDuplicates(["src", "dst"])
        return p

    cands = cat.get_or_compute("s4_candidates", _cands, metrics={"bucket_cap": cfg.bucket_cap})
    done("s4_candidates")

    verified = cat.get_or_compute(
        "s5_verified",
        lambda: verify_pairs(cands, feats, cfg),
        metrics={"jaccard_threshold": cfg.jaccard_threshold},
    )
    done("s5_verified")

    def _clusters():
        edges = exact.select("src", "dst").unionByName(verified.select("src", "dst"))
        # _text_len below the label join keeps text out of the join exchange
        return pick_winners(
            assign_clusters(docs.withColumn("_text_len", F.length("text")), edges, "doc_id"),
            "_text_len",
        ).select("url", "doc_id", "cluster_id", "is_winner")

    clusters = cat.get_or_compute("s6_clusters", _clusters)
    n_docs = clusters.count()
    n_clusters = clusters.select("cluster_id").distinct().count()
    dt = time.time() - t_start
    print(
        json.dumps(
            {
                "docs": n_docs,
                "clusters": n_clusters,
                "sec": round(dt, 1),
                "docs_per_sec": round(n_docs / dt, 1),
                "workdir": args.workdir,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
