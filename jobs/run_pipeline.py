#!/usr/bin/env python
"""Resumable dedup pipeline job (spark-submit entry point).

Cluster usage (north_rule: ships via spark-submit --py-files):

    python jobs/make_pyfiles.py                      # builds dist/pkg.zip
    spark-submit --py-files dist/pkg.zip jobs/run_pipeline.py \\
        --input s3://bucket/webpages --workdir s3://bucket/dedup_work

Sandbox usage (local mode):

    python jobs/run_pipeline.py --input BENCH/data/webtext_12000.parquet \\
        --workdir /tmp/dedup_work [--stop-after s4_candidates]

Every stage is written through the SnapshotCatalog (per-partition lineage in
manifest.jsonl, with the run's DedupConfig and use_simhash as each snapshot's
metrics); re-running the job resumes from the latest snapshot of each
completed stage — stop it after stage N (``--stop-after``) and restart:
stages 1..N are read back, not recomputed (tested in tests/test_resume.py).

Stages s1-s5 are ``pipeline.run_dedup``'s (``pipeline.STAGES``), snapshotted
through its ``checkpoint`` hook; s6_clusters is its cluster table:
    s1_docs        doc ids (+ extraction validation when html present)
    s2_features    shingles + minhash (+ simhash with --use-simhash)
    s3_exact       sha2 exact-dup star edges
    s4_candidates  LSH band candidate pairs (+ simhash channel)
    s5_verified    exact-Jaccard verified near-dup edges
    s6_clusters    connected components + winners
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _REPO)

from product_deduplication_spark import pipeline  # noqa: E402

STAGES = [*pipeline.STAGES, "s6_clusters"]


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet of (url[, warc_ts, html], text, lang)")
    ap.add_argument("--workdir", required=True, help="snapshot catalog root")
    ap.add_argument("--stop-after", choices=STAGES, default=None)
    ap.add_argument("--use-simhash", action="store_true")
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from product_deduplication_spark.catalog import SnapshotCatalog
    from product_deduplication_spark.config import DedupConfig
    from product_deduplication_spark.session import get_spark

    spark = get_spark(app_name="dedup-pipeline", master=args.master)
    cfg = DedupConfig(shuffle_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")))
    cat = SnapshotCatalog(spark, args.workdir)
    metrics = dataclasses.asdict(cfg) | {"use_simhash": args.use_simhash}
    t_start = time.time()

    def checkpoint(stage, compute):
        df = cat.get_or_compute(stage, compute, metrics=metrics)
        if stage == args.stop_after:
            print(json.dumps({"stopped_after": stage, "sec": round(time.time() - t_start, 1)}))
            spark.stop()
            sys.exit(0)
        return df

    res = pipeline.run_dedup(
        spark.read.parquet(args.input), cfg, use_simhash=args.use_simhash,
        validate_extraction=True, checkpoint=checkpoint,
    )
    clusters = cat.get_or_compute(
        "s6_clusters",
        lambda: res.clusters.select("url", "doc_id", "cluster_id", "is_winner"),
        metrics=metrics,
    )
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
