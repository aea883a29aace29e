"""SparkSession factory.

Local-mode defaults sized for the sandbox (single JVM, 32 threads, 128 GiB).
On a real cluster the same builder runs unchanged under spark-submit
--py-files; only master/memory come from the submit command.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "product-dedup-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))
    # Python workers deserialize our pandas UDFs by importing this package —
    # make sure they can find it regardless of the caller's cwd. On a real
    # cluster this is `spark-submit --py-files pkg.zip` (jobs/run_pipeline.py);
    # in local mode the workers inherit the driver's PYTHONPATH env var.
    pkg_parent = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if pkg_parent not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_parent}{os.pathsep}{existing}" if existing else pkg_parent
        )
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE coalesce (and skew-split) exchanges INSIDE persisted plans.
        # Off by default, a cached plan keeps its exchanges at the static
        # shuffle-partition count so its output partitioning stays fixed
        # for consumers. Every pipeline persists its features, LSH bucket
        # relations and CC mapping, so a 20-doc batch would run
        # shuffle_partitions tasks per cached stage, 8 Arrow-UDF tasks for
        # 20 rows behind with_features' rebalance instead of 1. Consumers
        # plan their own exchanges on top either way.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        # 16g beats 48g measurably here: G1 on a huge, mostly-empty heap spends
        # more on region scanning/young-gen sizing at high thread counts
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # Estimate-based STATIC broadcasts are off entirely (-1): size
        # ESTIMATES for not-yet-materialized cached/UDF/derived relations run
        # far below reality — a statically-chosen broadcast of an
        # array<long>-carrying features relation collected ~1 GiB to the
        # driver at 370k docs (maxResultSize abort) under a 64MB threshold,
        # and this round the 10MB threshold still statically broadcast a
        # corpus-derived token-array relation in token_jaccard_lsh under a
        # bad array-size estimate. Broadcasts now happen only via explicit
        # F.broadcast hints on provably-bounded sides, or via AQE's runtime
        # conversion below, which decides from EXACT materialized shuffle
        # sizes instead of estimates (guide §3.1: prefer hints/runtime over
        # estimates). AQE pays the small side's shuffle write first, but its
        # local-read broadcast conversion skips the fetch+sort, so small
        # dims still end up broadcast — now provably so.
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config(
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
            str(10 * 1024 * 1024),
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
