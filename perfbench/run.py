"""Dedup engine benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload webtext_skewed_simhash --seed 1 \\
        --seconds 5 --trace 0

The corpus for (workload, seed) is generated on first use and cached under
``.bench_cache/`` at the repository root; everything else a run writes
(temp files, Spark local dirs, event log, catalog, outputs) goes to
``.bench_work/`` there and is removed at exit. One Spark driver runs at
``local[<usable CPUs>]`` with a fixed shuffle-partition count and heap.
A run times at least two passes, however short ``--seconds`` is.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes and prints the per-layer metrics instead. The
last stdout line is the result; the line before it records the host and
the raw samples, so numbers from different hosts are never compared.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
CACHE = os.path.join(ROOT, ".bench_cache")
DRIVER_MEMORY = "1g"


def parse_args(names, argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(names))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def confine_to_checkout() -> dict:
    """Point every temp/scratch location at the work dir; returns the
    Spark conf that does the same inside the JVM."""
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY  # read by get_spark
    # spark-submit first runs a small launcher JVM, which takes its options here
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # a dedup pass or delta batch plans a few hundred whole-stage codegen
        # classes; Spark's default cache of 100 evicts them before the next
        # pass, which then compiles them again and hands the JIT new classes
        "spark.sql.codegen.cache.maxEntries": "2000",
        # the whole heap is committed and touched at start: left to G1, how
        # far the heap grows varies by a fifth from run to run, which would
        # drown any change in what the driver holds beyond it
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch"
        ),
    }


def host_info(spark) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gib": round(mem_kb / 2**20, 1),
        "spark": spark.version,
        "python": platform.python_version(),
        "driver_memory": DRIVER_MEMORY,
    }


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM missing from /proc status")


def stop_spark(spark) -> None:
    """Stop the session and its driver JVM, and wait for the JVM to exit
    (it exits when its stdin closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    # fails here, before any output, when the engine's sources are absent
    from perfbench import corpora, workloads
    from product_deduplication_spark.session import get_spark

    args = parse_args(workloads.WORKLOADS, argv)
    workload = workloads.WORKLOADS[args.workload]

    shutil.rmtree(WORK, ignore_errors=True)
    conf = confine_to_checkout()

    corpus, paths = corpora.cached(CACHE, args.seed, workload.make_corpus, **workload.corpus_params)

    event_dir = os.path.join(WORK, "events")
    if args.trace:
        os.makedirs(event_dir)
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_dir,
            # zstd is Spark's default codec and needs a module that may be absent
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench", master=f"local[{len(os.sched_getaffinity(0))}]",
        shuffle_partitions=workloads.SHUFFLE_PARTITIONS, extra_conf=conf,
    )
    session_s = time.perf_counter() - t0
    try:
        wl = workload(spark, WORK, corpus, paths)
        run = wl.measure(args.seconds, bool(args.trace))
        run.setup_s += session_s
        rss = jvm_peak_rss_mb(spark)
        host = host_info(spark)
    finally:
        stop_spark(spark)

    correct = run.failed == 0 and bool(run.passes)
    metrics = {}
    if correct:
        if args.trace:
            (log,) = os.listdir(event_dir)
            metrics = {
                k: {"value": v, "unit": workloads.per_layer_unit(k)}
                for k, v in workloads.per_layer(run, wl.tracer, os.path.join(event_dir, log)).items()
            }
        else:
            metrics = {
                k: {"value": v, "unit": u}
                for k, (v, u) in workloads.end_to_end(run, rss).items()
            }
    detail = {
        "workload": args.workload, "seed": args.seed, "host": host,
        "docs": len(corpus.docs), "parts": corpus.parts,
        "passes_s": run.passes, "passes_cpu_s": run.pass_cpu, "setup_s": run.setup_s,
        "session_s": session_s, "errors": run.errors,
    }
    if args.trace:
        detail["spans"] = [s.__dict__ for s in wl.tracer.spans]
    print(json.dumps({"detail": detail}))
    shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps({
        "correct": correct, "attempted": run.attempted, "failed": run.failed, "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
