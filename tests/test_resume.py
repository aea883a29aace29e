"""Snapshot catalog + resume-from-checkpoint (SURVEY.md §5.5): kill after
stage N, restart, identical final output; per-partition lineage recorded."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from collections import Counter

import pytest
from pyspark.sql import functions as F

from product_deduplication_spark.catalog import SnapshotCatalog

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_catalog_snapshot_lineage_and_read_back(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    df = spark.range(1000).withColumnRenamed("id", "v").repartition(4)
    entry = cat.write_stage(df, "stage_a", metrics={"k": 5})
    assert entry["rows"] == 1000
    assert entry["n_partitions"] >= 1
    assert sum(entry["partition_rows"].values()) == 1000
    assert entry["metrics"] == {"k": 5}
    back = cat.read_stage("stage_a")
    assert back.count() == 1000
    # second snapshot chains parent_id
    e2 = cat.write_stage(df.limit(10), "stage_a")
    assert e2["parent_id"] == entry["snapshot_id"]
    assert cat.read_stage("stage_a").count() == 10  # latest wins
    assert cat.read_stage("stage_a", entry["snapshot_id"]).count() == 1000  # time travel


def test_get_or_compute_resumes_without_recompute(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path / "cat2"))
    calls = []

    def compute():
        calls.append(1)
        return spark.range(5).withColumnRenamed("id", "v")

    a = cat.get_or_compute("s", compute)
    b = cat.get_or_compute("s", compute)
    assert len(calls) == 1  # second call resumed from snapshot
    assert a.count() == b.count() == 5


def _task_rows(df):
    """Rows per partition of ``df``: what each write task of it writes."""
    return {str(r["p"]): r["n"] for r in df.groupBy(F.spark_partition_id().alias("p")).agg(
        F.count("*").alias("n")).collect()}


@pytest.mark.parametrize("max_records", [0, 100], ids=["one_file_per_task", "split_files"])
def test_lineage_is_rows_per_write_task(spark, tmp_path, max_records):
    """``maxRecordsPerFile`` 100 makes every task write several files; their
    rows are summed under the task's id."""
    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    df = spark.range(1000).withColumnRenamed("id", "v").repartition(4)
    spark.conf.set("spark.sql.files.maxRecordsPerFile", str(max_records))
    try:
        entry = cat.write_stage(df, "s")
    finally:
        spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    files_per_task = Counter(f.split("-")[1] for f in os.listdir(entry["path"]) if f.startswith("part-"))
    assert len(files_per_task) == 4
    assert all((n > 1) == (max_records > 0) for n in files_per_task.values())
    want = _task_rows(df)
    assert len(want) == 4
    assert entry["partition_rows"] == want
    assert (entry["rows"], entry["n_partitions"]) == (1000, 4)


def test_lineage_of_an_empty_write(spark, tmp_path):
    """Spark writes one empty part file for an empty frame; it counts for no
    task, as the count aggregate it replaces gave no group."""
    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    entry = cat.write_stage(spark.range(10).where("id < 0"), "s")
    assert [f for f in os.listdir(entry["path"]) if f.startswith("part-")]
    assert (entry["rows"], entry["n_partitions"], entry["partition_rows"]) == (0, 0, {})
    back = cat.read_stage("s")
    assert back.count() == 0 and back.columns == ["id"]


def test_read_uses_the_manifest_schema(spark, tmp_path):
    """A read with the manifest's schema equals schema inference from the
    files: every column nullable, nested types included."""
    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    df = spark.range(20).select(
        F.col("id").alias("doc_id"),
        F.array(F.col("id").cast("int")).alias("shingles"),
        (F.col("id") % 2 == 0).alias("flag"),
        F.lit("t").alias("text"),
    )
    entry = cat.write_stage(df, "s")
    assert entry["schema"] == df.schema.json()
    assert cat.read_stage("s").schema == spark.read.parquet(entry["path"]).schema
    assert sorted(cat.read_stage("s").collect()) == sorted(df.collect())


def _drop_schema(cat, snapshot_id):
    path = os.path.join(cat.root, "manifest.jsonl")
    entries = [json.loads(line) for line in open(path)]
    with open(path, "w") as f:
        for e in entries:
            if e["snapshot_id"] == snapshot_id:
                del e["schema"]
            f.write(json.dumps(e) + "\n")


def test_snapshot_without_schema_is_refused(spark, tmp_path):
    """Older code wrote no schema; reads refuse it instead of inferring."""
    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    old = cat.write_stage(spark.range(5), "s")
    cat.write_stage(spark.range(5), "s")
    _drop_schema(cat, old["snapshot_id"])
    with pytest.raises(RuntimeError, match=old["snapshot_id"]):
        cat.read_stage_union("s")
    with pytest.raises(RuntimeError, match=old["snapshot_id"]):
        cat.read_stage("s", old["snapshot_id"])
    cat.read_stage("s")  # the latest snapshot still has one


def test_union_of_different_schemas_is_refused(spark, tmp_path):
    """With a given schema a column missing from one snapshot would read as
    NULL; a union of snapshots with different columns raises instead.
    Column order alone is no difference."""
    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    cat.write_stage(spark.range(3).select("id", F.lit("a").alias("t")), "s")
    cat.write_stage(spark.range(3).select(F.lit("b").alias("t"), "id"), "s")
    assert cat.read_stage_union("s").count() == 6
    late = cat.write_stage(spark.range(3), "s")
    with pytest.raises(RuntimeError, match=late["snapshot_id"]):
        cat.read_stage_union("s")


def test_catalog_reads_start_no_job(spark, tmp_path, count_jobs):
    from product_deduplication_spark.streaming import incremental as inc

    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    clusters = spark.createDataFrame(
        [("u://1", 1, 0, True, 0)], "url string, doc_id long, cluster_id long, is_winner boolean, batch_seq int"
    )
    for _ in range(2):
        cat.write_stage(clusters, inc.CLUSTERS_STAGE)
    for read in (lambda: cat.read_stage(inc.CLUSTERS_STAGE),
                 lambda: cat.read_stage_union(inc.CLUSTERS_STAGE),
                 lambda: inc.read_clusters(cat)):
        assert count_jobs(read)[1] == 0


def test_write_stage_starts_only_the_write_jobs(spark, tmp_path, count_jobs):
    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    df = spark.range(1000).withColumnRenamed("id", "v").repartition(4).groupBy(
        (F.col("v") % 7).alias("k")).count()
    _, bare = count_jobs(lambda: df.write.parquet(str(tmp_path / "bare")))
    entry, jobs = count_jobs(lambda: cat.write_stage(df, "s"))
    assert bare >= 1
    assert jobs == bare
    assert entry["rows"] == 7


@pytest.mark.slow
def test_pipeline_job_resume_identical_output(tmp_path):
    """Run the spark-submit job, kill after s4, restart, compare output.
    Uses real subprocesses — this is the reference's crash-resume story
    (reference/clean_canonical.py:296-338 re-read semantics) done right."""
    from product_deduplication_spark.datagen import generate_web_documents

    docs, _ = generate_web_documents(n_base_docs=80, seed=3)
    inp = str(tmp_path / "input.parquet")
    docs.to_parquet(inp, index=False, coerce_timestamps="us")

    def run(workdir, stop_after=None):
        cmd = [
            sys.executable,
            os.path.join(_REPO, "jobs", "run_pipeline.py"),
            "--input", inp, "--workdir", workdir, "--master", "local[4]",
        ]
        if stop_after:
            cmd += ["--stop-after", stop_after]
        env = dict(os.environ, SPARK_SHUFFLE_PARTITIONS="4")
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=600, env=env)
        assert out.returncode == 0, out.stderr[-2000:]
        return json.loads(out.stdout.strip().splitlines()[-1])

    # uninterrupted run
    full = run(str(tmp_path / "w_full"))
    # interrupted at s4_candidates, then resumed
    w2 = str(tmp_path / "w_resume")
    stopped = run(w2, stop_after="s4_candidates")
    assert "stopped_after" in stopped

    def manifest():
        return [json.loads(line) for line in open(os.path.join(w2, "manifest.jsonl"))]

    # the job stops right after the named stage, before computing the next
    assert [e["stage"] for e in manifest()] == [
        "s1_docs", "s2_features", "s3_exact", "s4_candidates"
    ]
    resumed = run(w2)
    assert resumed["docs"] == full["docs"]
    assert resumed["clusters"] == full["clusters"]
    # resume actually reused snapshots: s1/s2 have exactly one snapshot each
    by_stage = {}
    for e in manifest():
        by_stage.setdefault(e["stage"], []).append(e)
    assert len(by_stage["s2_features"]) == 1
    assert len(by_stage["s4_candidates"]) == 1
    assert "s6_clusters" in by_stage
