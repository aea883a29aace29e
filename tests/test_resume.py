"""Snapshot catalog + resume-from-checkpoint (SURVEY.md §5.5): kill after
stage N, restart, identical final output; per-partition lineage recorded."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

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
