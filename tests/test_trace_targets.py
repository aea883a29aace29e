"""The benchmark tracer's patch targets must exist on the engine.

``perfbench --trace 1`` labels each layer by replacing the functions named in
``perfbench.workloads.BATCH_LAYERS`` / ``INCREMENTAL_LAYERS`` on the
``pipeline`` and ``streaming.incremental`` modules via ``getattr``, and the
catalog layer by replacing methods on the ``SnapshotCatalog`` instance. A
refactor that renames or drops one of those would break traced runs only
when they are next taken; this pins the names in the unit suite, together
with the rest of the engine surface the two harnesses call, and checks that
a run calls the function patched on the module of its entry point.
"""

from __future__ import annotations

import inspect
import os

import pytest

from perfbench.workloads import BATCH_LAYERS, INCREMENTAL_LAYERS, IncrementalCatalog
from product_deduplication_spark import pipeline
from product_deduplication_spark.catalog import SnapshotCatalog
from product_deduplication_spark.config import DedupConfig
from product_deduplication_spark.datagen import generate_web_documents
from product_deduplication_spark.functions.features import with_features
from product_deduplication_spark.operators.connected_components import (
    assign_clusters_contracted,
)
from product_deduplication_spark.operators.exact_dedup import exact_duplicate_edges
from product_deduplication_spark.operators.lsh import candidate_pairs
from product_deduplication_spark.operators.verify import verify_pairs
from product_deduplication_spark.streaming import incremental


@pytest.mark.parametrize(
    "module, attr",
    [(pipeline, a) for a, _, _ in BATCH_LAYERS] + [(incremental, a) for a, _, _ in INCREMENTAL_LAYERS],
    ids=lambda v: v if isinstance(v, str) else v.__name__.rsplit(".", 1)[-1],
)
def test_trace_target_resolves(module, attr):
    assert callable(getattr(module, attr, None)), f"{module.__name__}.{attr} is missing"


def test_catalog_trace_targets_resolve(spark, tmp_path):
    """The traced catalog methods exist, and the entry ``write_stage``
    returns carries the ``rows`` and ``path`` the tracer reads."""
    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    workload = object.__new__(IncrementalCatalog)
    workload.catalog = cat
    attrs = [a for owner, a, _, _ in workload._targets() if owner is cat]
    assert sorted(attrs) == ["read_stage_union", "write_stage"]
    for attr in attrs:
        assert callable(getattr(cat, attr, None)), f"SnapshotCatalog.{attr} is missing"
    entry = cat.write_stage(spark.range(7), "s")
    assert entry["rows"] == 7
    assert os.path.isdir(entry["path"])


def test_harness_calls_bind_to_the_engine():
    """The stage names perfbench reads in traced passes, the keywords it
    passes, and the calls ``bench.py``'s scaling child makes, bound to the
    current signatures (no Spark job runs)."""
    stages = (incremental.DOCS_STAGE, incremental.FEATURES_STAGE, incremental.CLUSTERS_STAGE)
    assert all(isinstance(s, str) for s in stages) and len(set(stages)) == 3
    cfg = DedupConfig()
    df = object()
    calls = [
        (incremental.incremental_dedup, (df, df, df, cfg),
         {"auto_compact": 16, "compact_tier_fraction": 0.5}),
        (pipeline.run_dedup, (df, cfg), {"use_simhash": True}),
        (pipeline.prepare_docs, (df, cfg), {}),
        (with_features, (df, cfg), {"simhash": False}),
        (candidate_pairs, (df, cfg), {}),
        (verify_pairs, (df, df, cfg), {}),
        (exact_duplicate_edges, (df, "doc_id", "text"), {}),
        (assign_clusters_contracted, (df, df, df, "doc_id"), {}),
        (pipeline.pick_winners, (df,), {}),
    ]
    for fn, args, kwargs in calls:
        inspect.signature(fn).bind(*args, **kwargs)
    assert isinstance(cfg.min_doc_chars, int)


def _record_calls(monkeypatch, module, attr) -> list:
    """Replaces ``module.attr`` by a wrapper that records each call."""
    calls = []
    fn = getattr(module, attr)

    def wrapper(*args, **kwargs):
        calls.append(attr)
        return fn(*args, **kwargs)

    monkeypatch.setattr(module, attr, wrapper)
    return calls


def _docs_frame(spark, docs):
    return spark.createDataFrame(docs[["url", "text"]])


def test_run_dedup_calls_operators_patched_on_pipeline(spark, monkeypatch):
    docs, _ = generate_web_documents(n_base_docs=12, seed=5)
    calls = _record_calls(monkeypatch, pipeline, "verify_pairs")
    res = pipeline.run_dedup(_docs_frame(spark, docs), DedupConfig(shuffle_partitions=4))
    res.release()
    assert calls == ["verify_pairs"]


def test_delta_batch_calls_operators_patched_on_incremental(spark, monkeypatch, tmp_path):
    """The stage body is shared with ``run_dedup``, yet a delta batch calls
    the operators bound on ``streaming.incremental``, where the tracer
    patches its delta layers."""
    docs, _ = generate_web_documents(n_base_docs=12, seed=6)
    cfg = DedupConfig(shuffle_partitions=4)
    cat = SnapshotCatalog(spark, str(tmp_path / "cat"))
    half = len(docs) // 2
    incremental.incremental_dedup(spark, cat, _docs_frame(spark, docs.iloc[:half]), cfg)
    verify = _record_calls(monkeypatch, incremental, "verify_pairs")
    cc = _record_calls(monkeypatch, incremental, "assign_clusters")
    incremental.incremental_dedup(spark, cat, _docs_frame(spark, docs.iloc[half:]), cfg)
    assert verify == ["verify_pairs"] and cc == ["assign_clusters"]
