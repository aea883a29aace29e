"""Every entry point gives the same input the same meaning: ``run_dedup``,
``incremental_dedup`` (bootstrap and delta batches) and the spark-submit job
agree on an empty corpus and on corpora of NULL, empty, short and
exact-duplicate texts, and pick the same winner; the driver's ``entry()``
and a bootstrap batch agree on the sf0.001 documents."""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from product_deduplication_spark.catalog import SnapshotCatalog
from product_deduplication_spark.config import DedupConfig
from product_deduplication_spark.pipeline import run_dedup
from product_deduplication_spark.streaming.incremental import incremental_dedup

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CFG = DedupConfig(shuffle_partitions=4)


def _frame(spark, pdf):
    return spark.createDataFrame(pdf, "url string, text string")


def _partition(clusters) -> set:
    """The url partition a (url, cluster_id) table induces."""
    groups: dict = {}
    for r in clusters.select("url", "cluster_id").collect():
        groups.setdefault(r["cluster_id"], set()).add(r["url"])
    return {frozenset(g) for g in groups.values()}


def _batch_partition(spark, pdf, cfg=CFG) -> set:
    res = run_dedup(_frame(spark, pdf), cfg)
    got = _partition(res.clusters)
    res.release()
    return got


def _incremental_partition(spark, root, batches, cfg=CFG) -> set:
    cat = SnapshotCatalog(spark, root)
    for pdf in batches:
        clusters = incremental_dedup(spark, cat, _frame(spark, pdf), cfg, auto_compact=None)
    return _partition(clusters)


def _job(tmp_path, pdf) -> tuple[dict, str]:
    """Runs the spark-submit job on ``pdf``; returns its summary line and
    its catalog root."""
    inp = str(tmp_path / "input.parquet")
    # explicit: pandas writes the object columns of an empty frame as nulls
    schema = pa.schema([("url", pa.string()), ("text", pa.string())])
    pq.write_table(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False), inp)
    workdir = str(tmp_path / "job")
    cmd = [
        sys.executable, os.path.join(_REPO, "jobs", "run_pipeline.py"),
        "--input", inp, "--workdir", workdir, "--master", "local[2]",
    ]
    env = dict(os.environ, SPARK_SHUFFLE_PARTITIONS="4")
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600, env=env)
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1]), workdir


def _cluster_counts(spark, tmp_path, pdf) -> tuple[int, int, int]:
    """Cluster counts from ``run_dedup``, a bootstrap ``incremental_dedup``
    and the job, in that order."""
    batch = len(_batch_partition(spark, pdf))
    bootstrap = len(_incremental_partition(spark, str(tmp_path / "inc"), [pdf]))
    job, _ = _job(tmp_path, pdf)
    return batch, bootstrap, job["clusters"]


def _docs(texts) -> pd.DataFrame:
    return pd.DataFrame({"url": [f"https://e.example/{i}" for i in range(len(texts))],
                         "text": texts})


@pytest.mark.slow
def test_null_and_empty_texts_stay_singletons_at_every_entry_point(spark, tmp_path):
    """Docs shorter than ``min_doc_chars`` (NULL and "" included) skip the
    exact stage as well as the near-dup stages: sha2(NULL) is NULL, so an
    unfiltered exact stage put every NULL text, and every empty one, in a
    single cluster."""
    pdf = _docs([None] * 3 + [""] * 3 + [
        "the quick brown fox jumps over the lazy dog",
        "a completely different page about gardening in spring",
        "sports results from the weekend league fixtures",
        "recipe for a simple tomato soup with basil",
    ])
    assert _cluster_counts(spark, tmp_path, pdf) == (10, 10, 10)


SHORT = "the quick brown fox jumps over the lazy dog"
LONG = "a completely different page about gardening in spring, with notes on soil and seeds"


@pytest.mark.slow
def test_short_near_copies_stay_singletons_in_batch_and_incremental(spark, tmp_path):
    """Near-copies shorter than ``min_doc_chars`` get no features, so they
    stay singletons in a bootstrap batch and in a delta batch alike, while
    long near-copies still cluster."""
    cfg = DedupConfig(shuffle_partitions=4, min_doc_chars=60)
    texts = [SHORT, LONG, SHORT + ".", SHORT + "!", LONG + " today"]
    pdf = _docs(texts)
    urls = list(pdf["url"])
    want = {frozenset([urls[0]]), frozenset([urls[2]]), frozenset([urls[3]]),
            frozenset([urls[1], urls[4]])}
    assert _batch_partition(spark, pdf, cfg) == want
    assert _incremental_partition(spark, str(tmp_path / "boot"), [pdf], cfg) == want
    delta = _incremental_partition(spark, str(tmp_path / "delta"), [pdf[:2], pdf[2:]], cfg)
    assert delta == want


@pytest.mark.slow
def test_exact_duplicates_cluster_alike_at_every_entry_point(spark, tmp_path):
    """Byte-identical classes, one with a near-copy that bridges it to the
    near-dup graph, give the same clusters in ``run_dedup``, a bootstrap
    ``incremental_dedup`` and the job."""
    pdf = _docs([LONG] * 3 + [SHORT] * 2 + [
        LONG + " today",
        "sports results from the weekend league fixtures",
        "recipe for a simple tomato soup with basil",
    ])
    urls = list(pdf["url"])
    want = {frozenset(urls[:3] + [urls[5]]), frozenset(urls[3:5]),
            frozenset([urls[6]]), frozenset([urls[7]])}
    assert _batch_partition(spark, pdf) == want
    assert _incremental_partition(spark, str(tmp_path / "inc"), [pdf]) == want
    job, workdir = _job(tmp_path, pdf)
    assert _partition(SnapshotCatalog(spark, workdir).read_stage("s6_clusters")) == want


@pytest.mark.slow
def test_empty_corpus_gives_no_clusters_at_every_entry_point(spark, tmp_path):
    assert _cluster_counts(spark, tmp_path, _docs([])) == (0, 0, 0)


@pytest.mark.slow
def test_empty_delta_leaves_the_assignment_unchanged(spark, tmp_path):
    cat = SnapshotCatalog(spark, str(tmp_path / "inc"))
    pdf = _docs([LONG, LONG + " today", SHORT, SHORT])
    cols = ["url", "doc_id", "cluster_id", "is_winner"]
    before = set(incremental_dedup(spark, cat, _frame(spark, pdf), CFG).select(cols).collect())
    after = incremental_dedup(spark, cat, _frame(spark, _docs([])), CFG).select(cols).collect()
    assert set(after) == before and len(after) == len(before) == 4


@pytest.mark.slow
def test_earliest_crawl_wins_at_every_entry_point(spark, tmp_path):
    """Two byte-identical copies: the one with the earlier ``warc_ts`` wins
    in ``run_dedup``, in a bootstrap batch, and when a delta batch brings
    the earlier copy after the later one. The later copy has the smaller
    url, so a winner order that drops ``warc_ts`` picks it instead."""
    later, earlier, other = (f"https://e.example/{c}" for c in "abc")
    rows = [(later, dt.datetime(2025, 1, 31), LONG),
            (earlier, dt.datetime(2025, 1, 1), LONG),
            (other, dt.datetime(2025, 1, 15), SHORT)]

    def frame(rs):
        return spark.createDataFrame(rs, "url string, warc_ts timestamp, text string")

    def winners(clusters) -> set:
        return {r["url"] for r in clusters.where("is_winner").select("url").collect()}

    want = {earlier, other}
    res = run_dedup(frame(rows), CFG)
    assert winners(res.clusters) == want
    res.release()
    boot = SnapshotCatalog(spark, str(tmp_path / "boot"))
    assert winners(incremental_dedup(spark, boot, frame(rows), CFG, auto_compact=None)) == want
    cat = SnapshotCatalog(spark, str(tmp_path / "delta"))
    incremental_dedup(spark, cat, frame([rows[0], rows[2]]), CFG, auto_compact=None)
    assert winners(incremental_dedup(spark, cat, frame([rows[1]]), CFG, auto_compact=None)) == want


@pytest.mark.slow
def test_entry_and_bootstrap_batch_agree(spark, tmp_path, documents):
    """``entry()`` (``run_dedup`` over the wrapped sf0.001 documents) and a
    bootstrap ``incremental_dedup`` of the same frame give one partition."""
    import __spark_entry__
    from product_deduplication_spark.datagen import wrap_documents_spark

    want = _partition(__spark_entry__.entry(spark))
    cat = SnapshotCatalog(spark, str(tmp_path / "inc"))
    got = incremental_dedup(spark, cat, wrap_documents_spark(documents), CFG, auto_compact=None)
    assert _partition(got) == want
    assert len(want) < documents.count()  # the corpus has duplicates to find
