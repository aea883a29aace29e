"""Every entry point gives degenerate input the same meaning: ``run_dedup``,
a bootstrap ``incremental_dedup`` and the spark-submit job agree on a corpus
of NULL, empty and unique texts."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pandas as pd
import pytest

from product_deduplication_spark.catalog import SnapshotCatalog
from product_deduplication_spark.config import DedupConfig
from product_deduplication_spark.pipeline import run_dedup
from product_deduplication_spark.streaming.incremental import incremental_dedup

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CFG = DedupConfig(shuffle_partitions=4)


@pytest.mark.slow
def test_null_and_empty_texts_stay_singletons_at_every_entry_point(spark, tmp_path):
    """Docs shorter than ``min_doc_chars`` (NULL and "" included) skip the
    exact stage as well as the near-dup stages: sha2(NULL) is NULL, so an
    unfiltered exact stage put every NULL text, and every empty one, in a
    single cluster."""
    texts = [None] * 3 + [""] * 3 + [
        "the quick brown fox jumps over the lazy dog",
        "a completely different page about gardening in spring",
        "sports results from the weekend league fixtures",
        "recipe for a simple tomato soup with basil",
    ]
    pdf = pd.DataFrame({"url": [f"https://e.example/{i}" for i in range(10)], "text": texts})
    df = spark.createDataFrame(pdf, "url string, text string")

    res = run_dedup(df, CFG)
    batch = res.clusters.select("cluster_id").distinct().count()
    res.release()
    cat = SnapshotCatalog(spark, str(tmp_path / "inc"))
    inc = incremental_dedup(spark, cat, df, CFG, auto_compact=None)
    bootstrap = inc.select("cluster_id").distinct().count()

    inp = str(tmp_path / "input.parquet")
    pdf.to_parquet(inp, index=False)
    cmd = [
        sys.executable, os.path.join(_REPO, "jobs", "run_pipeline.py"),
        "--input", inp, "--workdir", str(tmp_path / "job"), "--master", "local[2]",
    ]
    env = dict(os.environ, SPARK_SHUFFLE_PARTITIONS="4")
    out = subprocess.run(cmd, capture_output=True, text=True, timeout=600, env=env)
    assert out.returncode == 0, out.stderr[-2000:]
    job = json.loads(out.stdout.strip().splitlines()[-1])

    assert (batch, bootstrap, job["clusters"]) == (10, 10, 10)
