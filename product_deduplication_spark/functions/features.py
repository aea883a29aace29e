"""Arrow-batched feature-extraction UDFs: html→text, shingles, MinHash, SimHash.

Replaces the reference's eager normalize→TF-IDF chain
(``reference/static.py:40-56,177-189``) with lazy columnar stages. Each UDF
processes a whole Arrow batch with numpy kernels from
:mod:`product_deduplication_spark.functions.hashing` — no per-row Python.
"""

from __future__ import annotations

import html as _html
import re

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from product_deduplication_spark.config import DedupConfig
from product_deduplication_spark.functions import hashing

_TAG_RE = re.compile(r"<[^>]+>")
# seed of the MinHash permutation parameters (hashing.minhash_seeds)
SEED = 42

FEATURE_SCHEMA = T.StructType(
    [
        # 32-bit shingle set (hashing._to_shingle32): the verify join ships
        # these arrays — int halves its shuffle bytes vs long, and Jaccard
        # over 32-bit-hashed sets differs from exact by <1e-3 on the rare
        # colliding pair at web-page set sizes
        T.StructField("shingles", T.ArrayType(T.IntegerType()), False),
        T.StructField("minhash", T.ArrayType(T.LongType()), False),
        # nullable: simhash=False emits NULL (not a 0 sentinel — every doc
        # sharing literal 0 would collide into ONE simhash bucket and blow
        # up candidate generation quadratically if such a features relation
        # ever reached simhash_candidate_pairs; NULL rows fail loudly there)
        T.StructField("simhash", T.LongType(), True),
        # LSH band hashes, precomputed once in the batched kernel (see
        # hashing.band_hashes_from_signatures) and persisted — every LSH
        # consumer reuses them instead of re-hashing signature slices
        T.StructField("bands", T.ArrayType(T.LongType()), False),
    ]
)


def make_extract_text_udf():
    """html (binary) → extracted text. Pure function of the html bytes:
    strip tags, unescape entities. For the synthetic wrapper
    ``<html><body><p>{escape(text)}</p></body></html>`` this reproduces
    ``text`` byte-identically (BASELINE.json input_hint invariant; tested in
    tests/test_pipeline_recall.py)."""

    @pandas_udf(T.StringType())
    def extract_text(html: pd.Series) -> pd.Series:
        decoded = html.map(lambda b: b.decode("utf-8", errors="replace") if b is not None else "")
        stripped = decoded.str.replace(_TAG_RE, "", regex=True)
        return stripped.map(_html.unescape)

    return extract_text


def make_feature_udf(cfg: DedupConfig, simhash: bool = True):
    """text → struct(shingles array<int>, minhash array<long>, simhash long).

    shingles: distinct k-shingle hashes (char or token mode) — the exact-
    Jaccard verify stage uses these via JVM array_intersect + set sizes.
    minhash: length ``cfg.num_hashes`` one-permutation-hashing signature
    (batched numpy, ``hashing.oph_signatures``).
    simhash: 64-bit TF-weighted fingerprint.
    """
    seeds = hashing.minhash_seeds(cfg.num_hashes, SEED)
    k = cfg.shingle_k
    mode = cfg.shingle_mode
    n_bands = cfg.lsh_bands
    want_simhash = simhash

    @pandas_udf(FEATURE_SCHEMA)
    def features(text: pd.Series) -> pd.DataFrame:
        texts = text.fillna("").tolist()
        if mode == "char":
            shingle_sets = hashing.char_shingle_hashes_batch(texts, k)
        else:
            shingle_sets = hashing.token_ngram_hashes_batch(texts, k)
        sig = hashing.oph_signatures(shingle_sets, seeds)
        if want_simhash:
            tok = hashing.token_hashes_batch(texts)
            sh = hashing.simhash64(tok)
        else:
            # the token-hash + bit-unpack kernels are the most DRAM-hungry
            # stage of feature extraction — skip them entirely when the
            # caller's pipeline never consumes simhash (schema stays stable;
            # NULL, never a constant sentinel — see FEATURE_SCHEMA note)
            sh = pd.array([None] * len(texts), dtype="Int64")
        bands = hashing.band_hashes_from_signatures(sig, n_bands)
        return pd.DataFrame(
            {
                "shingles": [s.view(np.int32) for s in shingle_sets],
                "minhash": list(sig),
                "simhash": sh,
                "bands": list(bands),
            }
        )

    # asNondeterministic: the function IS deterministic (pure hash of the
    # text), but the flag stops Catalyst pushing derived filters (e.g. the
    # size(bands) > 0 precondition a posexplode generates) below the
    # spread-repartition exchange, which duplicated the whole Arrow UDF —
    # one evaluation per corpus pass below the filter and one above
    # (guide §4.4 pattern; measured: 2x ArrowEvalPython in every unpersisted
    # consumer's plan, i.e. a full extra feature pass in the token-Jaccard
    # LSH queries).
    return features.asNondeterministic()


def _estimated_scan_width(df) -> int:
    """Estimated parallelism of a scan from pure metadata (no physical-plan
    materialization like rdd.getNumPartitions): the file count, raised to
    the SPLIT count for large splittable local files — a corpus stored as a
    few multi-GiB parquet files still scans wide, so it must not be counted
    as narrow and rebalanced (an unconditional shuffle of the whole
    corpus). Non-file / remote inputs return the file count (0 for
    createDataFrame-style inputs → treated as narrow and rebalanced)."""
    try:
        files = df.inputFiles()
    except Exception:
        return 0
    if not files:
        return 0
    local = [f for f in files if f.startswith("file:")]
    if len(local) != len(files):
        return len(files)
    import os
    from urllib.parse import unquote, urlparse

    try:
        total = sum(os.path.getsize(unquote(urlparse(f).path)) for f in local)
    except OSError:
        return len(files)
    conf = df.sparkSession.conf.get("spark.sql.files.maxPartitionBytes", "134217728b")
    max_bytes = int("".join(ch for ch in str(conf) if ch.isdigit()) or 134217728)
    return max(len(files), -(-total // max_bytes))


def with_features(df, cfg: DedupConfig, text_col: str = "text", simhash: bool = True):
    """Append the feature struct columns. A narrow input (a small parquet
    scan, a local createDataFrame) goes through a ``rebalance`` exchange
    first, so AQE sizes the Arrow-UDF fan-out from the bytes it holds: a
    20-doc delta runs ONE Python task (measured on a 4-CPU host: ~0.25
    CPU-s of per-task worker setup vs ~4 ms of UDF body for 20 docs), while
    several MB of text, or one large file, is still split across cores
    (coalesce target ``max(minPartitionSize, bytes / parallelism)``, plus
    rebalance skew splitting). Width is estimated from file count AND
    byte-derived split count (``_estimated_scan_width``): a wide file-backed
    scan at cluster scale is never shuffled. Callers persist the result;
    the session sets ``canChangeCachedPlanOutputPartitioning`` so the
    coalescing also applies inside the cached plan (see session.py)."""
    feat = make_feature_udf(cfg, simhash=simhash)
    if _estimated_scan_width(df) < cfg.shuffle_partitions:
        df = df.hint("rebalance")
    out = df.withColumn("_f", feat(F.col(text_col)))
    return (
        out.withColumn("shingles", F.col("_f.shingles"))
        .withColumn("minhash", F.col("_f.minhash"))
        .withColumn("simhash", F.col("_f.simhash"))
        .withColumn("bands", F.col("_f.bands"))
        .drop("_f")
    )
