"""Exact substring-containment dedup (doc B contained verbatim in doc A).

North-star requirement (BASELINE.json: "suffix-array-based exact substring
dedup"). A single global suffix array is impossible at 10^12 docs, so the
Spark-native decomposition is:

1. **Winnowing fingerprints** (Schleimer et al., MOSS, SIGMOD 2003) per doc:
   rolling k-gram hashes, keep positions that are the minimum of a w-window.
   Guarantee: any shared run of length >= k + w - 1 shares a fingerprint, and
   a contained doc shares (nearly) all its fingerprints with its container.
   Computed in one numpy pass per Arrow batch (sliding-window min) — this is
   the per-partition "suffix structure" stage; a partition-local suffix
   array would find the same shared runs at higher cost.
2. **Candidate generation**: explode (doc_id, fp) → self-join on fp. HOT
   fingerprints (boilerplate runs shared by > bucket_cap docs) are excluded
   from the join — AND from the containment denominator, so a contained doc
   made mostly of boilerplate is still found through its distinctive
   fingerprints (a doc with zero surviving fingerprints gets no
   candidates). A pair is a
   candidate when the smaller doc shares >= ``containment_frac`` of its
   *surviving* fingerprints with the larger.
3. **Exact verification**: candidates join texts; vectorized Arrow UDF
   checks ``contained.text in container.text`` byte-exactly — precision 1.0.

Reference analog: V8 exact-duplicate pass (reference/heuristic_ucpc_dups.py:
232-264) generalized from whole-string equality to substring containment.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf

from product_deduplication_spark.config import DedupConfig
from product_deduplication_spark.functions.hashing import _FNV_PRIME, _U64_MAX, splitmix64

# minimum length of a shared run the fingerprints must detect: winnowing
# with k = 20 and w = MIN_LEN - k + 1 finds every run of >= MIN_LEN bytes
MIN_LEN = 50


def winnow_fingerprints(text: str, k: int = 20, w: int = 31) -> np.ndarray:
    """Distinct winnowing fingerprint hashes of ``text`` (UTF-8 bytes).

    Detects any shared substring of length >= k + w - 1.
    """
    b = np.frombuffer(text.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
    n = b.size
    if n < k:
        return np.empty(0, dtype=np.uint64)
    m = n - k + 1
    with np.errstate(over="ignore"):  # uint64 wraparound intended
        h = np.zeros(m, dtype=np.uint64)
        for j in range(k):
            h = (h * _FNV_PRIME + b[j : j + m]) & _U64_MAX
    h = splitmix64(h)
    if m <= w:
        return np.unique(h[h == h.min()])
    wins = np.lib.stride_tricks.sliding_window_view(h, w).min(axis=1)
    # position i (>= w-1) is selected iff it attains the min of some window
    mins = np.unique(wins)
    return np.unique(h[np.isin(h, mins)])


def make_fingerprint_udf(k: int, w: int):
    @pandas_udf(T.ArrayType(T.LongType()))
    def fingerprints(text: pd.Series) -> pd.Series:
        return pd.Series(
            [winnow_fingerprints(t or "", k, w).view(np.int64) for t in text]
        )

    return fingerprints


def substring_candidate_pairs(
    docs: DataFrame, cfg: DedupConfig, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(big, small) candidate pairs where `small`'s fingerprints are mostly
    contained in `big`'s. Columns: big, small, shared, small_total, frac."""
    k, w = 20, MIN_LEN - 20 + 1
    fp_udf = make_fingerprint_udf(k, max(w, 2))
    feats = docs.select(
        F.col(id_col).alias("node"),
        F.length(text_col).alias("n_len"),
        fp_udf(F.col(text_col)).alias("fps"),
    ).where(F.size("fps") > 0)
    ex = feats.select("node", "n_len", F.explode("fps").alias("fp"))
    # hot fingerprints (boilerplate runs): exclude from the join AND from
    # the containment denominator — a doc that is 90% boilerplate must
    # still reach frac>=0.6 through its surviving distinctive fingerprints.
    # Bucket size via a window over ONE exchange of the exploded fingerprint
    # relation (the former groupBy + join-back shuffled it twice), which
    # also leaves ex partitioned by fp for the a/b containment join below.
    ex = ex.withColumn(
        "bn", F.count("*").over(Window.partitionBy("fp"))
    ).where(F.col("bn") <= cfg.bucket_cap)
    total = ex.groupBy("node").agg(F.count("*").alias("n_fp"))
    a = ex.select(
        F.col("fp"), F.col("node").alias("big"), F.col("n_len").alias("big_len")
    )
    b = ex.select(
        F.col("fp"), F.col("node").alias("small"), F.col("n_len").alias("small_len")
    )
    shared = (
        a.join(b, "fp")
        .where(
            (F.col("big") != F.col("small"))
            & (
                (F.col("big_len") > F.col("small_len"))
                | ((F.col("big_len") == F.col("small_len")) & (F.col("big") < F.col("small")))
            )
        )
        .groupBy("big", "small")
        .agg(F.count("*").alias("shared"))
    )
    return (
        shared.join(total.withColumnRenamed("node", "small"), "small")
        .withColumn("frac", F.col("shared") / F.col("n_fp"))
        .where(F.col("frac") >= 0.6)
        .select("big", "small", "shared", F.col("n_fp").alias("small_total"), "frac")
    )


def verify_containment(
    candidates: DataFrame, docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact byte containment check → edges (src=container, dst=contained,
    method='substring', similarity=len_small/len_big)."""

    @pandas_udf(T.BooleanType())
    def contains(big_text: pd.Series, small_text: pd.Series) -> pd.Series:
        # Arrow-batched; the per-element op is C-level str search
        return pd.Series(
            [s in g if (s is not None and g is not None) else False
             for g, s in zip(big_text, small_text)]
        )

    texts = docs.select(F.col(id_col).alias("_tid"), F.col(text_col).alias("_txt"))
    joined = (
        candidates.join(texts.withColumnRenamed("_tid", "big").withColumnRenamed("_txt", "_big_txt"), "big")
        .join(texts.withColumnRenamed("_tid", "small").withColumnRenamed("_txt", "_small_txt"), "small")
    )
    return (
        joined.where(contains(F.col("_big_txt"), F.col("_small_txt")))
        .select(
            F.col("big").alias("src"),
            F.col("small").alias("dst"),
            F.lit("substring").alias("method"),
            F.round(F.length("_small_txt") / F.length("_big_txt"), 6).alias("similarity"),
        )
    )


def substring_duplicate_edges(
    docs: DataFrame, cfg: DedupConfig, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Full stage: winnow → candidates → exact verify."""
    cands = substring_candidate_pairs(docs, cfg, id_col, text_col)
    return verify_containment(cands, docs, id_col, text_col)
