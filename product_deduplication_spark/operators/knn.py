"""Similarity search over embedding columns: brute-force + LSH-bucketed ANN.

Training-data-pipeline op (embedding-cosine near-dup / retrieval):

- ``brute_force_topk``: exact cosine top-k via JVM higher-order functions
  (zip_with dot product, norms computed once per vector) — the baseline and
  the registry's ``knn_cosine`` row; O(|Q| x |C|), fine when the query side
  is small or broadcastable.
- ``ann_topk``: random-hyperplane LSH (sign bits → bucket key; Charikar
  SimHash for real vectors). Candidates = vectors sharing a bucket in any of
  ``n_tables`` hash tables; exact cosine re-rank on candidates only. The
  scale path: candidate generation is a shuffle on (table, bucket) keys —
  same relational shape as MinHash-LSH banding, with the same hot-bucket
  control: corpus buckets over ``bucket_cap`` members are deterministically
  THINNED (hash-stride subsample, expected <= cap survivors) before the
  bucket join, so a degenerate embedding corpus (millions of identical /
  zero vectors → one bucket per table) costs O(|queries| x cap) candidate
  rows instead of O(|queries| x |bucket|). The size agg is algebraic
  (map-side partials) and the thinning filter is per-row, so the hot key
  never concentrates more than its member rows on a reducer — exactly the
  lsh.py skew story, adapted to top-k semantics (a star edge is enough for
  dedup connectivity; top-k instead keeps a bounded deterministic sample to
  re-rank, trading recall only inside pathologically-hot buckets).

Both return (query_id, neighbor_id, cos, rk) with deterministic tie-breaks;
``ann_topk`` re-ranks through ``_cos_expr``, which the ``ann_topk`` registry
row also uses as its independent exact recheck.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.functions import pandas_udf


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(c):
    return F.sqrt(F.aggregate(F.transform(c, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def _cos_expr(a: str, b: str):
    return _dot(a, b) / (_norm(F.col(a)) * _norm(F.col(b)))


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def brute_force_topk(
    queries: DataFrame, corpus: DataFrame, k: int = 5, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    # one norm per vector, before the theta join: the dot product is the only
    # per-pair O(d) work, and the doubles equal _cos_expr's
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", _norm(F.col("qv")))
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", _norm(F.col("cv")))
    pairs = q.join(c, F.col("query_id") != F.col("neighbor_id")).withColumn(
        "cos", F.round(_dot("qv", "cv") / (F.col("qn") * F.col("cn")), 6)
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        pairs.withColumn("rk", F.row_number().over(w).cast("long"))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos", "rk")
    )


def make_hyperplane_udf(dim: int, n_bits: int, n_tables: int, seed: int = 42):
    """vector → array of n_tables bucket keys (each = sign-bit pattern of
    n_bits random hyperplanes, packed into a long). Batched numpy: one
    matmul per Arrow batch."""
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_tables * n_bits, dim)).astype(np.float64)
    powers = (1 << np.arange(n_bits, dtype=np.int64))[::-1]

    @pandas_udf(T.ArrayType(T.LongType()))
    def bucket_keys(vecs: pd.Series) -> pd.Series:
        mat = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        if mat.size == 0:
            return pd.Series([], dtype=object)
        signs = (mat @ planes.T) >= 0  # (n, n_tables*n_bits)
        signs = signs.reshape(len(mat), n_tables, n_bits)
        keys = (signs * powers).sum(axis=2)  # (n, n_tables)
        # offset by table index so buckets from different tables never merge
        keys = keys + (np.arange(n_tables, dtype=np.int64) << np.int64(n_bits + 1))
        return pd.Series(list(keys))

    return bucket_keys


def ann_candidates(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_bits: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    bucket_cap: int | None = 2048,
) -> DataFrame:
    """(query_id, qv, neighbor_id, cv) candidate rows from shared LSH
    buckets, with hot corpus buckets thinned to ~``bucket_cap`` members.

    The thinning is a deterministic hash-stride subsample: a bucket of n >
    cap members keeps rows where xxhash64(id, bucket) % ceil(n/cap) == 0 —
    expected <= cap survivors, identical for every query probing the bucket,
    no window/sort on the hot key. ``bucket_cap=None`` disables."""
    udf = make_hyperplane_udf(dim, n_bits, n_tables, seed)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("cv"),
        F.explode(udf(F.col(vec_col))).alias("bucket"),
    )
    if bucket_cap is not None:
        # bucket size via a window over ONE exchange of the exploded corpus
        # relation (the former groupBy + join-back shuffled the vector-
        # carrying rows twice); same deterministic hash-stride thinning
        stride = F.ceil(F.col("_bn") / F.lit(bucket_cap)).cast("long")
        c = (
            c.withColumn("_bn", F.count("*").over(Window.partitionBy("bucket")))
            .where(
                (F.col("_bn") <= bucket_cap)
                | (F.pmod(F.xxhash64("neighbor_id", "bucket"), stride) == 0)
            )
            .drop("_bn")
        )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("qv"),
        F.explode(udf(F.col(vec_col))).alias("bucket"),
    )
    return (
        q.join(c, "bucket")
        .where(F.col("query_id") != F.col("neighbor_id"))
        .dropDuplicates(["query_id", "neighbor_id"])
    )


def ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    n_bits: int = 8,
    n_tables: int = 8,
    seed: int = 42,
    bucket_cap: int | None = 2048,
) -> DataFrame:
    """LSH-bucketed approximate top-k with exact re-rank of candidates."""
    cands = ann_candidates(
        queries, corpus, id_col, vec_col, dim, n_bits, n_tables, seed, bucket_cap
    )
    ranked = cands.withColumn("cos", F.round(_cos_expr("qv", "cv"), 6))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("neighbor_id"))
    return (
        ranked.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("query_id", "neighbor_id", "cos", "rk")
    )
