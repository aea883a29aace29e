"""Explicit lifecycle for operator-internal Dataset caches.

``Dataset.persist`` registers the plan in Spark's CacheManager, which holds
a strong reference until ``unpersist()`` — the ContextCleaner never reclaims
it (it only tracks GC'd RDD objects, and the CacheManager keeps the plan
alive). An operator that persists an internal subtree and returns a lazy
DataFrame therefore leaks one cache entry per invocation in a long-lived
session: an incremental ingest loop calls ``candidate_pairs`` once per
batch, so without an explicit release the cached blocks accumulate for
the life of the job (memory pressure, then unbounded disk spill under
MEMORY_AND_DISK).

``CacheScope`` makes the lifetime a caller decision: operators register
their internal persists in the scope they were handed, and whoever
materialized the results releases the scope. Operators called without a
scope keep the old behavior (persist, rely on session teardown) so one-shot
scripts and tests are unaffected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


class CacheScope:
    """Collects DataFrames persisted on behalf of a caller; ``release()``
    unpersists them all. Release only after the results are materialized::

        scope = CacheScope()
        pairs = candidate_pairs(feats, cfg, scope=scope)
        pairs.count()          # materialize while caches are live
        scope.release()
    """

    def __init__(self) -> None:
        self._cached: list[DataFrame] = []

    def persist(self, df: DataFrame) -> DataFrame:
        df = df.persist()
        self._cached.append(df)
        return df

    def release(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached.clear()


def persist_in(df: DataFrame, scope: CacheScope | None) -> DataFrame:
    """persist ``df``, registered in ``scope`` when one is given (explicit
    release by the caller that knows the lifetime), bare otherwise."""
    return scope.persist(df) if scope is not None else df.persist()
