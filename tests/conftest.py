from __future__ import annotations

import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from product_deduplication_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="pytest-dedup", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


ORACLE_SF_DIR = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def oracle_frames(spark):
    """Session-scoped (spark_pdf, duck_pdf) cache for the driver-registry
    oracle queries. test_entry_oracle and test_oracle_strict both compare
    every registry entry against its DuckDB oracle; the Spark side includes
    O(n^2) brute-force self-check truth joins, so computing each query once
    per pytest SESSION instead of once per test file roughly halves the
    suite's oracle cost (VERDICT r04 #5). Returns a getter; frames are
    handed out as copies so one test's normalization can't leak into the
    other's comparison."""
    import __spark_entry__ as entry_mod
    from product_deduplication_spark.oracle.compare import duckdb_conn

    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    con = duckdb_conn(ORACLE_SF_DIR)
    cache: dict[str, tuple] = {}

    def get(name: str):
        if name not in cache:
            cache[name] = (
                queries[name](spark, ORACLE_SF_DIR).toPandas(),
                con.execute(oracles[name]).df(),
            )
        spark_pdf, duck_pdf = cache[name]
        return spark_pdf.copy(), duck_pdf.copy()

    yield get
    con.close()


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` runs ``fn`` under a fresh job group and returns
    ``(fn's result, number of Spark jobs it started)``."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count-jobs-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        # job-start events reach the status tracker through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run
