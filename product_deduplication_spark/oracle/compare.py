"""Driver-simulating comparator: Spark query vs DuckDB oracle SQL.

Mirrors the verify protocol described in the driver contract
(__spark_entry__.py docstring): run both, sort columns by name, compare
row counts + order-insensitive values. Used by tests/test_entry_oracle.py so
oracle mismatches are caught locally before the round's CORRECTNESS run.
"""

from __future__ import annotations

import duckdb
import pandas as pd

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duckdb_conn(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif df[c].dtype == object:
            df[c] = df[c].map(lambda v: float(v) if isinstance(v, (int,)) else v)
    return df.sort_values(by=list(df.columns), ignore_index=True)


def compare_frames(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    """Returns a list of mismatch descriptions (empty == match)."""
    problems: list[str] = []
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(
            f"schema: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"
        )
        return problems
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"rowcount: spark={len(spark_pdf)} duck={len(duck_pdf)}")
        return problems
    a = _normalize(spark_pdf)
    b = _normalize(duck_pdf)
    for c in a.columns:
        av, bv = a[c], b[c]
        if pd.api.types.is_float_dtype(av) or pd.api.types.is_float_dtype(bv):
            av_f = pd.to_numeric(av, errors="coerce")
            bv_f = pd.to_numeric(bv, errors="coerce")
            both_nan = av_f.isna() & bv_f.isna()
            close = both_nan | (abs(av_f - bv_f) <= 1e-6 + 1e-9 * abs(bv_f))
            if not close.all():
                idx = close.idxmin()
                problems.append(f"col {c}: first diff at row {idx}: {av_f[idx]} vs {bv_f[idx]}")
        else:
            eq = (av == bv) | (av.isna() & bv.isna())
            if not eq.all():
                idx = eq.idxmin()
                problems.append(f"col {c}: first diff at row {idx}: {av[idx]!r} vs {bv[idx]!r}")
    return problems
