"""Exact comparison of a Spark result against its DuckDB twin.

Rows are compared as an order-insensitive multiset over the sorted column
set, bit-exact for floats: the registry's aggregates are built to be
order-independent, so any difference is a semantics bug, not noise.
"""

from __future__ import annotations

import os

import duckdb
import pandas as pd


def duckdb_conn(data_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
        elif df[c].dtype == object:
            pass
        elif pd.api.types.is_bool_dtype(df[c]):
            df[c] = df[c].astype(bool)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("Int64")
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
    return df.sort_values(
        by=list(df.columns), kind="mergesort", na_position="last"
    ).reset_index(drop=True)


def _cell_equal(a, b) -> bool:
    try:
        na, nb = bool(pd.isna(a)), bool(pd.isna(b))
        if na or nb:
            return na and nb
    except (TypeError, ValueError):
        pass  # array-valued cells
    if hasattr(a, "__len__") and not isinstance(a, str):
        return len(a) == len(b) and all(_cell_equal(x, y) for x, y in zip(a, b))
    return a == b


def frames_differ(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> str:
    """Empty string when equal, else a one-line reason."""
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return f"columns {sorted(spark_pdf.columns)} != {sorted(oracle_pdf.columns)}"
    if len(spark_pdf) != len(oracle_pdf):
        return f"rows {len(spark_pdf)} != {len(oracle_pdf)}"
    a, b = _canon(spark_pdf), _canon(oracle_pdf)
    if a.equals(b):
        return ""
    for i in range(len(a)):
        for c in a.columns:
            if not _cell_equal(a.iloc[i][c], b.iloc[i][c]):
                return f"row {i} column {c}: {a.iloc[i][c]!r} != {b.iloc[i][c]!r}"
    return ""
