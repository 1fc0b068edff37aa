"""Differential-test harness: Spark result vs DuckDB oracle.

Mirrors the driver's comparison (``__spark_entry__.py`` contract):
row count, column-name set, and an order-insensitive value comparison
with columns sorted by name. Used by ``tests/`` at sf0.001/sf0.01 so
parity problems surface before the driver runs.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import duckdb
import pandas as pd

from .schemas import TESTDATA_TABLES

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


def duckdb_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with the testdata tables registered as views
    (same names the driver pre-registers)."""
    con = duckdb.connect()
    for name in TESTDATA_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Sort columns by name, canonicalize cell values, sort rows."""
    df = df[sorted(df.columns)].copy()

    def canon(v):
        if v is None:
            return "\x00NULL"
        if isinstance(v, float):
            if math.isnan(v):
                return "\x00NULL"
            if v == int(v) and abs(v) < 1e15:
                return f"{v:.6f}"
            return f"{v:.6f}"
        if isinstance(v, pd.Timestamp):
            return v.isoformat()
        try:
            if pd.isna(v):
                return "\x00NULL"
        except (TypeError, ValueError):
            pass
        if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
            return "[" + ",".join(canon(x) for x in v) + "]"
        return str(v)

    for col in df.columns:
        df[col] = df[col].map(canon)
    return df.sort_values(by=list(df.columns), ignore_index=True)


@dataclass
class DiffResult:
    name: str
    ok: bool
    detail: str = ""


def compare_frames(name: str, spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> DiffResult:
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        return DiffResult(
            name, False,
            f"schema mismatch: spark={sorted(spark_pdf.columns)} oracle={sorted(oracle_pdf.columns)}",
        )
    if len(spark_pdf) != len(oracle_pdf):
        return DiffResult(
            name, False, f"row count mismatch: spark={len(spark_pdf)} oracle={len(oracle_pdf)}"
        )
    a, b = _normalize(spark_pdf), _normalize(oracle_pdf)
    if not a.equals(b):
        neq = a.compare(b) if a.shape == b.shape else None
        sample = neq.head(5).to_string() if neq is not None and not neq.empty else "(shape diff)"
        return DiffResult(name, False, f"value mismatch:\n{sample}")
    return DiffResult(name, True)
