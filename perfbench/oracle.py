"""Correctness gate for registry ops: each result must equal its DuckDB
oracle (``QuerySpec.oracle``) on the generated tables.

The comparison follows the rules of the engine's oracle-parity test: same
column set, same row count, rows compared order-insensitively after a
sort over every column, equal dtype kind per column (int widths collapse),
and exact equality of values, floats included. Expected results are cached
under the benchmark's cache directory, keyed by the data identity and the
oracle text, so DuckDB runs once per checkout, never inside a timed run.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pandas as pd

from multi_source_financial_data_pipeline_spark.sources.tables import TABLE_NAMES

def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for col in df.columns:
        # DuckDB DATE arrives as datetime64, Spark DateType as datetime.date
        if df[col].dtype.kind == "M":
            df[col] = pd.to_datetime(df[col]).astype("datetime64[ns]")
        elif df[col].dtype == object and len(df) and df[col].map(
            lambda v: hasattr(v, "toordinal"), na_action="ignore"
        ).eq(True).all():
            df[col] = pd.to_datetime(df[col]).astype("datetime64[ns]")
    if len(df):
        df = df.sort_values(by=list(df.columns), na_position="first")
    return df.reset_index(drop=True)


def _kind(dtype: np.dtype) -> str:
    return "i" if dtype.kind in "iu" else dtype.kind


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when ``got`` equals ``want`` by the parity rules, else the first
    difference found. Both frames must already be normalized."""
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"row count {len(got)} != {len(want)}"
    for col in got.columns:
        g, w = got[col].to_numpy(), want[col].to_numpy()
        if _kind(g.dtype) != _kind(w.dtype):
            return f"{col}: dtype kind {g.dtype} != {w.dtype}"
        if g.dtype.kind == "f" or w.dtype.kind == "f":
            g, w = g.astype(float), w.astype(float)
            both_nan = np.isnan(g) & np.isnan(w)
            if not np.array_equal(g[~both_nan], w[~both_nan]):
                return f"{col}: float values differ"
        elif not np.array_equal(g.astype(object), w.astype(object)):
            return f"{col}: values differ"
    return None


class ExpectedCache:
    """Normalized oracle results, one pickle per (data identity, oracle);
    the data directory is named after the data identity."""

    def __init__(self, cache_dir: str, data_dir: str) -> None:
        self.root = os.path.join(cache_dir, "expected")
        self.data_dir = data_dir
        self._con = None

    def _path(self, oracle_sql: str) -> str:
        data_key = os.path.basename(self.data_dir.rstrip("/"))
        key = hashlib.sha256(f"{data_key}\n{oracle_sql}".encode()).hexdigest()
        return os.path.join(self.root, f"{key[:24]}.pkl")

    def _duck(self):
        if self._con is None:
            import duckdb

            con = duckdb.connect()
            con.execute("SET threads TO 2")
            con.execute("SET memory_limit='2GB'")
            for t in TABLE_NAMES:
                con.sql(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(self.data_dir, t)}.parquet'"
                )
            self._con = con
        return self._con

    def get(self, oracle_sql: str) -> pd.DataFrame:
        path = self._path(oracle_sql)
        if os.path.exists(path):
            return pd.read_pickle(path)
        want = normalize(self._duck().sql(oracle_sql).df())
        os.makedirs(self.root, exist_ok=True)
        tmp = f"{path}.tmp{os.getpid()}"
        want.to_pickle(tmp)
        os.replace(tmp, path)
        return want

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
