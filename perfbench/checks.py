"""Output checks: order-insensitive artifact hashes and cross-checks
against independent implementations.

Both work on pandas frames, outside Spark: doubles are rounded to 6
decimals (and -0.0 folded into 0.0) so that a different summation order
cannot change a result, and rows are compared as a multiset.

* ``table_hash`` digests a frame (or a Parquet artifact) to
  ``rows:digest:columns``; equal multisets of rows give equal digests.
* ``same_rows`` compares two frames row by row under the same rounding,
  ints equal to the same float; it backs the DuckDB-oracle and the pandas
  differential cross-checks.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

DECIMALS = 6


def _canonical(pdf: pd.DataFrame) -> pd.DataFrame:
    cols = sorted(pdf.columns)
    out = pdf[cols].copy()
    for c in cols:
        if pd.api.types.is_float_dtype(out[c]):
            out[c] = out[c].round(DECIMALS) + 0.0
    return out


def table_hash(pdf: pd.DataFrame) -> str:
    """Order-insensitive digest: the wrapping sum of 64-bit row hashes."""
    canon = _canonical(pdf)
    rows = pd.util.hash_pandas_object(canon, index=False).to_numpy(dtype=np.uint64)
    return f"{len(canon)}:{int(rows.sum(dtype=np.uint64))}:{','.join(canon.columns)}"


def artifact_hash(path: str) -> str:
    """``table_hash`` of a Parquet artifact directory."""
    return table_hash(pq.read_table(path).to_pandas())


def _cell(v):
    if v is None:
        return None
    if hasattr(v, "item"):  # numpy scalar
        v = v.item()
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, DECIMALS) + 0.0
    if isinstance(v, int) and not isinstance(v, bool):
        return float(v)
    return v


def _canonical_rows(pdf: pd.DataFrame) -> list[tuple]:
    """Rows with columns in name order and canonical cells, sorted."""
    cols = sorted(pdf.columns)
    rows = [tuple(_cell(v) for v in row) for row in pdf[cols].itertuples(index=False)]
    return sorted(rows, key=repr)


def same_rows(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    """Multiset equality of two frames with the same column names."""
    if sorted(a.columns) != sorted(b.columns) or len(a) != len(b):
        return False
    return _canonical_rows(a) == _canonical_rows(b)


def duckdb_oracle(sf_dir: str, sql: str) -> pd.DataFrame:
    """Run a catalog ``ORACLE`` query on DuckDB over ``<sf_dir>/documents.parquet``."""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
        return con.execute(sql).df()
    finally:
        con.close()
