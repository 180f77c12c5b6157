"""Output checks: an order-insensitive signature of a result table,
and the expected signatures from the engine's DuckDB twins.

A signature is (row count, sorted column names, digest of the sorted
per-row hashes).  Cells are canonicalized after the rule of the
engine's `scripts/crosscheck.py`, so both engines agree on equal
results: NULL is one value of its own, booleans are 0/1, numbers keep
12 significant digits, timestamps are epoch microseconds and dates
epoch days.  The canonical values are hashed as numbers, not
formatted as text, so that checking a 250,000-row fact table costs
well under a second.
"""

from __future__ import annotations

import hashlib
from concurrent.futures import ThreadPoolExecutor
from typing import NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc


class Signature(NamedTuple):
    rows: int
    columns: tuple[str, ...]
    digest: str


# hash of a NULL cell, whatever the column type
_NULL_HASH = np.uint64(0x9E3779B97F4A7C15)
_EXACT = 2.0**53  # integers below this are exact as float64


def _round12(v: np.ndarray) -> np.ndarray:
    """``v`` rounded to 12 significant digits (what "%.12g" keeps)."""
    with np.errstate(divide="ignore", invalid="ignore", over="ignore"):
        mag = np.floor(np.log10(np.abs(v)))
        scale = 10.0 ** (11 - np.where(np.isfinite(mag), mag, 0.0))
        r = np.round(v * scale) / scale
    return np.where(np.isfinite(r), r, v) + 0.0  # + 0.0 turns -0.0 into 0.0


def _cell_hashes(col: pa.ChunkedArray) -> np.ndarray:
    """One uint64 per cell.  Numbers, booleans, timestamps (epoch µs)
    and dates (epoch days) hash as the float64 of their value rounded
    to 12 significant digits, so 3, 3.0 and True == 1 agree across
    engines; integers too large for float64 and strings hash as text."""
    t = col.type
    if pa.types.is_boolean(t):
        col = col.cast(pa.int8())
    elif pa.types.is_timestamp(t):
        col = pc.cast(col, pa.timestamp("us", tz=t.tz)).cast(pa.int64())
    elif pa.types.is_date(t):
        col = col.cast(pa.int32())
    num = col.type
    if pa.types.is_integer(num) or pa.types.is_floating(num) or pa.types.is_decimal(num):
        v = col.cast(pa.float64()).fill_null(0.0).to_numpy()
        if pa.types.is_floating(num) or not (np.abs(v) >= _EXACT).any():
            h = pd.util.hash_array(_round12(v))
        else:
            h = pd.util.hash_array(col.cast(pa.string()).to_numpy(zero_copy_only=False))
    elif pa.types.is_string(num) or pa.types.is_large_string(num):
        h = pd.util.hash_array(col.to_numpy(zero_copy_only=False))
    else:
        h = pd.util.hash_array(np.array([repr(v) for v in col.to_pylist()], dtype=object))
    h[col.is_null().to_numpy(zero_copy_only=False)] = _NULL_HASH
    return h


def signature(table: pa.Table, drop: tuple[str, ...] = ()) -> Signature:
    cols = tuple(sorted(c for c in table.column_names if c not in drop))
    frame = pd.DataFrame({c: _cell_hashes(table.column(c)) for c in cols})
    if frame.empty:
        row_hashes = np.empty(0, np.uint64)
    else:
        row_hashes = np.sort(pd.util.hash_pandas_object(frame, index=False).to_numpy())
    return Signature(table.num_rows, cols, hashlib.md5(row_hashes.tobytes()).hexdigest())


def oracle_signatures(
    data_dir: str, tables: list[str], queries: dict[str, str], threads: int
) -> dict[str, Signature]:
    """Run each ``queries`` SQL on DuckDB over the parquet inputs in
    ``data_dir``, ``threads`` queries at a time (several corpus twins
    are single-threaded text pipelines); returns name -> expected
    signature."""
    import duckdb

    con = duckdb.connect()
    try:
        for t in tables:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        with ThreadPoolExecutor(threads) as pool:
            sigs = pool.map(lambda sql: signature(con.cursor().sql(sql).arrow()), queries.values())
            return dict(zip(queries, sigs))
    finally:
        con.close()
