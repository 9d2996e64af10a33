"""Result comparison against DuckDB oracle SQL over the same inputs.

The oracles are the registry's own ANSI-SQL oracles (``plans.registry
.ORACLE``), evaluated by DuckDB over the generated parquet files — an
engine that shares no code with Spark. Comparison is order-insensitive:
same column names, same row count, and row-by-row equal after a sort on
every column, floats equal within 1e-9 relative (1e-12 absolute).
"""

from __future__ import annotations

import datetime as dt
import math
from decimal import Decimal

import duckdb
import numpy as np
import pandas as pd

from gen_tables import duckdb_source

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name in TABLES:
        src = duckdb_source(sf_dir, name)
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{src}')")
    return con


def _cell(v):
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (np.floating, float)):
        return None if math.isnan(v) else float(v)
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.bool_,)):
        return bool(v)
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime().replace(tzinfo=None)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None)
    if isinstance(v, dt.date):
        return dt.datetime(v.year, v.month, v.day)
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(_cell(x) for x in v)
    try:
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    return v


def _key(v):
    # rows sort on (type tag, value) so None/int/str never compare
    if v is None:
        return (0,)
    if isinstance(v, float):
        return (1, round(v, 6))
    if isinstance(v, tuple):
        return (2, tuple(_key(x) for x in v))
    return (3, repr(v))


def _rows(df: pd.DataFrame, cols: list[str], fcols: set[str]) -> list[tuple]:
    """Rows in a canonical order: exact columns sort first, floats only
    rounded and last, so last-bit engine differences cannot reorder."""
    rows = [tuple(_cell(v) for v in r) for r in df[cols].itertuples(index=False, name=None)]
    order = [i for i, c in enumerate(cols) if c not in fcols] + [
        i for i, c in enumerate(cols) if c in fcols]
    return sorted(rows, key=lambda r: tuple(_key(r[i]) for i in order))


def _same(a, b) -> bool:
    if isinstance(a, float) and isinstance(b, float):
        return a == b or math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    if isinstance(a, (int, float)) and isinstance(b, (int, float)) and not isinstance(a, bool):
        return float(a) == float(b)
    return a == b


def identical(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    """Exactly the same rows in any order (a fast path between passes of
    one run; False whenever it cannot tell)."""
    if list(a.columns) != list(b.columns) or a.shape != b.shape:
        return False
    try:
        cols = list(a.columns)
        sa = a.sort_values(cols, kind="stable").reset_index(drop=True)
        sb = b.sort_values(cols, kind="stable").reset_index(drop=True)
        return sa.equals(sb)
    except (TypeError, ValueError):  # unsortable cells (arrays, maps)
        return False


def mismatch(actual: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    """None when equal; otherwise a one-line description of the first
    difference."""
    if sorted(actual.columns) != sorted(expected.columns):
        return f"columns {sorted(actual.columns)} != {sorted(expected.columns)}"
    if len(actual) != len(expected):
        return f"rows {len(actual)} != {len(expected)}"
    cols = sorted(actual.columns)
    fcols = {c for c in cols if actual[c].dtype.kind == "f" or expected[c].dtype.kind == "f"}
    got, want = _rows(actual, cols, fcols), _rows(expected, cols, fcols)
    for i, (ra, rb) in enumerate(zip(got, want)):
        for c, a, b in zip(cols, ra, rb):
            if not _same(a, b):
                return f"sorted row {i} column {c}: {a!r} != {b!r}"
    return None
