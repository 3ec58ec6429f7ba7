"""DuckDB reference results and the comparison rules the repository's
oracle tests use (tests/conftest.py): columns matched by name, rows
sorted canonically, floats equal to a relative 1e-6."""

from __future__ import annotations

import datetime
import decimal
import math
import os

import duckdb
import pyarrow as pa


def connect(data_dir: str, tables, threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET autoinstall_known_extensions = false")
    con.execute(f"SET threads = {threads}")
    for t in tables:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(path):
            path = os.path.join(path, "*.parquet")
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    return con


def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat(timespec="microseconds")
    if isinstance(v, datetime.date):
        return datetime.datetime(v.year, v.month, v.day).isoformat(timespec="microseconds")
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def _sort_key(row):
    def k(x):
        if x is None:
            return (True, "")
        if isinstance(x, float):
            return (False, f"{x:.6e}")
        return (False, str(x))

    return tuple(k(x) for x in row)


def _rows(t: pa.Table) -> tuple[list[str], list[tuple]]:
    cols = sorted(t.column_names, key=str.lower)
    data = [t.column(c).to_pylist() for c in cols]
    rows = [tuple(_norm(v) for v in r) for r in zip(*data)]
    rows.sort(key=_sort_key)
    return [c.lower() for c in cols], rows


def _equal(a, b, rtol: float) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_equal(x, y, rtol) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        x, y = float(a), float(b)
        if math.isnan(x) and math.isnan(y):
            return True
        return math.isclose(x, y, rel_tol=rtol, abs_tol=1e-9)
    return str(a) == str(b)


def mismatch(got: pa.Table, want: pa.Table, rtol: float = 1e-6) -> str | None:
    """None when the two results match, else a one-line reason."""
    gc, gr = _rows(got)
    wc, wr = _rows(want)
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"{len(gr)} rows != {len(wr)}"
    for i, (g, w) in enumerate(zip(gr, wr)):
        if not all(_equal(x, y, rtol) for x, y in zip(g, w)):
            return f"row {i}: {g} != {w}"
    return None
