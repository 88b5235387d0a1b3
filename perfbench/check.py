"""Output checks: DuckDB oracles for registry entries, fingerprints otherwise."""

from __future__ import annotations

import hashlib
import math
import os

import duckdb
import numpy as np


def oracle_connection(data_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB with one view per ``<table>.parquet`` file in ``data_dir``."""
    con = duckdb.connect()
    for name in sorted(os.listdir(data_dir)):
        table, ext = os.path.splitext(name)
        if ext == ".parquet":
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{os.path.join(data_dir, name)}'")
    return con


def _round(v: float, digits: int, significant: bool) -> float:
    return float(f"{v:.{digits}g}") if significant else round(v, digits)


def _norm(v, digits: int, significant: bool = False):
    if isinstance(v, np.ndarray):
        return tuple(_norm(x, digits, significant) for x in v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x, digits, significant) for x in v)
    if isinstance(v, (np.integer, np.floating)):
        v = v.item()
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else _round(v, digits, significant)
    if v is None or (hasattr(v, "isoformat") and str(v) == "NaT"):
        return None
    return v


def canonical_rows(pdf, digits: int = 9, significant: bool = False) -> list[tuple]:
    """Rows of a pandas frame with sorted columns, rounded floats, sorted."""
    cols = sorted(pdf.columns)
    rows = (tuple(_norm(v, digits, significant) for v in r)
            for r in pdf[cols].itertuples(index=False, name=None))
    return sorted(rows, key=repr)


def compare(a, b) -> bool:
    """Equal, with floats equal up to a relative 1e-9 of noise."""
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(compare(x, y) for x, y in zip(a, b))
    if not (isinstance(a, float) and isinstance(b, float)):
        return a == b
    return abs(a - b) <= 1e-9 * max(abs(a), abs(b))


def matches_oracle(con: duckdb.DuckDBPyConnection, sql: str, got) -> bool:
    """Same columns and rows as the DuckDB oracle, floats up to noise."""
    want = con.execute(sql).fetch_arrow_table().to_pandas()
    if sorted(want.columns) != sorted(got.columns) or len(want) != len(got):
        return False

    def rows(pdf):  # exact values, ordered by their coarsely rounded form
        return sorted(canonical_rows(pdf), key=lambda r: repr(_norm(r, 6, True)))

    return compare(tuple(rows(got)), tuple(rows(want)))


def fingerprint(pdf, digits: int = 6) -> str:
    """Row count plus a hash of the order-free rows, floats rounded to
    ``digits`` significant digits: sums of large values may differ in the
    last bits when Spark adds them in another order."""
    rows = canonical_rows(pdf, digits, significant=True)
    return f"{len(rows)}:" + hashlib.sha1(repr(rows).encode()).hexdigest()[:16]
