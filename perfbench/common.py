"""Helpers shared by the workloads: result comparison against DuckDB,
percentiles, and on-disk sizes."""

from __future__ import annotations

import math
import os
import statistics

import duckdb

TABLES = ("documents", "embeddings", "orders", "lineitem", "customer")
# order-chain edges (each order -> the customer's next order): the graph the
# traversal requests and BFS jobs walk, as the engine side derives it
EDGES_SQL = """SELECT src, dst FROM (
    SELECT o_orderkey AS src,
           lead(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS dst
    FROM orders) WHERE dst IS NOT NULL"""
# one unit in the sixth decimal, plus slack for the double's own error
FLOAT_TOL = 1.5e-6


def duck(tables_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per generated table."""
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(tables_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == 0.0:
            return 0.0
        return round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def canon(cols: list[str], rows) -> list[tuple]:
    """Rows as sorted tuples with columns in name order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(norm(r[i]) for i in order) for r in rows), key=repr)


def _by_key(rows: list[tuple]) -> dict[str, list[tuple]]:
    """Canonical rows grouped by their non-float fields, each group's
    float fields sorted."""
    groups: dict[str, list[tuple]] = {}
    for r in rows:
        key = repr(tuple(x for x in r if not isinstance(x, float)))
        groups.setdefault(key, []).append(tuple(x for x in r if isinstance(x, float)))
    return {k: sorted(v) for k, v in groups.items()}


def rows_match(got: list[tuple], want: list[tuple]) -> bool:
    """Equality of two canonical row lists, floats within ``FLOAT_TOL``.

    Both engines round to six decimals, but a double that sits on an exact
    half (0.4284375) rounds up in one and down in the other, so results
    may differ by one unit in the sixth decimal."""
    if got == want:
        return True
    if len(got) != len(want):
        return False
    a, b = _by_key(got), _by_key(want)
    if a.keys() != b.keys():
        return False
    return all(
        len(a[k]) == len(b[k]) and all(
            abs(x - y) <= FLOAT_TOL for ra, rb in zip(a[k], b[k]) for x, y in zip(ra, rb))
        for k in a)


def same(cols: list[str], rows, con: duckdb.DuckDBPyConnection, sql: str) -> bool:
    """Order-insensitive equality of Spark rows and the DuckDB result."""
    res = con.execute(sql)
    dcols = [d[0] for d in res.description]
    if sorted(cols) != sorted(dcols):
        return False
    return rows_match(canon(cols, rows), canon(dcols, res.fetchall()))


def tail(values: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile above the median with at least ten
    samples beyond it, and its value; None below 20 samples."""
    n = len(values)
    p = min(99, math.floor(100 - 1000 / n)) if n else 0
    if p <= 50:
        return None
    return p, statistics.quantiles(values, n=100, method="inclusive")[p - 1]


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for fn in files:
            total += os.path.getsize(os.path.join(dirpath, fn))
    return total
