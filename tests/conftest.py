"""Shared fixtures: one SparkSession per test run, table registry, and a
DuckDB oracle harness that mirrors the driver's correctness gate
(row-count + schema + order-insensitive value comparison)."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from project_cortex_spark.session import get_spark
from project_cortex_spark.sources.registry import DEFAULT_TABLES, load_tables

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="cortex-tests",
        shuffle_partitions=8,
        extra_conf={"spark.sql.execution.pythonUDF.arrow.enabled": "true"},
    )
    yield spark


@pytest.fixture(scope="session")
def registry(spark):
    return load_tables(spark, SF_DIR)


def duck_connect():
    """A new in-memory DuckDB database with a view per test table. Each
    call is its own database, so a DuckDB internal error (which
    invalidates the database it happens in) stays with its caller."""
    con = duckdb.connect()
    for t in DEFAULT_TABLES:
        path = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')"
            )
    return con


@pytest.fixture(scope="session")
def duck():
    con = duck_connect()
    yield con
    con.close()


def _norm(v):
    """Normalize a cell for comparison: floats rounded, timestamps -> iso."""
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def assert_matches_oracle(spark_df, duck_con, sql, ordered=False):
    """Compare a Spark DataFrame against DuckDB running `sql`.

    Columns are aligned by sorted name (as the driver does); rows compared
    as multisets unless ordered=True.
    """
    duck_res = duck_con.execute(sql)
    duck_cols = [d[0] for d in duck_res.description]
    duck_rows = duck_res.fetchall()

    spark_cols = spark_df.columns
    assert sorted(spark_cols) == sorted(duck_cols), (
        f"column mismatch: spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    )
    order = sorted(range(len(duck_cols)), key=lambda i: duck_cols[i])
    duck_sorted = [tuple(_norm(r[i]) for i in order) for r in duck_rows]

    s_order = sorted(range(len(spark_cols)), key=lambda i: spark_cols[i])
    spark_rows = spark_df.collect()
    spark_sorted = [tuple(_norm(r[i]) for i in s_order) for r in spark_rows]

    assert len(spark_sorted) == len(duck_sorted), (
        f"row count mismatch: spark={len(spark_sorted)} duck={len(duck_sorted)}"
    )
    if ordered:
        assert spark_sorted == duck_sorted
    else:
        assert sorted(spark_sorted, key=repr) == sorted(duck_sorted, key=repr)
