"""Local mirror of the driver's correctness gate: run every queries() entry
at sf0.01 and compare against oracle_sql() in DuckDB (row count + sorted-
by-name columns + order-insensitive values). Usage:

    python scripts/check_entry.py [sf_dir] [query_name ...]

Prints one JSON record per query, then the summary line last:

    {"name": ..., "status": "pass"|"fail"|"weak", "rows": N, "wall_s": S,
     "jobs": J}

``rows`` is the Spark row count (null when Spark raised), ``wall_s`` the
seconds to build and collect the query, ``jobs`` the Spark jobs in a job
group named after the query. A failing record adds ``detail``; ``weak``
means the query has no oracle, so only its rows were produced.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as entrymod
from project_cortex_spark.session import get_spark
from project_cortex_spark.sources.registry import DEFAULT_TABLES


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        if v == 0.0:
            return 0.0  # canonicalize -0.0: == 0.0 but repr-sorts apart
        a = abs(v)
        if a >= 1e6:
            # round(v, 6) is an ABSOLUTE tolerance: at sf1, sums >1e9
            # diverge between engines by ~1 ulp (1.5e-16 relative —
            # reassociation noise, SCALE.md) and 6 dp flags them. Large
            # magnitudes compare at 12 significant digits instead
            # (relative granularity ~1e-12): collapses ulp noise at any
            # scale while staying far below any logic-bug divergence.
            # Small magnitudes keep the exact 6 dp contract the driver
            # gate uses at sf0.01.
            return round(v, 11 - int(math.floor(math.log10(a))))
        return round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # data-derived oracles (inlined k-means centroids) must train on the
    # SAME sf as the engine side; the driver gate's default is sf0.01
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = sf_dir

    # no console progress bar: stdout stays one parseable record per line
    spark = get_spark(
        app_name="check-entry", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    con = duckdb.connect()
    for t in DEFAULT_TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.isdir(p):
            # directory-layout table (e.g. the sf1 harness): glob parts
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')"
            )
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    # smoke the flagship
    if not only:
        t0 = time.time()
        res = entrymod.entry(spark)
        n = res.count()
        print(json.dumps({"entry": {"rows": n, "wall_s": round(time.time() - t0, 2),
                                    "columns": res.columns}}))

    sc = spark.sparkContext
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    counts = {"pass": 0, "fail": 0, "weak": 0}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        rec = {"name": name, **check(con, spark, sf_dir, name, fn, oracles.get(name)),
               "jobs": len(sc.statusTracker().getJobIdsForGroup(name))}
        print(json.dumps(rec, default=str), flush=True)
        counts[rec["status"]] += 1
    print(f"\n{counts['pass']} pass, {counts['fail']} fail, {counts['weak']} weak")
    sys.exit(1 if counts["fail"] else 0)


def check(con, spark, sf_dir, name, fn, oracle_sql) -> dict:
    """Run one query in a job group named after it and compare it with
    its oracle: the status, rows and wall_s fields of its record."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    t0 = time.time()
    try:
        df = fn(spark, sf_dir)
        rows = df.collect()
        cols = df.columns
    except Exception as e:
        return {"status": "fail", "rows": None, "wall_s": round(time.time() - t0, 2),
                "detail": f"spark error {type(e).__name__}: {e}"}
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    rec = {"rows": len(rows), "wall_s": round(time.time() - t0, 2)}
    if oracle_sql is None:
        return {"status": "weak", **rec}
    try:
        dres = con.execute(oracle_sql)
        dcols = [d[0] for d in dres.description]
        drows = dres.fetchall()
    except Exception as e:
        return {"status": "fail", **rec, "detail": f"duckdb error {e}"}
    if sorted(cols) != sorted(dcols):
        return {"status": "fail", **rec,
                "detail": f"cols spark={sorted(cols)} duck={sorted(dcols)}"}
    so = sorted(range(len(cols)), key=lambda i: cols[i])
    do = sorted(range(len(dcols)), key=lambda i: dcols[i])
    sset = sorted((tuple(norm(r[i]) for i in so) for r in rows), key=repr)
    dset = sorted((tuple(norm(r[i]) for i in do) for r in drows), key=repr)
    if len(sset) != len(dset):
        return {"status": "fail", **rec, "detail": f"rows spark={len(sset)} duck={len(dset)}"}
    if sset != dset:
        diff = [i for i, (a, b) in enumerate(zip(sset, dset)) if a != b][:2]
        return {"status": "fail", **rec, "detail": "value mismatch: " + "; ".join(
            f"spark={sset[i]} duck={dset[i]}" for i in diff)}
    return {"status": "pass", **rec}


if __name__ == "__main__":
    main()
