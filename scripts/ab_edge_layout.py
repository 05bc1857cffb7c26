"""A/B experiment (VERDICT r3 item 7): does persisting the edge
projection — plain or bucketed by src — beat deriving it in place for
the graph traversals?

Variants per traversal (graph_callees_d3, graph_callers_d2):
  A in-place   edges = window(lead) over orders, derived inside the plan
               (the shipping configuration at the time; the driver-frontier
               BFS re-derives it in every level's job)
  B parquet    edges materialized once to plain parquet, traversal scans
               the 2-column file per level
  C bucketed   edges materialized to a bucketed+sorted-by-src table.
               NOTE: each BFS level broadcasts the driver's frontier
               into a semi-join with the edges, so there is no
               shuffle for bucketing to remove — any C-vs-B delta
               isolates bucket metadata/sort effects, and the honest
               expectation is parity.

Run: python scripts/ab_edge_layout.py [sf_dir] [n_runs]
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from project_cortex_spark.operators import graph as graph_mod
from project_cortex_spark.session import get_spark
from project_cortex_spark.sources import layout


def timed(fn, n_runs: int) -> float:
    fn()  # warm-up
    best = float("inf")
    for _ in range(n_runs):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    return round(best, 3)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    n_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    spark = get_spark(app_name="ab-edge-layout")

    start = entrymod._chain_start(spark, sf_dir)
    target = entrymod._downstream_node(spark, sf_dir, 3)
    derived = entrymod._order_edges_derived(spark, sf_dir)

    scratch = os.path.abspath("spark-warehouse/_ab_edges")
    shutil.rmtree(scratch, ignore_errors=True)
    derived.write.mode("overwrite").parquet(scratch)
    plain = spark.read.parquet(scratch)

    spark.sql("DROP TABLE IF EXISTS ab_edges_by_src")
    layout.write_bucketed(
        derived, "ab_edges_by_src", bucket_cols=["src"], n_buckets=32,
        sort_cols=["src"],
    )
    bucketed = spark.table("ab_edges_by_src")

    def noop(df):
        df.write.format("noop").mode("overwrite").save()

    results: dict[str, dict[str, float]] = {}
    for qname, run in (
        ("graph_callees_d3", lambda e: graph_mod.callees(e, [start], depth=3)),
        ("graph_callers_d2", lambda e: graph_mod.callers(e, [target], depth=2)),
    ):
        results[qname] = {
            "A_inplace": timed(lambda: noop(run(derived)), n_runs),
            "B_parquet": timed(lambda: noop(run(plain)), n_runs),
            "C_bucketed": timed(lambda: noop(run(bucketed)), n_runs),
        }

    import json

    print(json.dumps({"sf_dir": sf_dir, "runs": n_runs, "results": results}))
    # parity guard: all three layouts must produce identical closures
    a = sorted(map(tuple, graph_mod.callees(derived, [start], depth=3).collect()))
    c = sorted(map(tuple, graph_mod.callees(bucketed, [start], depth=3).collect()))
    assert a == c, "bucketed layout changed traversal output"
    spark.sql("DROP TABLE IF EXISTS ab_edges_by_src")
    shutil.rmtree(scratch, ignore_errors=True)


if __name__ == "__main__":
    main()
