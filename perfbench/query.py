"""The ``query`` workload: one client in a closed loop over the four query
surfaces plus hybrid search, each request one operator call and a
``collect()``; every answer is checked against a DuckDB form after the
timed loop."""

from __future__ import annotations

import os
import statistics
import sys
import time

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

import gen
from common import EDGES_SQL, dir_bytes, duck, norm, same, tail
from project_cortex_spark import oracle
from project_cortex_spark.dsl.compiler import compile_query
from project_cortex_spark.operators import fts, graph, knn, search
from project_cortex_spark.sources.registry import load_tables

SIZES = {"full": {"n_docs": 2000, "n_orders": 5000}, "tiny": {"n_docs": 300, "n_orders": 600}}
DIM = 32


def dsl_query(p: dict) -> tuple[dict, str]:
    """DSL request for one ``files`` parameter set, with its SQL twin."""
    qty, flag, limit = p["qty"], p["flag"], p["limit"]
    if p["shape"] == "filter":
        return (
            {"from": "lineitem", "fields": ["l_orderkey", "l_linenumber", "l_quantity"],
             "where": {"and": [{"field": "l_returnflag", "operator": "=", "value": flag},
                               {"field": "l_quantity", "operator": ">=", "value": qty}]},
             "orderBy": [{"field": "l_orderkey", "direction": "ASC"},
                         {"field": "l_linenumber", "direction": "ASC"}],
             "limit": limit},
            f"""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
                WHERE l_returnflag = '{flag}' AND l_quantity >= {qty}
                ORDER BY l_orderkey, l_linenumber LIMIT {limit}""",
        )
    if p["shape"] == "join":
        return (
            {"from": "orders",
             "joins": [{"table": "customer", "type": "INNER",
                        "on": {"field": "orders.o_custkey", "operator": "=",
                               "value": "customer.c_custkey"}}],
             "where": {"field": "o_totalprice", "operator": ">", "value": qty * 5000},
             "groupBy": ["customer.c_mktsegment"],
             "aggregations": [{"function": "SUM", "field": "o_totalprice", "alias": "revenue"},
                              {"function": "COUNT", "alias": "n_orders"}],
             "orderBy": [{"field": "revenue", "direction": "DESC"},
                         {"field": "c_mktsegment", "direction": "ASC"}]},
            f"""SELECT c_mktsegment, sum(o_totalprice) AS revenue, count(*) AS n_orders
                FROM orders JOIN customer ON o_custkey = c_custkey
                WHERE o_totalprice > {qty * 5000} GROUP BY c_mktsegment""",
        )
    if p["shape"] == "group":
        return (
            {"from": "lineitem",
             "where": {"field": "l_quantity", "operator": ">=", "value": qty},
             "groupBy": ["l_returnflag", "l_linestatus"],
             "aggregations": [{"function": "SUM", "field": "l_quantity", "alias": "sum_qty"},
                              {"function": "AVG", "field": "l_discount", "alias": "avg_disc"},
                              {"function": "COUNT", "alias": "n"}],
             "orderBy": [{"field": "l_returnflag", "direction": "ASC"},
                         {"field": "l_linestatus", "direction": "ASC"}]},
            f"""SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty,
                       avg(l_discount) AS avg_disc, count(*) AS n
                FROM lineitem WHERE l_quantity >= {qty}
                GROUP BY l_returnflag, l_linestatus""",
        )
    return (
        {"from": "orders", "fields": ["o_orderkey", "o_totalprice"],
         "where": {"field": "o_orderstatus", "operator": "=", "value": "F" if flag == "A" else "O"},
         "orderBy": [{"field": "o_totalprice", "direction": "DESC"},
                     {"field": "o_orderkey", "direction": "ASC"}],
         "limit": limit},
        f"""SELECT o_orderkey, o_totalprice FROM orders
            WHERE o_orderstatus = '{"F" if flag == "A" else "O"}'
            ORDER BY o_totalprice DESC, o_orderkey LIMIT {limit}""",
    )


def bfs_sql(root: int, depth: int, reverse: bool) -> str:
    a, b = ("dst", "src") if reverse else ("src", "dst")
    return f"""WITH RECURSIVE e AS ({EDGES_SQL}),
        walk(node, depth) AS (
          SELECT CAST({root} AS BIGINT), 0
          UNION ALL
          SELECT e.{b}, w.depth + 1 FROM walk w JOIN e ON e.{a} = w.node WHERE w.depth < {depth})
        SELECT node, min(depth) AS depth FROM walk
        WHERE depth > 0 AND node <> {root} GROUP BY node"""


def impact_sql(root: int, depth: int) -> str:
    return f"""WITH RECURSIVE e AS ({EDGES_SQL}),
        imp AS (SELECT o_orderkey AS node FROM (
            SELECT o_orderkey, min(o_orderkey) OVER (PARTITION BY o_custkey) AS f FROM orders)
          WHERE f = {root} AND o_orderkey <> f),
        walk(node, depth) AS (
          SELECT CAST({root} AS BIGINT), 0
          UNION ALL
          SELECT e.src, w.depth + 1 FROM walk w JOIN e ON e.dst = w.node WHERE w.depth < {depth})
        SELECT CAST(node AS VARCHAR) AS node, 0 AS depth,
               'implementation' AS impact_type, 'must_update' AS severity FROM imp
        UNION ALL
        SELECT CAST(node AS VARCHAR), depth,
               CASE WHEN depth = 1 THEN 'direct_caller' ELSE 'transitive_caller' END,
               CASE WHEN depth = 1 THEN 'must_update' ELSE 'review_needed' END
        FROM (SELECT node, min(depth) AS depth FROM walk
              WHERE depth > 0 AND node <> {root} GROUP BY 1)"""


class QueryWorkload:
    name = "query"

    def __init__(self, spark, tracer, work: str, seed: int, size: str):
        self.spark, self.tr, self.work, self.seed = spark, tracer, work, seed
        self.size = SIZES[size]
        self.tables_dir = os.path.join(work, "tables")
        self.gen_info = gen.write_tables(self.tables_dir, seed, dup_rate=0.0, **self.size)
        self.stream = gen.query_stream(seed, 100_000, **self.size)
        self.pos = 0
        self.done: list[dict] = []
        self.failed_steps = 0
        self.bytes_written = 0
        self.load_ms: list[float] = []
        self.layer_extra: dict[str, float] = {}

    # -- set-up ----------------------------------------------------------
    def setup(self, rep: int) -> None:
        """Load the tables and build, store and re-open every index the
        requests read (FTS postings, chunk vectors, doc vectors, edges)."""
        out = os.path.join(self.work, f"setup{rep}")
        t0 = time.time()
        reg = self.tr.call("sources", "load_tables", lambda: load_tables(self.spark, self.tables_dir))
        self.load_ms.append((time.time() - t0) * 1000)
        docs = reg.table("documents")
        fts_path = os.path.join(out, "fts")
        self.tr.call("operators.fts", "build_fts_index",
                     lambda: fts.build_fts_index(docs, id_col="doc_id", text_col="text"),
                     lambda idx: fts.store_fts_index(idx, fts_path))
        self.fts = fts.load_fts_index(self.spark, fts_path, docs, id_col="doc_id", text_col="text")

        def stored(layer: str, name: str, build, sub: str):
            path = os.path.join(out, sub)
            self.tr.call(layer, name, build, lambda df: df.write.mode("overwrite").parquet(path))
            return self.spark.read.parquet(path)

        self.chunks = stored("operators.search", "build_search_index",
                             lambda: search.build_search_index(docs, dim=DIM), "chunks")
        self.doc_vecs = stored("operators.search", "build_doc_vectors",
                               lambda: search.build_doc_vectors(docs, dim=DIM), "doc_vectors")
        orders = reg.table("orders")
        w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
        self.edges = stored("sources", "write_edges", lambda: orders.select(
            F.col("o_orderkey").alias("src"), F.lead("o_orderkey").over(w).alias("dst"),
        ).filter(F.col("dst").isNotNull()), "edges")
        first = F.min("o_orderkey").over(Window.partitionBy("o_custkey"))
        self.implements = stored("sources", "write_implements", lambda: orders.select(
            F.col("o_orderkey").alias("struct_id"), first.alias("iface_id"),
        ).filter(F.col("struct_id") != F.col("iface_id")), "implements")
        self.reg, self.emb = reg, reg.table("embeddings")
        self.bytes_written = dir_bytes(out)
        self.n_chunks = pd.read_parquet(os.path.join(out, "chunks"), columns=["chunk_id"]).shape[0]

        pdf = pd.read_parquet(os.path.join(self.tables_dir, "embeddings.parquet"))
        self.vectors = {int(i): [float(x) for x in v] for i, v in zip(pdf["vec_id"], pdf["embedding"])}
        opdf = pd.read_parquet(os.path.join(self.tables_dir, "orders.parquet"), columns=["o_orderkey", "o_custkey"])
        opdf = opdf.sort_values(["o_custkey", "o_orderkey"])
        nxt = opdf.groupby("o_custkey")["o_orderkey"].shift(-1)
        self.succ = {int(a): int(b) for a, b in zip(opdf["o_orderkey"], nxt) if pd.notna(b)}

    # -- requests ---------------------------------------------------------
    def _request(self, p: dict):
        """Run one request; returns (columns, rows) of its answer."""
        op = p["op"]
        collect = lambda df: (df.columns, df.collect())  # noqa: E731
        if op == "knn_topk":
            qv = self.vectors[p["vec_id"]]
            return self.tr.call("operators.knn", op, lambda: knn.knn_topk(
                self.emb, qv, k=p["k"]).withColumn("score", F.round("score", 6)), collect)
        if op == "semantic_search":
            return self.tr.call("operators.search", op, lambda: search.semantic_search(
                self.chunks, p["text"], limit=p["limit"], tags=[p["lang"], "code"],
                min_score=0.05, dim=DIM).withColumn("score", F.round("score", 6)), collect)
        if op == "fts_search":
            return self.tr.call("operators.fts", op, lambda: fts.fts_search(
                self.fts, p["q"], limit=p["limit"], rank_digits=9), collect)
        if op == "dsl":
            q, _ = dsl_query(p)
            return self.tr.call("dsl", "compile_query", lambda: compile_query(self.reg, q), collect)
        if op in ("callees", "callers"):
            fn = graph.callees if op == "callees" else graph.callers
            return self.tr.call("operators.graph", op, lambda: fn(
                self.edges, [p["root"]], depth=p["depth"]), collect)
        if op == "impact":
            return self.tr.call("operators.graph", op, lambda: graph.impact(
                self.edges, self.implements, p["root"], depth=p["depth"]), collect)
        if op == "shortest_path":
            target = self._walk(p["root"], p["depth"] + 1)[-1]
            path = self.tr.call("operators.graph", op, lambda: graph.shortest_path(
                self.edges, p["root"], target, max_depth=6))
            return ["path"], [(tuple(path),)]
        return self.tr.call("operators.search", op, lambda: search.hybrid_search_rrf(
            self.fts, self.doc_vecs, p["lex"], p["sem"], k=p["k"], n_per_list=50,
            rrf_k=60, dim=DIM), collect)

    def _walk(self, root: int, hops: int) -> list[int]:
        path = [root]
        while len(path) <= hops and path[-1] in self.succ:
            path.append(self.succ[path[-1]])
        return path

    def warm(self) -> None:
        seen = set()
        for p in gen.query_stream(self.seed + 1, 40, **self.size):
            if p["op"] not in seen:
                seen.add(p["op"])
                self._request(p)

    def step(self) -> None:
        """One round: a request of every operation kind, one after another."""
        for p in self.stream[self.pos:self.pos + len(gen.ROUND)]:
            t0 = time.perf_counter()
            with self.tr.span("workload", p["surface"]):
                cols, rows = self._request(p)
            self.done.append({"p": p, "ms": (time.perf_counter() - t0) * 1000, "cols": cols, "rows": rows})
        self.pos += len(gen.ROUND)

    # -- checks -----------------------------------------------------------
    def _oracle(self, p: dict, extra: int = 0) -> str:
        """DuckDB form of one request; ``extra`` widens a top-k's limit."""
        op = p["op"]
        if op == "knn_topk":
            return oracle.knn_oracle_sql(query_vec_id=p["vec_id"], k=p["k"] + extra)
        if op == "semantic_search":
            return oracle.search_semantic_oracle_sql(p["text"], dim=DIM, limit=p["limit"] + extra,
                                                     min_score=0.05, language=p["lang"])
        if op == "fts_search":
            return oracle.fts_oracle_sql(p["q"], limit=p["limit"], rank_digits=9)
        if op == "dsl":
            return dsl_query(p)[1]
        if op in ("callees", "callers"):
            return bfs_sql(p["root"], p["depth"], op == "callers")
        if op == "impact":
            return impact_sql(p["root"], p["depth"])
        return oracle.hybrid_rrf_oracle_sql(p["lex"], p["sem"], k=p["k"], n_per_list=50,
                                            rrf_k=60, dim=DIM)

    def check(self) -> tuple[int, int]:
        con = duck(self.tables_dir)
        failed = 0
        for d in self.done:
            p = d["p"]
            if p["op"] == "shortest_path":
                ok = list(d["rows"][0][0]) == self._walk(p["root"], p["depth"] + 1)
            else:
                ok = same(d["cols"], d["rows"], con, self._oracle(p))
                if not ok and p["op"] in ("knn_topk", "semantic_search"):
                    ok = self._same_up_to_ties(con, d)
            if not ok:
                print(f"check failed: {p}", file=sys.stderr)
                failed += 1
        con.close()
        return len(self.done) + self.failed_steps, failed + self.failed_steps

    def _same_up_to_ties(self, con, d: dict) -> bool:
        """Exact top-k, compared up to ties at the cut. Vector scores that
        tie at 6 digits can differ in their last bits between the engines,
        so which of the tied rows makes the cut may differ: rows scoring
        above the last returned score must match exactly, and rows at it
        must be among the DuckDB rows with that score."""
        p = d["p"]
        limit = p.get("k", p.get("limit"))
        got = [dict(zip(d["cols"], r)) for r in d["rows"]]
        if len(got) != limit:
            return False
        res = con.execute(self._oracle(p, extra=20))
        wide = [dict(zip([c[0] for c in res.description], r)) for r in res.fetchall()]
        key = lambda r: tuple(norm(r[c]) for c in sorted(r))  # noqa: E731
        cut = min(norm(r["score"]) for r in got)
        above = lambda rows: sorted((key(r) for r in rows if norm(r["score"]) > cut), key=repr)  # noqa: E731
        tied = {key(r) for r in wide if norm(r["score"]) == cut}
        return above(got) == above(wide) and all(key(r) in tied for r in got if norm(r["score"]) == cut)

    # -- figures ----------------------------------------------------------
    def figures(self, elapsed: float) -> dict:
        ms = [d["ms"] for d in self.done]
        rec: dict = {"requests": len(ms), "latency_p50_ms": statistics.median(ms),
                     "throughput_per_s": len(ms) / elapsed}
        by_kind: dict[str, list[float]] = {}
        for d in self.done:
            by_kind.setdefault(d["p"]["kind"], []).append(d["ms"])
        for s in gen.SURFACES:
            vals = [d["ms"] for d in self.done if d["p"]["surface"] == s]
            if vals:
                rec[f"latency_p50_ms.{s}"] = statistics.median(vals)
                rec[f"latency_mean_ms.{s}"] = statistics.fmean(vals)
                rec[f"samples.{s}"] = len(vals)
        t = tail(ms)
        if t:
            rec["latency_tail_ms"], rec["latency_tail_pct"] = t[1], t[0]
        # exact top-k scans its whole corpus: every embedding, or every chunk
        scanned = {"knn_topk": self.size["n_docs"], "semantic_search": self.n_chunks}
        knn_done = [d for d in self.done if d["p"]["op"] in scanned]
        results = sum(len(d["rows"]) for d in knn_done)
        self.layer_extra = {"operators.knn.rows_scored_per_result": (
            sum(scanned[d["p"]["op"]] for d in knn_done) / results if results else 0.0)}
        return {
            # every operation kind weighs the same, whatever the number of
            # rounds: geometric mean of each kind's median
            "latency_ms": statistics.geometric_mean(
                [statistics.median(v) for v in by_kind.values()]),
            "record": rec,
            "bytes_written": self.bytes_written,
            "load_ms": statistics.median(self.load_ms),
            "gen": self.gen_info,
        }
