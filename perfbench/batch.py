"""The ``batch`` workload: the engine's batch side in one fixed pass of
jobs, each one operator (or pipeline stage chain) plus its action.

Families, in pass order:

- ``index``: full build of a seeded multi-language source tree (listing,
  change detection, parse + call edges, chunk + embed, FTS build + store,
  parquet sink), and changesets (add / modify / touch / delete) applied
  on disk and picked up through ``streaming.incremental.watch_and_index``
  (AvailableNow), the index updated with ``pipeline.sink``'s merge;
- ``dedup``: quality scores, MinHash and exact-Jaccard pairs, embedding
  LSH near-duplicates, duplicate clusters and a hash split, over a corpus
  with a stated near-duplicate rate;
- ``graph``: pagerank, k-core and betweenness over co-purchase edges,
  connected components over order-chain edges;
- ``bulk_search``: KNN join, IVF KNN join, batched FTS and multi-root BFS
  over seeded query sets.

Outputs are checked after the timed loop: curation jobs against their
DuckDB forms, and the incrementally maintained index against a
from-scratch build of the final tree.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import statistics
import sys
import time

import pyarrow.parquet as pq
from pyspark.sql import Window
from pyspark.sql import functions as F

import gen
from common import EDGES_SQL, canon, dir_bytes, duck, rows_match, tail
from project_cortex_spark import oracle
from project_cortex_spark.operators import corpus, dedup, fts, graph, knn, textstats
from project_cortex_spark.pipeline import change_detection, chunks, embed, parse, sink
from project_cortex_spark.sources.files import discover_files, file_stats
from project_cortex_spark.sources.registry import load_tables
from project_cortex_spark.streaming.incremental import watch_and_index

SIZES = {
    "full": {"n_docs": 1500, "n_orders": 3000, "n_files": 90, "funcs": 6, "queries": 20},
    "tiny": {"n_docs": 300, "n_orders": 600, "n_files": 30, "funcs": 3, "queries": 5},
}
DUP_RATE = 0.1
DIM = 32
FILE_COLS = ["file_path", "mtime", "content_hash", "size_bytes", "n_lines", "n_code"]
FAMILIES = {
    "index": ("index_full", "changeset"),
    "dedup": ("quality_scores", "minhash_near_duplicates", "embedding_near_duplicates_lsh",
              "hash_split"),
    "graph": ("pagerank", "connected_components", "betweenness_centrality"),
    "bulk_search": ("knn_join", "fts_search_batch", "bfs_multi"),
}


def index_docs(files):
    """Source files as the (doc_id, text, lang, source) frame the chunker reads."""
    return files.select(
        F.col("file_path").alias("doc_id"),
        F.decode("content", "UTF-8").alias("text"),
        F.regexp_extract("file_path", r"\.(\w+)$", 1).alias("lang"),
        F.regexp_extract("file_path", r"/(pkg\d+)/", 1).alias("source"),
    )


class BatchWorkload:
    name = "batch"

    def __init__(self, spark, tracer, work: str, seed: int, size: str):
        self.spark, self.tr, self.work, self.seed = spark, tracer, work, seed
        self.size = SIZES[size]
        self.tables_dir = os.path.join(work, "tables")
        self.tree = os.path.join(work, "tree")
        self.gen_info = gen.write_tables(self.tables_dir, seed, dup_rate=DUP_RATE,
                                         n_docs=self.size["n_docs"], n_orders=self.size["n_orders"])
        os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = self.tables_dir
        self.changes = gen.changesets(seed, 500, n_files=self.size["n_files"])
        self.n_changes = 0
        self.version = 0
        self.results: dict[str, list] = {}
        self.times: dict[str, list[float]] = {}
        self.failed_steps = 0
        self.load_ms: list[float] = []
        self.full_builds: list[tuple[int, float]] = []
        self.stream_progress: list[dict] = []
        self.embedded_chunks = 0
        self.changed_file_chunks = 0
        self.layer_extra: dict[str, float] = {}
        rng = random.Random(seed)
        n_docs, q = self.size["n_docs"], self.size["queries"]
        vocab = gen.vocabulary()
        self.knn_ids = sorted(rng.sample(range(n_docs), q))
        self.fts_queries = [(i + 1, f"{rng.choice(vocab[:40])} {rng.choice(vocab[:40])}") for i in range(q)]
        self.bfs_roots = sorted(rng.sample(range(self.size["n_orders"]), q))

    # -- set-up ----------------------------------------------------------
    def setup(self, rep: int) -> None:
        """Write the source tree and load the corpus tables, the edge lists
        and the FTS index the jobs read."""
        if os.path.exists(self.tree):
            shutil.rmtree(self.tree)
        self.tree_info = gen.write_tree(self.tree, self.seed, n_files=self.size["n_files"],
                                        funcs_per_file=self.size["funcs"])
        self.live_files = self.size["n_files"]
        out = os.path.join(self.work, f"setup{rep}")
        t0 = time.time()
        reg = self.tr.call("sources", "load_tables", lambda: load_tables(self.spark, self.tables_dir))
        self.load_ms.append((time.time() - t0) * 1000)
        self.docs, self.emb = reg.table("documents"), reg.table("embeddings")
        self.lineitem = reg.table("lineitem")
        w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
        path = os.path.join(out, "edges")
        self.tr.call("sources", "write_edges", lambda: reg.table("orders").select(
            F.col("o_orderkey").alias("src"), F.lead("o_orderkey").over(w).alias("dst"),
        ).filter(F.col("dst").isNotNull()), lambda df: df.write.mode("overwrite").parquet(path))
        self.edges = self.spark.read.parquet(path)
        self.fts = fts.build_fts_index(self.docs, id_col="doc_id", text_col="text")
        self.state = None
        self.checkpoint = os.path.join(out, "checkpoint")
        self.journal = os.path.join(out, "journal")
        os.makedirs(self.journal, exist_ok=True)

    def warm(self) -> None:
        """Batch jobs run in a fresh process in production, so the pass is
        measured cold; nothing is warmed beyond the set-up."""

    # -- index family -----------------------------------------------------
    def _fs_state(self, files):
        stats = file_stats(files)
        return files.select("file_path", "mtime").join(stats, "file_path").select(*FILE_COLS)

    def _write(self, df, path: str) -> None:
        df.write.mode("overwrite").parquet(path)

    def _build_index(self, out: str) -> dict:
        """Full build of the tree under ``self.tree`` into ``out``."""
        sp = self.spark
        files = self.tr.call("sources", "discover_files",
                             lambda: discover_files(sp, self.tree, recursive=True),
                             lambda df: (df.cache(), df.count())[0])
        fs = self.tr.call("sources", "file_stats", lambda: self._fs_state(files),
                          lambda df: (self._write(df, out + "/files"), sp.read.parquet(out + "/files"))[1])
        empty = sp.createDataFrame([], fs.schema)
        self.tr.call("pipeline", "detect", lambda: change_detection.detect_changes(fs, empty),
                     lambda df: df.groupBy("status").count().collect())
        self.tr.call("pipeline", "parse", lambda: parse.parse_entities(files),
                     lambda df: self._write(df, out + "/entities"))
        self.tr.call("pipeline", "parse", lambda: parse.call_edges(sp.read.parquet(out + "/entities")),
                     lambda df: self._write(df, out + "/call_edges"))
        docs = index_docs(files)
        self.tr.call("pipeline", "chunk_embed",
                     lambda: embed.embed_chunks(chunks.assemble_code_chunks(docs), dim=DIM),
                     lambda df: self._write(df, out + "/chunks"))
        self.tr.call("operators.fts", "build_fts_index",
                     lambda: fts.build_fts_index(docs, id_col="doc_id", text_col="text"),
                     lambda idx: fts.store_fts_index(idx, out + "/fts"))
        files.unpersist()
        return {t: sp.read.parquet(f"{out}/{t}") for t in ("files", "entities", "chunks")}

    def _index_full(self):
        self.version += 1
        out = os.path.join(self.work, "index", f"v{self.version}")
        t0 = time.perf_counter()
        self.state = self._build_index(out)
        self.full_builds.append((self.live_files, time.perf_counter() - t0))
        self.source_bytes = dir_bytes(self.tree)
        self.index_bytes = dir_bytes(out)

    def _index_batch(self, df, batch_id: int) -> None:
        """foreachBatch body: bring the index up to date for the journalled paths."""
        sp = self.spark
        paths = sorted({r["file_path"] for r in df.collect()})
        if not paths:
            return
        files = discover_files(sp, self.tree, recursive=True).filter(F.col("file_path").isin(paths)).cache()
        fs = self._fs_state(files)
        old = self.state
        idx = old["files"].filter(F.col("file_path").isin(paths))
        status = dict(self.tr.call("pipeline", "detect",
                                   lambda: change_detection.detect_changes(fs, idx),
                                   lambda d: [(r["file_path"], r["status"]) for r in d.collect()]))
        upsert = [p for p, s in status.items() if s in ("added", "modified")]
        touched = [p for p, s in status.items() if s == "touched"]
        deleted = [p for p, s in status.items() if s == "deleted"]
        self.version += 1
        out = os.path.join(self.work, "index", f"v{self.version}")
        changed = files.filter(F.col("file_path").isin(upsert))
        ents = self.tr.call("pipeline", "parse", lambda: parse.parse_entities(changed),
                            lambda d: (self._write(d, out + "/new_entities"),
                                       sp.read.parquet(out + "/new_entities"))[1])
        new_chunks = self.tr.call(
            "pipeline", "chunk_embed",
            lambda: embed.embed_chunks(chunks.assemble_code_chunks(index_docs(changed)), dim=DIM),
            lambda d: (self._write(d, out + "/new_chunks"), sp.read.parquet(out + "/new_chunks"))[1])
        gone = sp.createDataFrame([(p,) for p in upsert + deleted] or [("",)], "file_path string")
        dead = sp.createDataFrame([(p,) for p in deleted] or [("",)], "file_path string")

        def merged():
            files_new = sink.delete_keys(
                sink.merge_upsert(old["files"], fs.filter(F.col("file_path").isin(upsert + touched)),
                                  key="file_path"), dead, key="file_path")
            ents_new = sink.delete_keys(old["entities"], gone, key="file_path").unionByName(ents)
            chunks_new = sink.delete_keys(
                old["chunks"].withColumnRenamed("doc_id", "file_path"), gone, key="file_path"
            ).withColumnRenamed("file_path", "doc_id").unionByName(new_chunks)
            return {"files": files_new, "entities": ents_new, "chunks": chunks_new}

        def write_all(tables):
            for t, d in tables.items():
                self._write(d, f"{out}/{t}")
            return {t: sp.read.parquet(f"{out}/{t}") for t in tables}

        self.state = self.tr.call("pipeline", "sink", merged, write_all)
        self.embedded_chunks += pq.read_table(out + "/new_chunks", columns=["doc_id"]).num_rows
        final = pq.read_table(out + "/chunks", columns=["doc_id"]).column("doc_id").to_pylist()
        changed_paths = set(upsert)
        self.changed_file_chunks += sum(d in changed_paths for d in final)
        files.unpersist()

    def _changeset(self):
        edits = self.changes[self.n_changes]
        self.n_changes += 1
        gen.apply_edits(self.tree, self.seed, edits, n_files=self.size["n_files"],
                        funcs_per_file=self.size["funcs"], version=self.n_changes)
        self.live_files += sum(k == "add" for k, _ in edits) - sum(k == "delete" for k, _ in edits)
        with open(os.path.join(self.journal, f"cs{self.n_changes:05d}.json"), "w") as f:
            for _, fid in edits:
                f.write(json.dumps({"file_path": gen.tree_path(self.tree, fid)}) + "\n")
        q = self.tr.call("streaming", "watch_and_index", lambda: watch_and_index(
            self.spark, self.journal, "file_path string", self._index_batch,
            checkpoint_dir=self.checkpoint, fmt="json"), lambda sq: (sq.awaitTermination(), sq)[1])
        self.stream_progress.extend(q.recentProgress)

    # -- curation, graph and bulk-search jobs ---------------------------
    def _cooc(self):
        return graph.cooccurrence_edges(self.lineitem, group_col="l_orderkey", item_col="l_partkey", max_df=50)

    def _job(self, name: str):
        """(layer, build) for one curation / graph / bulk-search job."""
        r6 = lambda col: lambda df: df.withColumn(col, F.round(col, 6))  # noqa: E731
        jobs = {
            "quality_scores": ("operators.textstats", lambda: textstats.quality_scores(self.docs)),
            "minhash_near_duplicates": ("operators.dedup", lambda: r6("jaccard")(
                dedup.minhash_near_duplicates(self.docs, threshold=0.5, max_bucket=50))),
            "similar_pairs_auto": ("operators.dedup", lambda: r6("jaccard")(
                dedup.similar_pairs_auto(self.docs, shingle_n=3, threshold=0.5))),
            "embedding_near_duplicates_lsh": ("operators.dedup", lambda: r6("score")(
                dedup.embedding_near_duplicates_lsh(self.emb, threshold=0.9, dim=64, max_bucket=200))),
            "hash_split": ("operators.corpus", lambda: corpus.hash_split(self.docs)),
            "pagerank": ("operators.graph", lambda: graph.pagerank(self._cooc(), iters=5)),
            "kcore": ("operators.graph", lambda: graph.kcore(self._cooc(), k=3, rounds=4)),
            "connected_components": ("operators.graph", lambda: graph.connected_components(
                self.spark.createDataFrame(self._pairs(), "a long, b long"))),
            "betweenness_centrality": ("operators.graph", lambda: graph.betweenness_centrality(self._cooc())),
            "knn_join": ("operators.knn", lambda: r6("score")(knn.knn_join(
                self.emb.filter(F.col("vec_id").isin(self.knn_ids)).select(
                    F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")),
                self.emb, k=5))),
            "knn_join_ivf": ("operators.knn", lambda: r6("score")(knn.knn_join_ivf(
                self.emb.filter(F.col("vec_id") < self.size["queries"]).select(
                    F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")),
                self.emb, k=5, nprobe=4, centroids=knn.train_centroids_ordered(
                    self.emb, n_centroids=16, iters=8)))),
            "fts_search_batch": ("operators.fts", lambda: fts.fts_search_batch(
                self.fts, self.fts_queries, limit=15, rank_digits=9)),
            "bfs_multi": ("operators.graph", lambda: graph.bfs_multi(self.edges, self.bfs_roots, depth=3)),
        }
        return jobs[name]

    def _oracle(self, name: str) -> str:
        if name == "quality_scores":
            return oracle.quality_scores_sql()
        if name == "minhash_near_duplicates":
            return oracle.minhash_near_duplicates_sql(threshold=0.5, max_bucket=50)
        if name == "similar_pairs_auto":
            return oracle.similar_pairs_auto_sql(threshold=0.5)
        if name == "embedding_near_duplicates_lsh":
            return oracle.embedding_lsh_oracle_sql(threshold=0.9, dim=64, max_bucket=200)
        if name == "hash_split":
            return oracle.hash_split_sql()
        if name == "pagerank":
            return oracle.pagerank_sql(max_df=50, iters=5)
        if name == "kcore":
            return oracle.kcore_sql(max_df=50, k=3, rounds=4)
        if name == "betweenness_centrality":
            return oracle.betweenness_sql(max_df=50)
        if name == "knn_join":
            ids = ", ".join(map(str, self.knn_ids))
            return f"""
            WITH q AS (SELECT vec_id AS query_id, embedding AS q FROM embeddings WHERE vec_id IN ({ids}))
            SELECT query_id, vec_id, round({oracle.KNN_SCORE_SQL}, 6) AS score, rank FROM (
              SELECT q.query_id, e.vec_id, e.embedding, q.q,
                     row_number() OVER (PARTITION BY q.query_id
                                        ORDER BY {oracle.KNN_SCORE_SQL} DESC, e.vec_id) AS rank
              FROM embeddings e, q) WHERE rank <= 5"""
        if name == "knn_join_ivf":
            return oracle.knn_ivf_join_oracle_sql(n_queries=self.size["queries"], k=5, nprobe=4)
        if name == "fts_search_batch":
            return oracle.fts_batch_oracle_sql(self.fts_queries, limit=15, rank_digits=9)
        roots = ", ".join(f"({r})" for r in self.bfs_roots)
        return f"""WITH RECURSIVE e AS ({EDGES_SQL}),
            roots(root) AS (VALUES {roots}),
            walk(root, node, depth) AS (
              SELECT root, CAST(root AS BIGINT), 0 FROM roots
              UNION ALL
              SELECT w.root, e.dst, w.depth + 1 FROM walk w JOIN e ON e.src = w.node WHERE w.depth < 3)
            SELECT root, node, min(depth) AS depth FROM walk WHERE node <> root GROUP BY root, node"""

    # -- the pass -----------------------------------------------------------
    def _run(self, family: str, name: str) -> None:
        t0 = time.perf_counter()
        with self.tr.span("workload", name):
            if name == "index_full":
                self._index_full()
            elif name == "changeset":
                self._changeset()
            else:
                layer, build = self._job(name)
                res = self.tr.call(layer, name, build, lambda df: (df.columns, df.collect()))
                self.results.setdefault(name, []).append(res)
        ms = (time.perf_counter() - t0) * 1000
        self.times.setdefault(name, []).append(ms)
        self.times.setdefault("family:" + family, []).append(ms)

    def step(self) -> None:
        """One pass over every family, in fixed order."""
        t0 = time.perf_counter()
        for family, names in FAMILIES.items():
            for name in names:
                self._run(family, name)
        self.times.setdefault("pass", []).append((time.perf_counter() - t0) * 1000)

    # -- checks -----------------------------------------------------------
    def _pairs(self) -> list[tuple[int, int]]:
        """The MinHash pairs of this pass (checked against DuckDB on their own)."""
        return [(r["a"], r["b"]) for r in self.results["minhash_near_duplicates"][-1][1]]

    def _expected(self, con, name: str) -> tuple[list[str], list[tuple]]:
        """Expected output of one job: its DuckDB form, or for connected
        components a union-find over the same MinHash pairs the job read
        (the recursive-CTE closure costs seconds at this size)."""
        if name != "connected_components":
            res = con.execute(self._oracle(name))
            return [d[0] for d in res.description], res.fetchall()
        parent: dict[int, int] = {}

        def find(x: int) -> int:
            while parent.setdefault(x, x) != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in self._pairs():
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
        rows = [(x, find(x), x == find(x)) for x in list(parent)]
        return ["doc_id", "cluster_id", "keep"], rows

    def check(self) -> tuple[int, int]:
        con = duck(self.tables_dir)
        attempted = failed = 0
        for name, results in self.results.items():
            dcols, drows = self._expected(con, name)
            expect = canon(dcols, drows)
            for cols, rows in results:
                attempted += 1
                if sorted(cols) != sorted(dcols) or not rows_match(canon(cols, rows), expect):
                    print(f"check failed: {name}", file=sys.stderr)
                    failed += 1
        con.close()
        if self.tr.traced and "minhash_near_duplicates" in self.results:
            # LSH candidates the verify step saw, for the yield ratio
            sigs = dedup.minhash_signatures(self.docs, num_hashes=8)
            cand = dedup.lsh_candidate_pairs(sigs, num_hashes=8, bands=4, max_bucket=50).count()
            verified = len(self.results["minhash_near_duplicates"][0][1])
            self.layer_extra["operators.dedup.candidate_yield"] = verified / cand if cand else 0.0
        if self.state is not None:
            scratch = self._build_index(os.path.join(self.work, "scratch"))
            for t in ("files", "entities", "chunks"):
                attempted += 1
                a, b = self.state[t], scratch[t]
                got, want = canon(a.columns, a.collect()), canon(a.columns, b.select(*a.columns).collect())
                if not rows_match(got, want):
                    extra = sorted(set(got) - set(want), key=repr)[:1]
                    missing = sorted(set(want) - set(got), key=repr)[:1]
                    print(f"check failed: index state table {t}: {len(got)} vs {len(want)} rows;"
                          f" unexpected {str(extra)[:300]}; missing {str(missing)[:300]}", file=sys.stderr)
                    failed += 1
        return attempted + self.failed_steps, failed + self.failed_steps

    # -- figures ----------------------------------------------------------
    def figures(self, elapsed: float) -> dict:
        jobs = [ms for k, v in self.times.items() if ":" not in k and k != "pass" for ms in v]
        rec: dict = {"jobs": len(jobs), "passes": len(self.times.get("pass", [])),
                     "throughput_per_s": len(jobs) / elapsed}
        rec["pass_s"] = statistics.median(self.times["pass"]) / 1000
        for fam in FAMILIES:
            # a family's time in one pass: its jobs' total divided by passes
            rec[f"family_s.{fam}"] = sum(self.times["family:" + fam]) / 1000 / rec["passes"]
        for name, v in self.times.items():
            if ":" not in name and name != "pass":
                rec[f"job_ms.{name}"] = statistics.median(v)
        files, secs = self.full_builds[-1]
        rec["files_per_s"] = files / (secs)
        rec["changeset_s"] = statistics.median(self.times["changeset"]) / 1000
        rec["index_bytes_per_source_byte"] = self.index_bytes / self.source_bytes
        t = tail(jobs)
        if t:
            rec["latency_tail_ms"], rec["latency_tail_pct"] = t[1], t[0]
        rec["tree"] = self.tree_info
        prog = self.stream_progress
        n_cs = max(1, self.n_changes)
        knn_rows = sum(len(rows) for _, rows in self.results.get("knn_join", []))
        knn_scored = len(self.results.get("knn_join", [])) * len(self.knn_ids) * self.size["n_docs"]
        self.layer_extra.update({
            "operators.knn.rows_scored_per_result": knn_scored / knn_rows if knn_rows else 0.0,
            "streaming.batches": len(prog) / n_cs,
            "streaming.batch_ms": statistics.median([p["durationMs"].get("triggerExecution", 0) for p in prog]) if prog else 0.0,
            "streaming.planning_ms": statistics.median([p["durationMs"].get("queryPlanning", 0) for p in prog]) if prog else 0.0,
            "streaming.input_rows": sum(p.get("numInputRows", 0) for p in prog) / n_cs,
            "pipeline.reembed_ratio": self.embedded_chunks / self.changed_file_chunks if self.changed_file_chunks else 0.0,
        })
        return {
            "latency_ms": statistics.median(self.times["pass"]),
            "record": rec,
            "bytes_written": self.index_bytes,
            "load_ms": statistics.median(self.load_ms),
            "gen": self.gen_info,
        }
