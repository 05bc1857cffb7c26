"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship query smoke check at sf0.001.
``queries()`` — query name -> ``(spark, sf_dir) -> DataFrame``.
``oracle_sql()`` — query name -> DuckDB SQL that must return the same rows.

Both are projections of one ordered table, ``_QUERIES``. To register a
query, add one ``_Q(name, build, oracle)`` entry to it. ``oracle`` is
the SQL text, a zero-argument callable that returns it (``partial`` of an
``oracle.*_sql`` function, evaluated only by ``oracle_sql()``), or None. A
query that is checked against another query's oracle references the same
object, so the oracle is built once. A ``_Replayed`` oracle re-derives a
trainer's centroids or codebooks from parquet; if that load fails, only
its own key is dropped, with a note on stderr.

One key is rows-only by design (oracle None):
  * search_semantic_lexical — random-indexing embedding composite
    (gaussian token directions are not SQL-expressible; semantics
    unit-tested in tests/test_search.py and oracle-graded through
    search_lexical_recall).

Column names are aliased identically on both sides so the driver's
sorted-by-name value hash matches.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable
from functools import partial
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from project_cortex_spark import oracle
from project_cortex_spark.dsl import compile_query
from project_cortex_spark.operators import asof as asof_mod
from project_cortex_spark.operators import bpe as bpe_mod
from project_cortex_spark.operators import embedstats as embedstats_mod
from project_cortex_spark.operators import logreg as logreg_mod
from project_cortex_spark.operators import corpus as corpus_mod
from project_cortex_spark.operators import dedup as dd
from project_cortex_spark.operators import events as ev
from project_cortex_spark.operators import fts as fts_mod
from project_cortex_spark.operators import graph as graph_mod
from project_cortex_spark.operators import knn as knn_mod
from project_cortex_spark.operators import multimodal as mm
from project_cortex_spark.operators import search as search_mod
from project_cortex_spark.operators import sketches as sk
from project_cortex_spark.operators import textextract as tx
from project_cortex_spark.operators import textstats as ts
from project_cortex_spark.pipeline import change_detection as cd
from project_cortex_spark.pipeline import chunks as chunks_mod
from project_cortex_spark.pipeline import embed as embed_mod
from project_cortex_spark.pipeline import parse as parse_mod
from project_cortex_spark.pipeline import sink as sink_mod
from project_cortex_spark.session import local_frame
from project_cortex_spark.sources import files as files_src
from project_cortex_spark.sources import layout as layout_mod
from project_cortex_spark.sources import text_formats as textfmt
from project_cortex_spark.sources.registry import load_tables
from project_cortex_spark.streaming import dedup as stream_dedup
from project_cortex_spark.streaming import rollup as stream_rollup
from project_cortex_spark.streaming import source as stream_source
from project_cortex_spark.streaming import windows as stream_windows

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------

_REGISTRY_CACHE: dict[tuple[str, str], object] = {}


def _session_key(spark: SparkSession) -> str:
    """Stable identity for a live session: applicationId + startTime.
    (id(spark) can be REUSED by a new session after the old one is
    garbage-collected, handing out DataFrames bound to a dead context.)"""
    sc = spark.sparkContext
    return f"{sc.applicationId}:{sc.startTime}"


def _registry(spark: SparkSession, sf_dir: str):
    key = (_session_key(spark), sf_dir)
    if key not in _REGISTRY_CACHE:
        _REGISTRY_CACHE[key] = load_tables(spark, sf_dir)
    return _REGISTRY_CACHE[key]


def _dsl(query: dict) -> Callable[[SparkSession, str], DataFrame]:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return compile_query(_registry(spark, sf_dir), query)

    return run


# the flagship query entry() runs: join + group by + order
_REVENUE_BY_NATION = _dsl({
    "from": "orders",
    "joins": [
        {
            "table": "customer",
            "type": "INNER",
            "on": {
                "field": "orders.o_custkey",
                "operator": "=",
                "value": "customer.c_custkey",
            },
        },
        {
            "table": "nation",
            "type": "INNER",
            "on": {
                "field": "customer.c_nationkey",
                "operator": "=",
                "value": "nation.n_nationkey",
            },
        },
    ],
    "groupBy": ["nation.n_name"],
    "aggregations": [
        {"function": "SUM", "field": "o_totalprice", "alias": "revenue"},
        {"function": "COUNT", "alias": "n_orders"},
    ],
    "orderBy": [
        {"field": "revenue", "direction": "DESC"},
        {"field": "n_name", "direction": "ASC"},
    ],
})


# ---------------------------------------------------------------------------
# KNN vector search (SURVEY §2.11 cortex_search; O3/J2/P8)
# ---------------------------------------------------------------------------


def _query_vec(spark: SparkSession, sf_dir: str, vec_id: int = 0) -> list[float]:
    emb = _registry(spark, sf_dir).table("embeddings")
    row = emb.filter(F.col("vec_id") == vec_id).select("embedding").first()
    return [float(x) for x in row["embedding"]]


def _q_knn_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    qv = _query_vec(spark, sf_dir)
    emb = _registry(spark, sf_dir).table("embeddings")
    return knn_mod.knn_topk(emb, qv, k=15).withColumn("score", F.round("score", 6))


def _q_knn_topk_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    qv = _query_vec(spark, sf_dir)
    emb = _registry(spark, sf_dir).table("embeddings")
    return knn_mod.knn_topk(
        emb, qv, k=20, min_score=0.5, where=F.col("label").isin(1, 2, 3),
        payload_cols=["label"],
    ).withColumn("score", F.round("score", 6))


def _knn_queries(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _registry(spark, sf_dir).table("embeddings")
    return emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def _q_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _registry(spark, sf_dir).table("embeddings")
    return knn_mod.knn_join(_knn_queries(spark, sf_dir), emb, k=5).withColumn(
        "score", F.round("score", 6)
    )


def _q_knn_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    # top-k over the int8-quantized corpus, fully oracle-gated (the
    # quantizer is engine-exact; see functions/vector.quantize_int8)
    qv = _query_vec(spark, sf_dir)
    emb = _registry(spark, sf_dir).table("embeddings")
    return knn_mod.knn_topk_int8(emb, qv, k=15).withColumn(
        "score", F.round("score", 6)
    )


def _q_knn_recall_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    # recall@15 of the int8-quantized search vs the exact top-k — BOTH
    # sides SQL-replayable, so like knn_recall_lsh the recall number
    # itself is hash-gated (single query vector: one recall row)
    qv = _query_vec(spark, sf_dir)
    emb = _registry(spark, sf_dir).table("embeddings")
    exact = knn_mod.knn_topk(emb, qv, k=15).select(
        F.lit(0).alias("query_id"), F.col("vec_id")
    )
    approx = knn_mod.knn_topk_int8(emb, qv, k=15).select(
        F.lit(0).alias("query_id"), F.col("vec_id")
    )
    return knn_mod.ann_recall(approx, exact)


def _q_knn_topk_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hamming top-k over sign-bit codes (2×32-bit halves, 32× smaller
    # than float32) — fully oracle-gated because the packing predicate
    # (> 0, double precision) is engine-exact in both Spark and DuckDB
    qv = _query_vec(spark, sf_dir)
    emb = _registry(spark, sf_dir).table("embeddings")
    return knn_mod.knn_topk_binary(emb, qv, k=15)


def _q_knn_binary_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # two-stage: Hamming picks 64 candidates (12.8% of the sf0.01
    # corpus), exact cosine reranks — the end-to-end output hash-gated,
    # unlike PQ refine whose trained codebooks admit only recall checks
    qv = _query_vec(spark, sf_dir)
    emb = _registry(spark, sf_dir).table("embeddings")
    return knn_mod.knn_topk_binary_rerank(
        emb, qv, k=15, n_candidates=64
    ).withColumn("score", F.round("score", 6))


def _q_knn_recall_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # recall@15 of the PURE binary tier (no rerank) vs the exact top-k:
    # the floor the rerank stage lifts from (33% raw → 73% reranked at
    # sf0.01); both sides SQL-replayable so the number is hash-gated
    qv = _query_vec(spark, sf_dir)
    emb = _registry(spark, sf_dir).table("embeddings")
    exact = knn_mod.knn_topk(emb, qv, k=15).select(
        F.lit(0).alias("query_id"), F.col("vec_id")
    )
    approx = knn_mod.knn_topk_binary(emb, qv, k=15).select(
        F.lit(0).alias("query_id"), F.col("vec_id")
    )
    return knn_mod.ann_recall(approx, exact)


def _q_knn_join_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the batched form of the binary tier: 5 queries answered by one
    # broadcast of tiny integer codes against the code scan — fully
    # oracle-gated like the single-query binary search
    emb = _registry(spark, sf_dir).table("embeddings")
    return knn_mod.knn_join_binary(_knn_queries(spark, sf_dir), emb, k=5)


def _q_knn_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    # diversified top-10 from 40 exact candidates; the greedy rerank is
    # executor-side applyInPandas over the constant-sized candidate set,
    # gated by an unrolled-CTE greedy oracle (oracle.mmr_oracle_sql)
    qv = _query_vec(spark, sf_dir)
    emb = _registry(spark, sf_dir).table("embeddings")
    return knn_mod.mmr_rerank(emb, qv, k=10, n_candidates=40, lam=0.7)


def _q_knn_join_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # approximate (recall<1) but ORACLE-gated (late r4): the oracle
    # inlines the same deterministic planes and replays the identical
    # approximation. Its parameters (dim=64, n_planes=4, seed=42, k=5,
    # n_queries=5) are hardcoded in oracle.knn_lsh_oracle_sql — keep
    # both sides in lockstep.
    emb = _registry(spark, sf_dir).table("embeddings")
    return knn_mod.knn_join_lsh(
        _knn_queries(spark, sf_dir), emb, k=5, n_planes=4
    ).withColumn("score", F.round("score", 6))


def _q_knn_join_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ORACLE-gated as of r6: centroids come from the replayable trainer
    # (vec_id-ordered sample, first-k init, no RNG) so
    # oracle.knn_ivf_join_oracle_sql derives the identical centroids
    # from the same parquet and replays assignment/probes/top-k in SQL —
    # the approximate JOIN OUTPUT itself is hash-checked, not just its
    # recall. Parameters (n_centroids=16, nprobe=4, k=5, iters=8) are
    # hardcoded THERE — keep in lockstep. nprobe==n_centroids equality
    # with the exact twin stays unit-tested.
    emb = _registry(spark, sf_dir).table("embeddings")
    cents = knn_mod.train_centroids_ordered(
        emb, id_col="vec_id", vec_col="embedding", n_centroids=16, iters=8
    )
    return knn_mod.knn_join_ivf(
        _knn_queries(spark, sf_dir), emb, k=5, nprobe=4, centroids=cents
    ).withColumn("score", F.round("score", 6))


def _q_knn_join_ivf_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    # FILTERED ANN under partial probe: predicate on the corpus side
    # only, full-corpus centroids (filtering commutes with assignment,
    # and the oracle trains the identical centroids from the full
    # parquet) — the interaction the exact filtered path can't exercise
    emb = _registry(spark, sf_dir).table("embeddings")
    cents = knn_mod.train_centroids_ordered(
        emb, id_col="vec_id", vec_col="embedding", n_centroids=16, iters=8
    )
    return knn_mod.knn_join_ivf(
        _knn_queries(spark, sf_dir),
        emb.filter(F.col("label").isin(1, 2, 3)),
        k=5,
        nprobe=4,
        centroids=cents,
    ).withColumn("score", F.round("score", 6))


def _q_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _registry(spark, sf_dir).table("embeddings")
    return knn_mod.quantize_embeddings(emb)


def _q_knn_recall_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # self-measurement: recall@5 of the sign-LSH join vs the exact join.
    # ORACLE-gated (late r4): both inputs replay in SQL, so the recall
    # number itself is hash-checked. NOTE the oracle hardcodes the same
    # (dim=64, n_planes=4, seed=42, k=5, n_queries=5) — change the
    # parameters HERE and THERE together or the gate goes red.
    emb = _registry(spark, sf_dir).table("embeddings")
    q = _knn_queries(spark, sf_dir)
    exact = knn_mod.knn_join(q, emb, k=5)
    approx = knn_mod.knn_join_lsh(q, emb, k=5, n_planes=4)
    return knn_mod.ann_recall(approx, exact)


def _q_knn_recall_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same self-measurement for the IVF path at its contract nprobe.
    # ORACLE-gated as of r6 (VERDICT r5 item 7): centroids come from the
    # REPLAYABLE trainer (vec_id-ordered sample, first-k init, no RNG)
    # so oracle.knn_ivf_recall_oracle_sql derives the identical
    # centroids from the same parquet without Spark and replays
    # assignment/probes/top-k/recall in SQL. Parameters (n_centroids=16,
    # nprobe=4, k=5, n_queries=5, iters=8) are hardcoded THERE — keep in
    # lockstep.
    emb = _registry(spark, sf_dir).table("embeddings")
    q = _knn_queries(spark, sf_dir)
    cents = knn_mod.train_centroids_ordered(
        emb, id_col="vec_id", vec_col="embedding", n_centroids=16, iters=8
    )
    exact = knn_mod.knn_join(q, emb, k=5)
    approx = knn_mod.knn_join_ivf(
        q, emb, k=5, nprobe=4, centroids=cents
    )
    return knn_mod.ann_recall(approx, exact)


def _q_knn_recall_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    # self-measurement for the PQ/ADC compressed path (m=8 subspaces,
    # 64 codes = 8 B/vector): recall@5 vs the oracle-gated exact join.
    # The synthetic embeddings are near-random (worst case for PQ —
    # no cluster structure to exploit), so the measured recall is a
    # floor, not a ceiling; the (m, n_codes) knobs trade bytes for it.
    # ORACLE-gated as of r6: codebooks come from the replayable trainer
    # so oracle.knn_pq_recall_oracle_sql re-derives them and replays
    # encode/ADC/top-k/recall in SQL. Parameters (8 subspaces, 64
    # codes, iters=8, k=5) hardcoded THERE — keep in lockstep.
    emb = _registry(spark, sf_dir).table("embeddings")
    q = _knn_queries(spark, sf_dir)
    books = knn_mod.train_pq_codebooks_ordered(
        emb, id_col="vec_id", vec_col="embedding", n_subspaces=8,
        n_codes=64, iters=8,
    )
    exact = knn_mod.knn_join(q, emb, k=5)
    approx = knn_mod.knn_join_pq(q, emb, k=5, codebooks=books)
    return knn_mod.ann_recall(approx, exact)


def _q_knn_recall_pq_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    # two-stage retrieval self-measurement: PQ candidates + exact
    # re-rank at refine_factor=10 vs the oracle-gated exact join.
    # ORACLE-gated as of r6 (same replayable codebooks; the oracle adds
    # the candidate cut + exact cosine re-rank CTEs).
    emb = _registry(spark, sf_dir).table("embeddings")
    q = _knn_queries(spark, sf_dir)
    books = knn_mod.train_pq_codebooks_ordered(
        emb, id_col="vec_id", vec_col="embedding", n_subspaces=8,
        n_codes=64, iters=8,
    )
    exact = knn_mod.knn_join(q, emb, k=5)
    approx = knn_mod.knn_join_pq_refined(
        q, emb, k=5, refine_factor=10, codebooks=books
    )
    return knn_mod.ann_recall(approx, exact)


def _recall15_oracle(approx_sql: Callable[..., str]) -> str:
    """recall@15 of one approximate single-query top-k vs the exact top-k."""
    return f"""
    WITH approx AS ({approx_sql(k=15)}),
    exact AS ({oracle.knn_oracle_sql(k=15)}),
    j AS (
      SELECT e.vec_id,
             CASE WHEN a.vec_id IS NULL THEN 0 ELSE 1 END AS hit
      FROM exact e LEFT JOIN approx a ON e.vec_id = a.vec_id
    )
    SELECT 0 AS query_id, count(*) AS n_exact,
           CAST(sum(hit) AS BIGINT) AS n_hit,
           CAST(floor(10000 * sum(hit) / count(*)) AS BIGINT) AS recall_e4
    FROM j
    """


def _q_corpus_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_mod.pack_sequences(
        _docs(spark, sf_dir), seq_tokens=256, writers=16
    )


_KNN_JOIN_ORACLE = f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS q FROM embeddings WHERE vec_id < 5)
    SELECT query_id, vec_id, round({oracle.KNN_SCORE_SQL}, 6) AS score, rank FROM (
        SELECT q.query_id, e.vec_id, e.embedding, q.q,
               row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY {oracle.KNN_SCORE_SQL} DESC, e.vec_id
               ) AS rank
        FROM embeddings e, q
    ) WHERE rank <= 5
"""


# ---------------------------------------------------------------------------
# FTS / BM25 (SURVEY §2.11 cortex_exact; O4/J3)
# ---------------------------------------------------------------------------

_FTS_CACHE: dict[tuple[str, str], object] = {}


def _fts_index(spark: SparkSession, sf_dir: str):
    key = (_session_key(spark), sf_dir)
    if key not in _FTS_CACHE:
        _FTS_CACHE[key] = fts_mod.build_fts_index(
            _registry(spark, sf_dir).table("documents"),
            id_col="doc_id",
            text_col="text",
        )
    return _FTS_CACHE[key]


def _fts_query(q: str, limit: int = 15):
    # rank_digits=9 (r9): at sf1 the replica corpus carries 10-deep
    # EXACT BM25 ties whose computed scores differ at +/-1 ulp between
    # engines/partitionings; quantizing before the cut collapses the
    # packs onto the doc_id tie-break (the r6 hybrid fix, now on the
    # plain search path too). The projected score IS the 9-rounded rank
    # key — no second rounding, so no double-round divergence.
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fts_mod.fts_search(
            _fts_index(spark, sf_dir), q, limit=limit, rank_digits=9
        )

    return run


def _q_fts_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cortex_exact's column filters (language =, path LIKE;
    # exact_sqlite.go:73-80) riding along with the match + payload join
    return fts_mod.fts_search(
        _fts_index(spark, sf_dir),
        "table OR merge",
        limit=20,
        where=(F.col("lang") == "en") & F.col("source").like("src1%"),
        payload_cols=["lang", "source"],
        rank_digits=9,
    )


def _q_search_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cortex_search end-to-end (embed query -> KNN -> payload -> tag/type
    # filters -> min_score -> limit), FULLY oracle-gated: the md5 token
    # hash makes the whole composite SQL-replayable (see
    # oracle.search_semantic_oracle_sql)
    idx = _memo(
        spark,
        sf_dir,
        "search_index",
        lambda: search_mod.build_search_index(_docs(spark, sf_dir), dim=32).cache(),
    )
    return search_mod.semantic_search(
        idx, "key agg row scan", limit=15, tags=["en", "code"],
        min_score=0.05, dim=32,
    ).withColumn("score", F.round("score", 6))


def _q_search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hybrid retrieval: BM25 top-50 + doc-embedding cosine top-50 fused
    # by reciprocal-rank fusion (Σ 1/(60+rank)) — the beyond-parity
    # composition of cortex_exact and cortex_search every production
    # retrieval stack runs; FULLY oracle-gated (integer ranks make the
    # fused score engine-exact; both lists replay in SQL)
    docs = _docs(spark, sf_dir)
    vecs = _memo(
        spark,
        sf_dir,
        "doc_vectors_32",
        lambda: search_mod.build_doc_vectors(docs, dim=32).cache(),
    )
    return search_mod.hybrid_search_rrf(
        _fts_index(spark, sf_dir),
        vecs,
        "key OR agg OR row OR scan",
        "key agg row scan",
        k=15,
        n_per_list=50,
        rrf_k=60,
        dim=32,
    )


def _q_search_hybrid_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the score-aware fusion flavor: min-max normalized weighted sum
    # (0.4 lex / 0.6 sem) over the same two rank-quantized lists —
    # engine-exact because every downstream double is a pure function
    # of the quantized scores (oracle.hybrid_weighted_oracle_sql)
    docs = _docs(spark, sf_dir)
    vecs = _memo(
        spark,
        sf_dir,
        "doc_vectors_32",
        lambda: search_mod.build_doc_vectors(docs, dim=32).cache(),
    )
    return search_mod.hybrid_search_weighted(
        _fts_index(spark, sf_dir),
        vecs,
        "key OR agg OR row OR scan",
        "key agg row scan",
        k=15,
        n_per_list=50,
        w_lex=0.4,
        w_sem=0.6,
        dim=32,
    )


def _q_search_semantic_lexical(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cortex_search over the RANDOM-INDEXING lexical provider (the
    # no-model-runtime stand-in for the reference's ONNX BGE-small,
    # provider.go:20-39): cosine tracks weighted token overlap, so this
    # smoke-checks real retrieval behavior through the unchanged provider
    # seam. Embedding values are not SQL-expressible -> rows-only check;
    # ranking quality is unit-tested in tests/test_search.py.
    idx = _memo(
        spark,
        sf_dir,
        "search_index_lexical",
        lambda: search_mod.build_search_index(
            _docs(spark, sf_dir), dim=32, provider="lexical"
        ).cache(),
    )
    return search_mod.semantic_search(
        idx, "key agg row scan", limit=15, tags=["en", "code"],
        min_score=0.05, dim=32, provider="lexical",
    ).withColumn("score", F.round("score", 6))


def _q_search_lexical_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Retrieval-quality contract for the lexical provider (VERDICT r3
    # item 6): every 25th document, embedded in query mode from its own
    # text, must retrieve itself as the top-1 cosine hit over the
    # passage-embedded corpus. The ORACLE computes the noiseless ranking
    # — weighted-token-overlap cosine in pure SQL — so the driver (not
    # just unit tests) grades that the provider's cosine tracks lexical
    # overlap: recall@1 of lexical KNN vs exact token-overlap ranking.
    return search_mod.lexical_retrieval_top1(
        _registry(spark, sf_dir).table("documents"), dim=64, every=25
    )


# Noiseless twin of lexical_retrieval_top1: w = 1 + ln(tf) per token
# (tokenizer [^0-9a-z]+ on lower(), identical to embed._TOKEN_RE), norms
# carry the virtual mode token (+1.0 — weight 1, orthogonal to all word
# tokens so it never enters the dot), rank by overlap-cosine desc with
# doc id as tie-break (identical token multisets embed identically, so
# both sides break the tie the same way). The cosine is rounded to 12 dp
# BEFORE ranking: byte-identical documents tie at exactly 1.0 on the
# Spark side (bit-equal vectors), but DuckDB's parallel sum() builds the
# two dots in different accumulation orders — 1-ulp reassociation noise
# that would beat the id tie-break (observed at sf1: two identical docs,
# oracle ranked self first by 1 ulp while Spark's id tie-break picked the
# lower id). 12 dp is ~1e4 ulps of slack yet far below any genuine
# cosine gap between distinct token multisets (~1e-2 at these doc sizes).
_LEXICAL_RECALL_ORACLE = """
WITH tf AS (
    SELECT doc_id, u.tok AS tok, count(*) AS c
    FROM documents, unnest(string_split_regex(lower(text), '[^0-9a-z]+')) AS u(tok)
    WHERE u.tok <> ''
    GROUP BY doc_id, u.tok
), w AS (
    SELECT doc_id, tok, 1.0 + ln(c) AS w FROM tf
), nrm AS (
    SELECT doc_id, sqrt(1.0 + sum(w * w)) AS nrm FROM w GROUP BY doc_id
), dots AS (
    SELECT wq.doc_id AS query_doc_id, wd.doc_id AS did, sum(wq.w * wd.w) AS dot
    FROM w wq JOIN w wd USING (tok)
    WHERE wq.doc_id % 25 = 0
    GROUP BY wq.doc_id, wd.doc_id
), ranked AS (
    SELECT d.query_doc_id, d.did,
           row_number() OVER (
               PARTITION BY d.query_doc_id
               ORDER BY round(d.dot / (nq.nrm * nd.nrm), 12) DESC, d.did ASC
           ) AS rn
    FROM dots d
    JOIN nrm nq ON nq.doc_id = d.query_doc_id
    JOIN nrm nd ON nd.doc_id = d.did
)
SELECT query_doc_id, did AS top_doc_id FROM ranked WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# Graph traversal (SURVEY §2.7) over order-chain edges: consecutive orders
# of one customer form a chain — same shape as call edges
# ---------------------------------------------------------------------------

_EDGES_SQL = """
    SELECT src, dst FROM (
        SELECT o_orderkey AS src,
               lead(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS dst
        FROM orders
    ) WHERE dst IS NOT NULL
"""


def _order_edges_derived(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    return (
        _registry(spark, sf_dir)
        .table("orders")
        .select(
            F.col("o_orderkey").alias("src"),
            F.lead("o_orderkey").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
    )


def _order_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Production edge layout (r4, SCALE.md "edge-layout A/B"): the
    # reference stores function_calls as a TABLE (schema.go:266-279);
    # deriving the edge projection per traversal was fixture convenience.
    # Materializing the narrow (src, dst) parquet once per session cut
    # graph_callees_d3 39% / graph_callers_d2 30% at sf0.1 — each level's
    # job of the driver-frontier BFS re-derives the edges otherwise.
    # Bucketing by src measured at parity with plain parquet (the
    # broadcast-frontier BFS has no shuffle for buckets to remove) and
    # was NOT adopted.
    def build() -> DataFrame:
        import re as _re

        path = os.path.join(
            "spark-warehouse",
            "_edges_cache",
            _re.sub(r"[^0-9A-Za-z.]+", "_", sf_dir.strip("/")),
        )
        _order_edges_derived(spark, sf_dir).write.mode("overwrite").parquet(path)
        return spark.read.parquet(path)

    return _memo(spark, sf_dir, "order_edges_stored", build)


# scalar focus-point lookups (chain start, BFS targets, top part) are
# query *parameters*, not part of the measured operator — memoized per
# (session, sf_dir) so repeated runs time the traversal itself
_SCALAR_MEMO: dict = {}


def _memo(spark: SparkSession, sf_dir: str, tag: str, fn):
    key = (_session_key(spark), sf_dir, tag)
    if key not in _SCALAR_MEMO:
        _SCALAR_MEMO[key] = fn()
    return _SCALAR_MEMO[key]


def _chain_start(spark: SparkSession, sf_dir: str) -> int:
    def compute() -> int:
        orders = _registry(spark, sf_dir).table("orders")
        top = (
            orders.groupBy("o_custkey")
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), F.col("o_custkey").asc())
            .first()
        )
        return int(
            orders.filter(F.col("o_custkey") == top["o_custkey"])
            .agg(F.min("o_orderkey"))
            .first()[0]
        )

    return _memo(spark, sf_dir, "chain_start", compute)


_CHAIN_START_SQL = """(SELECT min(o_orderkey) FROM orders WHERE o_custkey =
    (SELECT o_custkey FROM orders GROUP BY 1 ORDER BY count(*) DESC, o_custkey LIMIT 1))"""


def _q_graph_callees(spark: SparkSession, sf_dir: str) -> DataFrame:
    start = _chain_start(spark, sf_dir)
    return graph_mod.callees(_order_edges(spark, sf_dir), [start], depth=3)


def _q_graph_callees_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the reference's literal formulation (recursive CTE over call edges,
    # searcher_sql.go:430-485) expressed natively: Spark 4 supports
    # WITH RECURSIVE, so the driver-loop BFS (graph_mod.bfs) and this
    # declarative twin are both offered; both hash-match the same DuckDB
    # recursive-CTE oracle. The BFS form stays the default: it keeps the
    # frontier on the driver and runs one broadcast semi-join scan of
    # the stored edges per level, while UnionLoopExec re-runs the edge
    # subquery per iteration (fine at bounded depth ≤6). The CTE drops a
    # NULL endpoint through `node <> start`; the BFS drops it by rule
    # (a NULL endpoint carries no edge) — gated edges hold none.
    start = _chain_start(spark, sf_dir)
    _order_edges(spark, sf_dir).createOrReplaceTempView("_cortex_rec_edges")
    return spark.sql(f"""
        WITH RECURSIVE walk(node, depth) AS (
          SELECT CAST({start} AS BIGINT) AS node, 0 AS depth
          UNION ALL
          SELECT e.dst, w.depth + 1
          FROM walk w JOIN _cortex_rec_edges e ON e.src = w.node
          WHERE w.depth < 3
        )
        SELECT node, min(depth) AS depth FROM walk
        WHERE depth > 0 AND node <> {start} GROUP BY node
    """)


def _downstream_node(spark: SparkSession, sf_dir: str, hops: int) -> int:
    def compute() -> int:
        start = _chain_start(spark, sf_dir)
        row = (
            graph_mod.callees(_order_edges(spark, sf_dir), [start], depth=hops)
            .filter(F.col("depth") == hops)
            .orderBy("node")
            .first()
        )
        return int(row["node"])

    return _memo(spark, sf_dir, f"downstream_{hops}", compute)


def _q_graph_callers(spark: SparkSession, sf_dir: str) -> DataFrame:
    # target: the node 3 hops downstream of the chain start
    target = _downstream_node(spark, sf_dir, 3)
    return graph_mod.callers(_order_edges(spark, sf_dir), [target], depth=2)


def _q_graph_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    start = _chain_start(spark, sf_dir)
    target = _downstream_node(spark, sf_dir, 4)
    path = graph_mod.shortest_path(
        _order_edges(spark, sf_dir), start, target, max_depth=6
    )
    return local_frame(
        spark, [(i + 1, int(n)) for i, n in enumerate(path)], "pos INT, node BIGINT"
    )


# --- implements-inference (J5/G10) over an orders-derived duck-typing
# shape: struct = customer (method set = priorities it has used), iface =
# order status (method set = priorities observed with that status); a
# customer "implements" a status iff its priority set ⊇ the status's.


def _q_graph_implements(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _registry(spark, sf_dir).table("orders")
    zero = (F.lit(0).alias("param_count"), F.lit(0).alias("return_count"))
    structs = orders.select(
        F.col("o_custkey").alias("struct_id"),
        F.col("o_orderpriority").alias("name"),
        *zero,
    ).distinct()
    ifaces = orders.select(
        F.col("o_orderstatus").alias("iface_id"),
        F.col("o_orderpriority").alias("name"),
        *zero,
    ).distinct()
    return graph_mod.infer_implements(ifaces, structs)


_IMPLEMENTS_ORACLE = """
    WITH sm AS (SELECT DISTINCT o_custkey AS struct_id,
                                o_orderpriority AS name FROM orders),
         im AS (SELECT DISTINCT o_orderstatus AS iface_id,
                                o_orderpriority AS name FROM orders),
         need AS (SELECT iface_id, count(*) AS n FROM im GROUP BY 1),
         have AS (SELECT im.iface_id, sm.struct_id, count(*) AS n
                  FROM im JOIN sm USING(name) GROUP BY 1, 2)
    SELECT h.struct_id, h.iface_id
    FROM have h JOIN need USING(iface_id) WHERE h.n = need.n
"""

# --- impact (G8) on the order-chain graph: iface = an order, implemented
# by the same customer's later orders; callers = upstream chain nodes.

_TOP_CUST_SQL = (
    "(SELECT o_custkey FROM orders GROUP BY 1 ORDER BY count(*) DESC,"
    " o_custkey LIMIT 1)"
)


def _impact_target(spark: SparkSession, sf_dir: str) -> int:
    def compute() -> int:
        orders = _registry(spark, sf_dir).table("orders")
        start = _chain_start(spark, sf_dir)
        cust = orders.filter(F.col("o_orderkey") == start).select("o_custkey").first()
        return int(
            orders.filter(
                (F.col("o_custkey") == cust["o_custkey"])
                & (F.col("o_orderkey") > start)
            )
            .agg(F.min("o_orderkey"))
            .first()[0]
        )

    return _memo(spark, sf_dir, "impact_target", compute)


def _q_graph_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _registry(spark, sf_dir).table("orders")
    target = _impact_target(spark, sf_dir)
    a, b = orders.alias("a"), orders.alias("b")
    implements = a.join(
        b,
        (F.col("a.o_custkey") == F.col("b.o_custkey"))
        & (F.col("a.o_orderkey") > F.col("b.o_orderkey")),
    ).select(
        F.col("a.o_orderkey").alias("struct_id"),
        F.col("b.o_orderkey").alias("iface_id"),
    )
    return graph_mod.impact(
        _order_edges(spark, sf_dir), implements, target, depth=2
    )


_IMPACT_ORACLE = f"""
    WITH RECURSIVE e AS ({_EDGES_SQL}),
    tgt AS (
        SELECT min(o_orderkey) AS t FROM orders
        WHERE o_custkey = {_TOP_CUST_SQL}
          AND o_orderkey > {_CHAIN_START_SQL}
    ),
    imp AS (
        SELECT a.o_orderkey AS node FROM orders a, tgt
        WHERE a.o_custkey = {_TOP_CUST_SQL} AND a.o_orderkey > tgt.t
    ),
    walk(node, depth) AS (
        SELECT t, 0 FROM tgt
        UNION ALL
        SELECT e.src, w.depth + 1 FROM walk w JOIN e ON e.dst = w.node
        WHERE w.depth < 2
    )
    SELECT CAST(node AS VARCHAR) AS node, 0 AS depth,
           'implementation' AS impact_type, 'must_update' AS severity
    FROM imp
    UNION ALL
    SELECT CAST(node AS VARCHAR), depth,
           CASE WHEN depth = 1 THEN 'direct_caller' ELSE 'transitive_caller' END,
           CASE WHEN depth = 1 THEN 'must_update' ELSE 'review_needed' END
    FROM (SELECT node, min(depth) AS depth FROM walk WHERE depth > 0 GROUP BY 1)
"""

# --- dependencies / dependents (G3/G4): part -> supplying nation edges
# via lineitem x supplier (the imports-table join shape).


def _part_nation_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    reg = _registry(spark, sf_dir)
    return (
        reg.table("lineitem")
        .join(
            reg.table("supplier"),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .select(F.col("l_partkey").alias("src"), F.col("s_nationkey").alias("dst"))
    )


_PART_NATION_EDGES_SQL = """
    SELECT l_partkey AS src, s_nationkey AS dst
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
"""

# deterministic focus: the part supplied from the most distinct nations
_TOP_PART_SQL = """(
    SELECT src FROM (SELECT src, count(DISTINCT dst) AS n
                     FROM ({edges}) GROUP BY 1)
    ORDER BY n DESC, src LIMIT 1
)""".format(edges=_PART_NATION_EDGES_SQL)


def _top_part(spark: SparkSession, sf_dir: str) -> int:
    def compute() -> int:
        e = _part_nation_edges(spark, sf_dir)
        row = (
            e.groupBy("src")
            .agg(F.countDistinct("dst").alias("n"))
            .orderBy(F.col("n").desc(), F.col("src").asc())
            .first()
        )
        return int(row["src"])

    return _memo(spark, sf_dir, "top_part", compute)


def _q_graph_dependencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _part_nation_edges(spark, sf_dir)
    return graph_mod.neighbors(edges, _top_part(spark, sf_dir), direction="out")


def _q_graph_dependents(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _part_nation_edges(spark, sf_dir)
    # dependents of the first nation the top part depends on
    first_nation = (
        graph_mod.neighbors(edges, _top_part(spark, sf_dir), direction="out")
        .agg(F.min("node"))
        .first()[0]
    )
    return graph_mod.neighbors(edges, int(first_nation), direction="in")


_DEPENDENCIES_ORACLE = f"""
    SELECT DISTINCT dst AS node FROM ({_PART_NATION_EDGES_SQL})
    WHERE src = {_TOP_PART_SQL}
"""

_DEPENDENTS_ORACLE = f"""
    SELECT DISTINCT src AS node FROM ({_PART_NATION_EDGES_SQL})
    WHERE dst = (SELECT min(dst) FROM ({_PART_NATION_EDGES_SQL})
                 WHERE src = {_TOP_PART_SQL})
"""

# --- type_usages (G5): "functions" = suppliers, "param types" = the part
# types they have shipped; pattern scoping LIKE the reference's generics
# patterns (searcher_sql.go:536-560).


def _q_graph_type_usages(spark: SparkSession, sf_dir: str) -> DataFrame:
    reg = _registry(spark, sf_dir)
    functions = reg.table("supplier").select(
        F.col("s_suppkey").alias("function_id"), F.col("s_name").alias("name")
    )
    params = (
        reg.table("lineitem")
        .join(reg.table("part"), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            F.col("l_suppkey").alias("function_id"),
            F.col("p_type").alias("param_type"),
        )
    )
    return graph_mod.type_usages(functions, params, "PROMO%")


_TYPE_USAGES_ORACLE = """
    SELECT s_suppkey AS function_id, s_name AS name FROM supplier
    WHERE s_suppkey IN (
        SELECT l_suppkey FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_type LIKE 'PROMO%'
    )
"""


# --- cortex_analysis (canopy spec overview.md:16): circular_dependencies,
# unused_symbols, hotspots, type_hierarchy — the reference's announced
# next graph surface (spec exists, Go implementation does not), covered
# here over the same derived edge fixtures the rest of the family uses.

# per-customer order RINGS: the chain edges plus a closing edge from the
# last order back to the first — every customer is a directed cycle of
# length = their order count (single-order customers are self-loops), so
# cycle detection has a rich, deterministic answer at every SF
_RING_EDGES_SQL = """
    SELECT o_orderkey AS src,
           coalesce(
               lead(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey),
               min(o_orderkey) OVER (PARTITION BY o_custkey)
           ) AS dst
    FROM orders
"""


def _ring_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    return (
        _registry(spark, sf_dir)
        .table("orders")
        .select(
            F.col("o_orderkey").alias("src"),
            F.coalesce(
                F.lead("o_orderkey").over(w),
                F.min("o_orderkey").over(Window.partitionBy("o_custkey")),
            ).alias("dst"),
        )
    )


def _q_graph_cycles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # circular-dependency detection: which orders lie on a dependency
    # cycle of length <= 8, and how tight is the tightest such cycle
    return graph_mod.cycle_members(_ring_edges(spark, sf_dir), max_len=8)


_CYCLES_ORACLE = f"""
    WITH RECURSIVE e AS ({_RING_EDGES_SQL}),
    walk(origin, node, len) AS (
        SELECT src, dst, 1 FROM e
        UNION
        SELECT w.origin, e.dst, w.len + 1
        FROM walk w JOIN e ON e.src = w.node
        WHERE w.len < 8 AND w.node <> w.origin
    )
    SELECT origin AS node, min(len) AS cycle_len FROM walk
    WHERE node = origin GROUP BY origin
"""


def _q_graph_cycle_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    # VERDICT r7 item 6: the actionable circular-dependency report —
    # every order on a cycle of length <= 8 plus ONE canonical shortest
    # cycle through it (lexicographically smallest '>'-joined walk
    # string; the oracle replays the same canon with a path-carrying
    # recursive CTE, so the reconstruction is hash-gated, not golden)
    return graph_mod.cycle_paths(_ring_edges(spark, sf_dir), max_len=8)


_CYCLE_PATHS_ORACLE = f"""
    WITH RECURSIVE e AS ({_RING_EDGES_SQL}),
    walk(origin, node, len, path) AS (
        SELECT src, dst, 1,
               CAST(src AS VARCHAR) || '>' || CAST(dst AS VARCHAR)
        FROM e
        UNION ALL
        SELECT w.origin, e.dst, w.len + 1,
               w.path || '>' || CAST(e.dst AS VARCHAR)
        FROM walk w JOIN e ON e.src = w.node
        WHERE w.len < 8 AND w.node <> w.origin
    ),
    closed AS (SELECT origin, len, path FROM walk WHERE node = origin),
    m AS (SELECT origin, min(len) AS cycle_len FROM closed GROUP BY origin)
    SELECT m.origin AS node, CAST(m.cycle_len AS INT) AS cycle_len,
           min(c.path) AS path
    FROM m JOIN closed c ON c.origin = m.origin AND c.len = m.cycle_len
    GROUP BY m.origin, m.cycle_len
"""


def _q_graph_scc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # UNBOUNDED circular-dependency form: SCCs of the ring graph. The
    # rings are reach-closed per customer, so the exact answer has a
    # closed form the oracle states directly (scc_id = the customer's
    # min order) — an algorithm-independent gate for the FW-BW peel.
    return graph_mod.strongly_connected_components(_ring_edges(spark, sf_dir))


_SCC_ORACLE = """
    SELECT o_orderkey AS node,
           min(o_orderkey) OVER (PARTITION BY o_custkey) AS scc_id
    FROM orders
"""


def _q_graph_unused(spark: SparkSession, sf_dir: str) -> DataFrame:
    # unused_symbols: orders nothing points at (chain heads), minus the
    # "entry point" exclusion (urgent-priority orders, the stand-in for
    # canopy's exported/main exclusion list)
    orders = _registry(spark, sf_dir).table("orders")
    nodes = orders.select(F.col("o_orderkey").alias("node"))
    exclude = orders.filter(F.col("o_orderpriority").like("1%")).select(
        F.col("o_orderkey").alias("node")
    )
    return graph_mod.unused_symbols(
        nodes, _order_edges(spark, sf_dir), exclude=exclude
    )


_UNUSED_ORACLE = f"""
    SELECT o_orderkey AS node FROM orders
    WHERE o_orderkey NOT IN (SELECT dst FROM ({_EDGES_SQL}))
      AND o_orderpriority NOT LIKE '1%'
"""

# part-to-part transitions within an order (by line number): a multi-
# edge reference graph with a heavy-tailed degree distribution — the
# right shape for a hotspot ranking. The fixture's l_linenumber is NOT
# unique per order (11,785 ties at sf0.01), so the window orders by the
# full unique key (linenumber, partkey, suppkey) to keep lead()
# deterministic across engines.
_PART_EDGES_SQL = """
    SELECT src, dst FROM (
        SELECT l_partkey AS src,
               lead(l_partkey) OVER (
                   PARTITION BY l_orderkey
                   ORDER BY l_linenumber, l_partkey, l_suppkey) AS dst
        FROM lineitem
    ) WHERE dst IS NOT NULL
"""


def _part_transition_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey"
    )
    return (
        _registry(spark, sf_dir)
        .table("lineitem")
        .select(
            F.col("l_partkey").alias("src"),
            F.lead("l_partkey").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
    )


def _q_graph_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    return graph_mod.hotspots(_part_transition_edges(spark, sf_dir), top_n=100)


_HOTSPOTS_ORACLE = f"""
    WITH e AS ({_PART_EDGES_SQL}),
    ind AS (
        SELECT src AS node, 0 AS i, 1 AS o FROM e
        UNION ALL
        SELECT dst AS node, 1 AS i, 0 AS o FROM e
    ),
    agg AS (SELECT node, CAST(sum(i) AS BIGINT) AS fan_in,
                   CAST(sum(o) AS BIGINT) AS fan_out
            FROM ind GROUP BY node)
    SELECT node, fan_in, fan_out, fan_in + fan_out AS degree FROM agg
    ORDER BY degree DESC, node ASC LIMIT 100
"""


def _q_graph_type_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # type_hierarchy: the customer -> nation -> region containment tree
    # as a namespaced parent-edge set; closure reports every ancestor
    # with its minimum hop distance
    reg = _registry(spark, sf_dir)
    cust = reg.table("customer").select(
        F.concat_ws(":", F.lit("c"), F.col("c_custkey")).alias("child"),
        F.concat_ws(":", F.lit("n"), F.col("c_nationkey")).alias("parent"),
    )
    nat = reg.table("nation").select(
        F.concat_ws(":", F.lit("n"), F.col("n_nationkey")).alias("child"),
        F.concat_ws(":", F.lit("r"), F.col("n_regionkey")).alias("parent"),
    )
    return graph_mod.hierarchy_closure(cust.unionByName(nat), max_depth=3)


_TYPE_HIERARCHY_ORACLE = """
    WITH e AS (
        SELECT DISTINCT 'c:' || CAST(c_custkey AS VARCHAR) AS child,
                        'n:' || CAST(c_nationkey AS VARCHAR) AS parent
        FROM customer
        UNION ALL
        SELECT DISTINCT 'n:' || CAST(n_nationkey AS VARCHAR),
                        'r:' || CAST(n_regionkey AS VARCHAR)
        FROM nation
    ),
    l1 AS (SELECT child AS node, parent AS ancestor, 1 AS depth FROM e),
    l2 AS (SELECT a.node, b.ancestor, 2 AS depth
           FROM l1 a JOIN l1 b ON a.ancestor = b.node)
    SELECT node, ancestor, depth FROM l1
    UNION ALL
    SELECT node, ancestor, depth FROM l2
"""


_CALLEES_ORACLE = f"""
        WITH RECURSIVE e AS ({_EDGES_SQL}),
        walk(node, depth) AS (
            SELECT CAST({_CHAIN_START_SQL} AS BIGINT), 0
            UNION ALL
            SELECT e.dst, w.depth + 1 FROM walk w JOIN e ON e.src = w.node
            WHERE w.depth < 3
        )
        SELECT node, min(depth) AS depth FROM walk WHERE depth > 0 GROUP BY node
    """


_CALLERS_ORACLE = f"""
        WITH RECURSIVE e AS ({_EDGES_SQL}),
        down(node, depth) AS (
            SELECT CAST({_CHAIN_START_SQL} AS BIGINT), 0
            UNION ALL
            SELECT e.dst, d.depth + 1 FROM down d JOIN e ON e.src = d.node
            WHERE d.depth < 3
        ),
        -- target = min over nodes whose MINIMUM depth is 3, mirroring the
        -- Spark BFS min-depth semantics (a node reachable at depth <3 can
        -- reappear at depth 3 via a longer path on converging graphs)
        tgt AS (
            SELECT min(node) AS t
            FROM (SELECT node, min(depth) AS d FROM down WHERE depth > 0
                  GROUP BY node)
            WHERE d = 3
        ),
        walk(node, depth) AS (
            SELECT t, 0 FROM tgt
            UNION ALL
            SELECT e.src, w.depth + 1 FROM walk w JOIN e ON e.dst = w.node
            WHERE w.depth < 2
        )
        SELECT node, min(depth) AS depth FROM walk WHERE depth > 0 GROUP BY node
    """


_SHORTEST_PATH_ORACLE = f"""
        WITH RECURSIVE e AS ({_EDGES_SQL}),
        down(node, depth) AS (
            SELECT CAST({_CHAIN_START_SQL} AS BIGINT), 0
            UNION ALL
            SELECT e.dst, d.depth + 1 FROM down d JOIN e ON e.src = d.node
            WHERE d.depth < 4
        ),
        tgt AS (
            SELECT min(node) AS t
            FROM (SELECT node, min(depth) AS d FROM down WHERE depth > 0
                  GROUP BY node)
            WHERE d = 4
        ),
        walk(node, path) AS (
            SELECT CAST({_CHAIN_START_SQL} AS BIGINT),
                   [CAST({_CHAIN_START_SQL} AS BIGINT)]
            UNION ALL
            SELECT e.dst, array_append(w.path, e.dst)
            FROM walk w JOIN e ON e.src = w.node
            WHERE len(w.path) <= 6 AND NOT list_contains(w.path, e.dst)
        ),
        best AS (
            SELECT path FROM walk WHERE node = (SELECT t FROM tgt)
            ORDER BY len(path), path LIMIT 1
        )
        SELECT CAST(generate_subscripts(path, 1) AS INT) AS pos,
               unnest(path) AS node
        FROM best
    """


# ---------------------------------------------------------------------------
# Dedup + text analysis (LLM-pipeline operators; BASELINE.json north star)
# ---------------------------------------------------------------------------


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _registry(spark, sf_dir).table("documents")


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _registry(spark, sf_dir).table("events")


def _q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.exact_duplicate_groups(
        _registry(spark, sf_dir).table("part"), id_col="p_partkey", text_col="p_name"
    )


def _q_dedup_unicode_nfc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # canonical-equivalence dedup: every 10th document rendered two
    # ways (precomposed U+00E1 vs a+combining U+0301) — byte-level md5
    # sees distinct texts, md5(NFC(text)) groups each pair; oracle
    # replays the identical variant corpus through DuckDB nfc_normalize
    docs = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") % 10 == 0)
        .select("doc_id", "text")
    )
    pre = docs.select(
        (F.col("doc_id") * 2).alias("doc_id"),
        F.regexp_replace("text", "a", "\u00e1").alias("text"),
    )
    dec = docs.select(
        (F.col("doc_id") * 2 + 1).alias("doc_id"),
        F.regexp_replace("text", "a", "a\u0301").alias("text"),
    )
    return dd.unicode_duplicate_groups(pre.unionByName(dec))


def _q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # max_bucket=2 is the band hot-bucket guard (VERDICT r6 item 2 —
    # the embedding-LSH sf1 fix ported to MinHash banding), deliberately
    # BINDING at sf0.01 (largest band bucket there is 3) so the oracle's
    # replay of the cap is proven non-vacuous, not just syntactically
    # present. At corpus scale the cap would be O(100s); binding it on
    # the fixture's duplicate clusters exercises the honest recall
    # tradeoff on both engines identically.
    return dd.minhash_near_duplicates(
        _docs(spark, sf_dir), threshold=0.5, max_bucket=2
    ).withColumn("jaccard", F.round("jaccard", 6))


def _q_dedup_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fractional df cut (the winnowing sf1 saturation fix): effective
    # cap = max(100, floor(0.2 * n_docs)) — kills quadratic hot keys at
    # any corpus size without the fixed-cap collapse; oracle replays
    # the identical expression
    return dd.ngram_jaccard_pairs(
        _docs(spark, sf_dir), threshold=0.5, max_df=100, max_df_frac=0.2
    ).withColumn("jaccard", F.round("jaccard", 6))


def _q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.simhash_near_duplicates(_docs(spark, sf_dir), max_hamming=2)


def _q_dedup_simhash_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    # identical output to _q_dedup_simhash (same oracle gates both), but
    # the pair space is pruned by exact pigeonhole banding — the 100-TB path
    return dd.simhash_near_duplicates_banded(_docs(spark, sf_dir), max_hamming=2)


def _q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # approximate recall by design, but ORACLE-gated (late r4): the
    # oracle replays the same T*p inlined planes + exact verify. Its
    # parameters (threshold=0.7, dim=64, n_planes=6, n_tables=6,
    # seed=42, max_bucket=200) are mirrored in the
    # oracle.embedding_lsh_oracle_sql call — keep both sides in
    # lockstep. Precision 1.0 — every candidate verified. max_bucket
    # (r5, from the sf1 spot-check, SCALE.md) is the hot-bucket guard:
    # a single near-collinear cluster made candidate volume grow
    # quadratically (85 s at sf1 uncapped vs 3 s capped); the cap is
    # replayed in the oracle so the hash gate stays exact at any sf.
    return dd.embedding_near_duplicates_lsh(
        _registry(spark, sf_dir).table("embeddings"),
        threshold=0.7,
        dim=64,
        max_bucket=200,
    ).withColumn("score", F.round("score", 6))


def _q_dedup_embedding_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the cluster-then-pair (SemDeDup-shape) approximate twin. ORACLE-
    # gated as of r6: with replayable-trainer centroids the cluster
    # boundaries (and therefore the emitted pair set) are deterministic,
    # so oracle.dedup_embedding_ivf_oracle_sql replays assignment +
    # within-cluster pairing + exact cosine verify. Parameters
    # (threshold=0.7, n_centroids=16, iters=8) hardcoded THERE.
    emb = _registry(spark, sf_dir).table("embeddings")
    cents = knn_mod.train_centroids_ordered(
        emb, id_col="vec_id", vec_col="embedding", n_centroids=16, iters=8
    )
    return dd.embedding_near_duplicates_ivf(
        emb, threshold=0.7, centroids=cents
    ).withColumn("score", F.round("score", 6))


def _q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    # SemDeDup (Abbas et al. 2023): cluster-then-PRUNE — unlike the
    # pair-emitting dedup_embedding_ivf this returns the per-document
    # decision frame (keep = not duplicated by a lower-centroid-sim
    # member of the same salt cell). Replayable-trainer centroids make
    # rank, salt split, and prune set deterministic, so the whole frame
    # hash-gates via oracle.semdedup_oracle_sql (threshold=0.7,
    # n_centroids=16, iters=8, max_cluster=20 pinned THERE; the 20-cap
    # exercises the oversize-cluster salting on the 500-row fixture).
    emb = _registry(spark, sf_dir).table("embeddings")
    cents = knn_mod.train_centroids_ordered(
        emb, id_col="vec_id", vec_col="embedding", n_centroids=16, iters=8
    )
    return dd.semdedup(
        emb, threshold=0.7, centroids=cents, max_cluster=20
    )


def _q_stream_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    # incremental SemDeDup (r9): embeddings delivered in TWO id-ordered
    # increments against a FROZEN centroid tensor; each delivery runs
    # the within-batch keep rule, then prunes new keepers that
    # duplicate a STORED keeper of their cluster (arrival priority —
    # admitted docs are irreversible). The accumulated decision frame
    # must hash-match oracle.semdedup_stream_oracle_sql, which replays
    # both rules plus the id-split from the same replayed centroids.
    import shutil
    import tempfile

    from project_cortex_spark.streaming import semdedup as stream_sd

    emb = _registry(spark, sf_dir).table("embeddings")
    cents = knn_mod.train_centroids_ordered(
        emb, id_col="vec_id", vec_col="embedding", n_centroids=16, iters=8
    )
    mid = emb.agg(F.max("vec_id")).first()[0] // 2
    scratch = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "spark-warehouse"
    )
    os.makedirs(scratch, exist_ok=True)
    base = tempfile.mkdtemp(prefix="semdd_", dir=scratch)
    in_dir = os.path.join(base, "incoming")
    store = os.path.join(base, "keepers")
    dec = os.path.join(base, "decisions")
    ckpt = os.path.join(base, "ckpt")
    try:
        for lo, hi in ((None, mid), (mid, None)):  # id-ordered deliveries
            part = emb
            if lo is not None:
                part = part.filter(F.col("vec_id") >= lo)
            if hi is not None:
                part = part.filter(F.col("vec_id") < hi)
            part.coalesce(1).write.mode("append").parquet(in_dir)
            with stream_source.scoped_state_partitions(
                spark, _STREAM_STATE_PARTITIONS
            ):
                q = stream_sd.continuous_semdedup(
                    spark,
                    in_dir,
                    emb.schema,
                    store_dir=store,
                    decisions_dir=dec,
                    checkpoint_dir=ckpt,
                    centroids=cents,
                    threshold=0.7,
                )
                q.awaitTermination()
        return stream_sd.read_decisions(spark, dec).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


_MIX_KEEP = (("src0", 0.5), ("src1", 0.25))


def _q_corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_mod.hash_split(_docs(spark, sf_dir))


def _q_corpus_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_mod.weighted_mix(
        _docs(spark, sf_dir), keep_fractions=dict(_MIX_KEEP)
    )


def _q_corpus_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return corpus_mod.decontaminate(docs, bench, ngram=8)


def _q_corpus_sample_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_mod.sample_per_key(_docs(spark, sf_dir), key_col="lang", k=25)


def _q_corpus_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # quality-weighted soft filter: the weight column is the oracle-gated
    # quality score, the coin flip a deterministic hash bucket
    scored = ts.quality_scores(_docs(spark, sf_dir))
    return corpus_mod.importance_sample(
        scored, weight_col="quality", scale=1.2
    ).select("doc_id", "quality")


def _q_corpus_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    # exactly-25-per-language weighted sample (Efraimidis–Spirakis A-Res,
    # hash-is-the-randomness): weight = the oracle-gated quality score
    docs = _docs(spark, sf_dir)
    scored = docs.join(
        ts.quality_scores(docs).select("doc_id", "quality"), "doc_id"
    )
    return corpus_mod.weighted_sample_per_key(
        scored, key_col="lang", weight_col="quality", k=25
    ).select("doc_id", "lang", "quality", "sample_key", "sample_rank")


def _q_corpus_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-source quality-quartile curriculum stages (ntile: partition-
    # local sort, no global sort); weight = the oracle-gated quality
    docs = _docs(spark, sf_dir)
    scored = docs.join(
        ts.quality_scores(docs).select("doc_id", "quality"), "doc_id"
    )
    return corpus_mod.curriculum_stages(
        scored, key_col="source", quality_col="quality", n_stages=4
    ).select("doc_id", "source", "quality", "stage")


def _q_corpus_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    # near-dup train/eval contamination: every 97th doc acts as the
    # benchmark; graded distinct-shingle containment with a df cap
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return corpus_mod.contamination_pairs(
        docs, bench, ngram=3, threshold_e4=450, max_df=50
    ).filter(F.col("doc_id") != F.col("bench_id"))


def _q_corpus_fuzzy_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the survivor set of the graded near-dup decontamination (benchmark
    # = every 97th doc; benchmark members themselves are contaminated by
    # construction at containment 10000)
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    return corpus_mod.fuzzy_decontaminate(
        docs, bench, ngram=3, threshold_e4=450, max_df=50
    ).select("doc_id")


def _q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    return corpus_mod.shuffle_shards(
        _docs(spark, sf_dir), seed="epoch0", shards=8
    ).select("doc_id", "shard", "pos")


# PII-redaction contract: the synthetic docs contain no PII, so the
# contract enriches each row with a deterministic email / IPv4 / phone /
# SSN-shaped suffix derived from doc_id — IDENTICAL expression on both
# sides — and the operator must find and redact exactly those.
_PII_SUFFIX_SQL = (
    "text || ' contact user' || doc_id || '@mail' || (doc_id % 7) "
    "|| '.example.com from 10.' || (doc_id % 256) || '.0.' || (doc_id % 100) "
    "|| ' call 555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0') || '-' "
    "|| lpad(((doc_id * 7) % 10000)::VARCHAR, 4, '0') "
    "|| ' ref 123-45-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')"
)


def _q_text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    enriched = F.concat(
        F.col("text"),
        F.lit(" contact user"), d.cast("string"),
        F.lit("@mail"), (d % 7).cast("string"),
        F.lit(".example.com from 10."), (d % 256).cast("string"),
        F.lit(".0."), (d % 100).cast("string"),
        F.lit(" call 555-"), F.lpad((d % 1000).cast("string"), 3, "0"),
        F.lit("-"), F.lpad(((d * 7) % 10000).cast("string"), 4, "0"),
        F.lit(" ref 123-45-"), F.lpad((d % 10000).cast("string"), 4, "0"),
    )
    return ts.redact_pii(docs.withColumn("text", enriched))


# The synthetic documents are single-line prose with no terminal
# punctuation, so the C4 contract synthesizes a deterministic 5-line
# page per doc — IDENTICAL expression on both sides: a keepable header
# sentence, a javascript/cookie boilerplate line, a too-short line, a
# tail line whose terminal punctuation depends on doc_id parity, and a
# code-brace line. The operator must keep exactly {header} (+ {tail}
# for even ids), so the document-level verdict alternates by parity.
_C4_PAGE_SQL = (
    "substr(text, 1, 80) || ' end.' || chr(10) "
    "|| 'please enable javascript and cookies.' || chr(10) "
    "|| 'too short.' || chr(10) "
    "|| substr(text, 81, 60) || ' tail words added here' "
    "|| CASE WHEN doc_id % 2 = 0 THEN '!' ELSE '' END || chr(10) "
    "|| '{ \"k\": ' || doc_id || ' }'"
)


def _q_text_c4_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    d = F.col("doc_id")
    page = F.concat(
        F.substring(F.col("text"), 1, 80), F.lit(" end.\n"),
        F.lit("please enable javascript and cookies.\n"),
        F.lit("too short.\n"),
        F.substring(F.col("text"), 81, 60), F.lit(" tail words added here"),
        F.when(d % 2 == 0, F.lit("!")).otherwise(F.lit("")),
        F.lit('\n{ "k": '), d.cast("string"), F.lit(" }"),
    )
    return ts.c4_clean(docs.withColumn("text", page))


def _q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = dd.minhash_near_duplicates(_docs(spark, sf_dir), threshold=0.5)
    return dd.duplicate_clusters(pairs.select("a", "b"))


def _q_corpus_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    # LEAKAGE-SAFE split: near-dup clusters (the gated minhash pair +
    # component machinery) assign as a unit — twins can never straddle
    # train/val. The oracle replays the closure + rep hash end-to-end.
    docs = _docs(spark, sf_dir)
    pairs = dd.minhash_near_duplicates(docs, threshold=0.5)
    clusters = dd.duplicate_clusters(pairs.select("a", "b"))
    return corpus_mod.cluster_split(docs, clusters)


def _q_dedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the end-user dedup API composed end-to-end: near-dup pairs ->
    # connected components -> drop every non-canonical member; output
    # is the surviving corpus (ids + sizes), gated as ONE query
    docs = _docs(spark, sf_dir)
    pairs = dd.minhash_near_duplicates(docs, threshold=0.5).select("a", "b")
    drops = (
        dd.duplicate_clusters(pairs)
        .filter(~F.col("keep"))
        .select("doc_id")
    )
    return docs.join(drops, "doc_id", "left_anti").select("doc_id", "n_chars")


_DEDUP_PRUNE_ORACLE_TMPL = """
    SELECT d.doc_id, d.n_chars FROM documents d
    WHERE NOT EXISTS (
      SELECT 1 FROM ({clusters}) c
      WHERE c.doc_id = d.doc_id AND NOT c.keep
    )
"""


def _q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dd.embedding_near_duplicates(
        _registry(spark, sf_dir).table("embeddings"), threshold=0.7
    ).withColumn("score", F.round("score", 6))


# ---------------------------------------------------------------------------
# Build pipeline (SURVEY §2.9) — simulated fs/index states over documents
# ---------------------------------------------------------------------------


def _pipeline_states(spark: SparkSession, sf_dir: str):
    docs = _docs(spark, sf_dir)
    return cd.simulated_fs_state(docs), cd.simulated_indexed_state(docs)


def _q_change_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    fs, idx = _pipeline_states(spark, sf_dir)
    return cd.detect_changes(fs, idx)


def _q_apply_changeset(spark: SparkSession, sf_dir: str) -> DataFrame:
    fs, idx = _pipeline_states(spark, sf_dir)
    return sink_mod.apply_changeset(fs, idx)


def _q_branch_fork(spark: SparkSession, sf_dir: str) -> DataFrame:
    fs, idx = _pipeline_states(spark, sf_dir)
    changed = cd.detect_changes(fs, idx).filter(F.col("status") != "unchanged")
    return cd.fork_branch(idx, changed)


def _q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunks_mod.chunk_fixed_tokens(_docs(spark, sf_dir), tokens_per_chunk=32)


def _q_chunk_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    return chunks_mod.assemble_code_chunks(_docs(spark, sf_dir))


def _q_embed_stub(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deterministic hash provider (D7); the VALUES are not SQL-expressible
    # but the contract is: one embedding per chunk, fixed dim, unit norm —
    # which the oracle below verifies through the hash compare
    chunks = chunks_mod.assemble_code_chunks(_docs(spark, sf_dir))
    out = embed_mod.embed_chunks(chunks, dim=64)
    return out.select(
        "chunk_id",
        F.size("embedding").alias("dim"),
        F.round(
            F.sqrt(F.aggregate("embedding", F.lit(0.0), lambda a, x: a + x * x)), 4
        ).alias("l2_norm"),
    )


# ---------------------------------------------------------------------------
# Discovery scan (S1/S2) over this package's own sources, and
# exceed-parity aggregates (SURVEY §2.4 note: rollup/cube for free)
# ---------------------------------------------------------------------------

_SRC_DIR = "/root/repo/project_cortex_spark"


def _q_file_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # independent of sf_dir: scans this package's own source files
    return files_src.file_stats(
        files_src.discover_files(spark, _SRC_DIR, glob="*.py")
    ).drop("is_text")


def _source_stats(df: DataFrame) -> DataFrame:
    # per-source aggregate whose values survive a lossless round-trip
    # bit-exactly: counts and integer sums only
    return df.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("sum_chars"),
        F.sum(F.length("text")).cast("bigint").alias("sum_text_len"),
    )


_SOURCE_STATS_ORACLE = """
    SELECT source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars,
           CAST(sum(length(text)) AS BIGINT) AS sum_text_len
    FROM documents GROUP BY source
"""


def _export_dir(sf_dir: str, fmt: str) -> str:
    import hashlib

    tag = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    return f"/tmp/pcx_export_{tag}/{fmt}"


def _q_source_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ingestion-format contract: documents -> JSONL shards -> read back
    # with an explicit schema -> per-source stats. The oracle aggregates
    # the ORIGINAL parquet, so any loss in the round trip hash-fails.
    docs = _docs(spark, sf_dir)
    out = _export_dir(sf_dir, "jsonl")
    textfmt.write_jsonl(docs, out)
    return _source_stats(textfmt.read_jsonl(spark, out, docs.schema))


def _q_source_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same contract over RFC 4180 CSV (quoted text with spaces survives)
    docs = _docs(spark, sf_dir)
    out = _export_dir(sf_dir, "csv")
    textfmt.write_csv(docs, out)
    return _source_stats(textfmt.read_csv(spark, out, docs.schema))


def _q_source_gzip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # compressed-text ingestion contract: documents -> gzipped JSONL
    # shards (the wire format of most web-scale text dumps — Common
    # Crawl WET/CC-News style) -> read back. Spark's codec layer
    # handles .json.gz natively on BOTH sides, so this proves the
    # end-to-end compressed path (including that .gz shards are
    # NOT splittable-corrupted by the reader) with the same lossless
    # stats oracle as the other format contracts. Scale note: gzip
    # shards are whole-file tasks — shard count, not byte count, is
    # the parallelism unit; keep shards ~100 MB-1 GB in production.
    import glob as _g

    docs = _docs(spark, sf_dir)
    out = _export_dir(sf_dir, "jsonl_gz")
    docs.write.mode("overwrite").option("compression", "gzip").json(out)
    assert _g.glob(os.path.join(out, "*.json.gz")), "expected .json.gz shards"
    return _source_stats(spark.read.schema(docs.schema).json(out))


def _q_source_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same lossless-trip contract over ORC — Spark's second native
    # columnar format (a lakehouse ingest regularly receives it); the
    # write/read is the built-in codepath, so the contract proves
    # schema + value fidelity through the format, not custom code
    docs = _docs(spark, sf_dir)
    out = _export_dir(sf_dir, "orc")
    docs.write.mode("overwrite").orc(out)
    return _source_stats(spark.read.schema(docs.schema).orc(out))


def _q_source_tar_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # WebDataset-style tar shards (the multimodal training-sample
    # format): documents -> <key>.txt + <key>.json members in
    # deterministic shards -> read back, re-assemble rows from members,
    # same lossless per-source stats as the other format contracts.
    from project_cortex_spark.sources import tar_shards

    docs = _docs(spark, sf_dir)
    out = _export_dir(sf_dir, "tar")
    staged = docs.select(
        "doc_id",
        "text",
        F.to_json(F.struct("lang", "source", "n_chars")).alias("meta"),
    )
    tar_shards.write_tar_shards(
        staged, out, key_col="doc_id", members={"txt": "text", "json": "meta"}
    )
    back = tar_shards.read_tar_shards(
        spark, out, members={"txt": "text", "json": "meta"}
    )
    meta = F.from_json(
        F.col("meta"), "lang string, source string, n_chars long"
    )
    rebuilt = back.select(
        F.col("sample_key").cast("long").alias("doc_id"),
        "text",
        meta.getField("source").alias("source"),
        meta.getField("n_chars").alias("n_chars"),
    )
    return _source_stats(rebuilt)


def _q_source_partitioned_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    # hive-layout contract: documents exported partitioned by lang
    # (layout.write_partitioned), read back through partition discovery,
    # same lossless per-source stats — the partition column survives the
    # directory round-trip (it lives in dir names, not files). Plan-level
    # pruning on such layouts is asserted in tests/test_layout.py.
    docs = _docs(spark, sf_dir)
    out = _export_dir(sf_dir, "hive")
    layout_mod.write_partitioned(docs, out, partition_cols=["lang"])
    back = spark.read.parquet(out).select(*docs.columns)
    return _source_stats(back)


def _snapshot_entities(spark: SparkSession) -> DataFrame:
    # FROZEN snapshot of 9 representative repo modules (1,326 lines of
    # real-world PySpark code), copied at freeze time by
    # scripts/freeze_snapshot_corpus.py — later edits to the live tree
    # don't move the goldens (VERDICT r6 item 4, the multilang trick)
    from project_cortex_spark.pipeline.snapshot_corpus import SNAPSHOT_FILES

    files = spark.createDataFrame(
        [(p, bytearray(s.encode())) for p, s in SNAPSHOT_FILES],
        "file_path string, content binary",
    )
    return parse_mod.parse_entities(files)


def _q_parse_entities(spark: SparkSession, sf_dir: str) -> DataFrame:
    # python-ast parse UDF (D3/G9) over the frozen snapshot corpus; the
    # extraction is deterministic, so the oracle is a golden VALUES
    # table — formerly a rows-only live-tree probe (VERDICT r6 item 4)
    return (
        _snapshot_entities(spark)
        .groupBy("file_path", "kind")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("start_line").alias("first_line"),
            F.max("end_line").alias("last_line"),
            F.sum("n_params").alias("sum_params"),
            F.sum("complexity").alias("sum_complexity"),
        )
    )


def _multilang_entities(spark: SparkSession) -> DataFrame:
    from project_cortex_spark.pipeline.fixtures import MULTILANG_FILES

    files = spark.createDataFrame(
        [(p, bytearray(s.encode())) for p, s in MULTILANG_FILES],
        "file_path string, content binary",
    )
    return parse_mod.parse_entities(files)


def _q_parse_multilang(spark: SparkSession, sf_dir: str) -> DataFrame:
    # multi-language parse (G9/D3: py via stdlib ast; go/ts/js via the
    # scanner parsers) over a FIXED corpus — the full extraction output
    # is deterministic, so the oracle is a golden VALUES table: any
    # parser drift (spans, params, complexity, receivers) fails the hash
    return (
        _multilang_entities(spark)
        .groupBy("file_path", "kind")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("start_line").alias("first_line"),
            F.max("end_line").alias("last_line"),
            F.sum("n_params").alias("sum_params"),
            F.sum("complexity").alias("sum_complexity"),
        )
    )


def _q_pattern_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cortex_pattern's SIGNATURE strictness tier hash-gated over the
    # multilang corpus — kind, name glob, arity bounds, methods_only
    # golden-pinned like the other four tiers (graph_pattern_search
    # exercises the same operator over the Python snapshot corpus)
    from project_cortex_spark.operators import graph as graph_mod

    ents = _multilang_entities(spark)
    parts = []
    for pid, kwargs in (
        ("fn_a2", dict(kind="function", min_params=2)),
        ("methods", dict(methods_only=True, name_like="a%")),
        ("init_like", dict(name_like="%init%")),
    ):
        parts.append(
            graph_mod.pattern_search(ents, **kwargs)
            .select("file_path", "kind", "name", "start_line", "n_params")
            .withColumn("pattern_id", F.lit(pid))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _q_type_usages_params(spark: SparkSession, sf_dir: str) -> DataFrame:
    # G5 over REAL parsed parameter types (param + return rows), not the
    # synthetic-table stand-in: functions whose signature mentions the
    # Item type across the multi-language corpus (searcher_sql.go:536-560)
    ents = _multilang_entities(spark)
    fid = F.concat_ws(":", "file_path", "name")
    functions = ents.filter(F.col("kind") == "function").select(
        fid.alias("function_id"), "name", "file_path"
    )
    params = ents.filter(F.col("kind") == "param").select(
        F.concat_ws(":", "file_path", "parent").alias("function_id"),
        "param_type",
    )
    return graph_mod.type_usages(functions, params, "%Item%")


def _q_chunk_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    # D6 structure-aware chunking (header/paragraph/fence/sentence
    # cascade, chunker.go:31-333 semantics) over a FIXED doc; the output
    # is deterministic, so the oracle is a golden VALUES table — chunk
    # text is verified through md5 to keep the literal compact
    from project_cortex_spark.pipeline.fixtures import MD_SRC

    files = spark.createDataFrame([("guide.md", MD_SRC)], "file_path string, text string")
    return chunks_mod.chunk_markdown(files, target_tokens=80).select(
        "chunk_id", "section_idx", "chunk_idx",
        F.md5("chunk_text").alias("text_md5"),
        "start_line", "end_line", "n_tokens", "is_split",
    )


def _q_graph_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    # graph context extraction (searcher_sql.go:662-707): every function
    # result carries a ±2-line source snippet. The snippet computation is
    # REAL on both sides — Spark split/slice/array_join vs DuckDB
    # string_split/list slice — over the same fixture file contents.
    from project_cortex_spark.pipeline.fixtures import MULTILANG_FILES

    ents = _multilang_entities(spark)
    # start_line in the id disambiguates same-named functions (a trait
    # signature and its impl, an interface method and its class override)
    fns = ents.filter(F.col("kind") == "function").select(
        F.concat_ws(":", "file_path", "name", "start_line").alias("function_id"),
        "file_path",
        "start_line",
        "end_line",
    )
    files = spark.createDataFrame(
        MULTILANG_FILES, "file_path string, content string"
    )
    return graph_mod.with_context(fns, files, context_lines=2).select(
        "function_id", "file_path", "start_line", "end_line", "context"
    )


_GRAPH_CTX_SPANS = """\
          ('cache.rs:evict:10','cache.rs',10,10),
          ('cache.rs:evict:23','cache.rs',23,25),
          ('cache.rs:insert:14','cache.rs',14,19),
          ('cursor.rb:advance:11','cursor.rb',11,14),
          ('cursor.rb:initialize:7','cursor.rb',7,9),
          ('cursor.rb:make_cursor:18','cursor.rb',18,20),
          ('demo.py:greet:12','demo.py',12,15),
          ('demo.py:helper:6','demo.py',6,7),
          ('demo.py:main:17','demo.py',17,19),
          ('ledger.java:Ledger:9','ledger.java',9,11),
          ('ledger.java:credit:13','ledger.java',13,18),
          ('ledger.java:record:22','ledger.java',22,22),
          ('memstore.php:put:13','memstore.php',13,20),
          ('pool.js:constructor:5','pool.js',5,7),
          ('pool.js:makePool:15','pool.js',15,17),
          ('pool.js:take:9','pool.js',9,12),
          ('slot.c:probe:12','slot.c',12,19),
          ('srv.go:Addr:41','srv.go',41,43),
          ('srv.go:NewConfig:31','srv.go',31,39),
          ('srv.go:validate:45','srv.go',45,47),
          ('store.ts:add:20','store.ts',20,24),
          ('store.ts:constructor:18','store.ts',18,18),
          ('store.ts:inc:38','store.ts',38,38),
          ('store.ts:lookup:27','store.ts',27,32),
          ('store.ts:scale:34','store.ts',34,36)"""


def _graph_context_oracle() -> str:
    # the file contents ride into DuckDB as VALUES; the snippet logic is
    # genuine SQL string ops (only the function SPANS are golden — they
    # are independently gated by pipeline_parse_multilang)
    from project_cortex_spark.pipeline.fixtures import MULTILANG_FILES

    files_values = ",\n".join(
        "('{}', '{}')".format(p, s.replace("'", "''"))
        for p, s in MULTILANG_FILES
    )
    return f"""
        WITH files(file_path, content) AS (VALUES {files_values}),
        fns(function_id, file_path, start_line, end_line) AS (VALUES
          {_GRAPH_CTX_SPANS}),
        x AS (
          SELECT function_id, f.file_path, start_line, end_line,
                 string_split(content, chr(10)) AS ls
          FROM fns JOIN files f USING (file_path)
        ),
        y AS (
          SELECT *, greatest(1, start_line - 2) AS a,
                 least(len(ls), end_line + 2) AS b
          FROM x
        )
        SELECT function_id, file_path, start_line, end_line,
               '// Lines ' || a || '-' || b || chr(10) ||
               array_to_string(ls[a:b], chr(10)) AS context
        FROM y
    """


_RETENTION_NOW_US = 1_000 * 86_400 * 1_000_000


def _q_retention_evict(spark: SparkSession, sf_dir: str) -> DataFrame:
    # branch-eviction policy (cache/eviction.go:48-135) over synthetic
    # branch metadata derived deterministically from documents: branch =
    # 'b'||(doc_id%40); last_accessed = day (doc_id%97); size = Σ n_chars/1000.
    # The oracle replays the reference's LITERAL sequential walk as a
    # recursive CTE — mechanically different from the Spark window form.
    from project_cortex_spark.operators import retention

    docs = _docs(spark, sf_dir)
    meta = docs.groupBy(
        F.concat(F.lit("b"), (F.col("doc_id") % 40)).alias("branch")
    ).agg(
        (F.max(F.col("doc_id") % 97) * 86_400 * 1_000_000).alias(
            "last_accessed_us"
        ),
        (F.sum("n_chars") / 1000.0).alias("size_mb"),
    )
    live = [f"b{i}" for i in range(40) if i % 7 != 0]  # every 7th deleted
    return retention.evict_stale_branches(
        meta,
        live_branches=live,
        now_us=_RETENTION_NOW_US,
        max_age_days=908,  # ages span 904-914 days: ~half stale
        max_size_mb=70.0,  # below post-stale total: LRU size rule fires
        protect=("b1", "b2"),
    ).withColumn("size_mb", F.round("size_mb", 6))


def _retention_oracle() -> str:
    live = ", ".join(f"'b{i}'" for i in range(40) if i % 7 != 0)
    return f"""
        WITH RECURSIVE meta AS (
          SELECT 'b' || (doc_id % 40) AS branch,
                 max(doc_id % 97) * 86400000000 AS last_accessed_us,
                 sum(n_chars) / 1000.0 AS size_mb
          FROM documents GROUP BY 1
        ),
        total AS (SELECT sum(size_mb) AS t FROM meta),
        cand AS (
          SELECT *,
                 branch NOT IN ({live}) AS deleted,
                 {_RETENTION_NOW_US} - last_accessed_us
                   > 908 * 86400000000 AS stale,
                 row_number() OVER (
                   ORDER BY (branch NOT IN ({live})) DESC,
                            last_accessed_us ASC, branch ASC
                 ) AS rn
          FROM meta WHERE branch NOT IN ('b1', 'b2')
        ),
        -- the reference's sequential walk, literally: carry the running
        -- total forward row by row, decrementing on each eviction
        walk(rn, running, evict, reason) AS (
          SELECT c.rn,
                 (SELECT t FROM total)
                   - CASE WHEN c.deleted OR c.stale
                               OR (SELECT t FROM total) > 70.0
                          THEN c.size_mb ELSE 0 END,
                 c.deleted OR c.stale OR (SELECT t FROM total) > 70.0,
                 CASE WHEN c.deleted THEN 'deleted'
                      WHEN c.stale THEN 'stale' ELSE 'size' END
          FROM cand c WHERE c.rn = 1
          UNION ALL
          SELECT c.rn,
                 w.running - CASE WHEN c.deleted OR c.stale
                                       OR w.running > 70.0
                                  THEN c.size_mb ELSE 0 END,
                 c.deleted OR c.stale OR w.running > 70.0,
                 CASE WHEN c.deleted THEN 'deleted'
                      WHEN c.stale THEN 'stale' ELSE 'size' END
          FROM walk w JOIN cand c ON c.rn = w.rn + 1
        )
        SELECT c.branch, w.reason, round(c.size_mb, 6) AS size_mb,
               c.last_accessed_us
        FROM walk w JOIN cand c USING (rn)
        WHERE w.evict
    """


def _q_pattern_ast(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cortex_pattern's STRUCTURAL tier (metavariable AST matching, not
    # just the signature tier) over the fixed corpus; deterministic
    # output -> golden oracle
    from project_cortex_spark.operators import astpattern
    from project_cortex_spark.pipeline.fixtures import MULTILANG_FILES

    files = spark.createDataFrame(
        MULTILANG_FILES, "file_path string, content string"
    )
    return astpattern.pattern_search_ast(
        files, "$F($X) + $Y", strictness="smart"
    ).select("file_path", "start_line", "end_line", "n_bindings")


def _q_pattern_ast_multilang(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cortex_pattern's structural tier BEYOND Python (VERDICT r5 item 4):
    # token-stream metavariable matching with $$$, name binding, and
    # smart-tier annotation skipping over Go and TypeScript sources
    # (reference: ast-grep --lang go/ts, internal/pattern/executor.go).
    # Deterministic matches over the fixed corpus -> golden oracle,
    # match text pinned by md5.
    from pyspark.sql import functions as F

    from project_cortex_spark.operators import astpattern
    from project_cortex_spark.pipeline.fixtures import MULTILANG_FILES

    files = spark.createDataFrame(
        MULTILANG_FILES, "file_path string, content string"
    )
    parts = []
    for pid, pat, lang in (
        ("go_if", "if $COND { $$$ }", "go"),
        ("go_method", "func ($R *Config) $NAME($$$) $RET {", "go"),
        ("ts_if", "if ($COND) { $$$ }", "typescript"),
    ):
        parts.append(
            astpattern.pattern_search_tokens(files, pat, language=lang)
            .withColumn("pattern_id", F.lit(pid))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "pattern_id",
        "file_path",
        "start_line",
        "end_line",
        "n_bindings",
        F.md5("matched").alias("match_md5"),
    )


def _q_pattern_cst(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cortex_pattern's cst (concrete-syntax-exact) strictness tier — the
    # last of the reference's five tiers (internal/pattern/executor.go:
    # 36-100): comments are concrete tokens and no smart-tier leniency
    # applies. Each pattern_id pins one divergence from the smart tier:
    # a comment between literals breaks a cst match but not a smart one;
    # TS type annotations must be spelled out; a literal comment pattern
    # finds TODO comments; the Python route runs on the token stream.
    # Deterministic matches over the fixed corpus -> golden oracle.
    from pyspark.sql import functions as F

    from project_cortex_spark.operators import astpattern
    from project_cortex_spark.pipeline.fixtures import CST_FILES

    files = spark.createDataFrame(
        CST_FILES, "file_path string, content string"
    )
    parts = []
    for pid, pat, lang, tier in (
        ("go_lit_smart", "track(1, 2)", "go", "smart"),
        ("go_lit_cst", "track(1, 2)", "go", "cst"),
        ("go_todo_cst", "// TODO drop retries", "go", "cst"),
        ("ts_fn_smart", "function lookup($A, $B) {", "typescript", "smart"),
        ("ts_fn_cst", "function lookup($A, $B) {", "typescript", "cst"),
        (
            "ts_fn_cst_full",
            "function lookup($A, $B): Item | undefined {",
            "typescript",
            "cst",
        ),
    ):
        parts.append(
            astpattern.pattern_search_tokens(
                files, pat, language=lang, strictness=tier
            ).withColumn("pattern_id", F.lit(pid))
        )
    parts.append(
        astpattern.pattern_search_ast(
            files, "log($X)  # audit", strictness="cst"
        ).withColumn("pattern_id", F.lit("py_audit_cst"))
    )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.select(
        "pattern_id",
        "file_path",
        "start_line",
        "end_line",
        "n_bindings",
        F.md5("matched").alias("match_md5"),
    )


def _q_pattern_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cortex_pattern's signature-strictness tier over the frozen
    # snapshot corpus; pattern_search orders by (file_path, start_line)
    # before the limit, so the output is fully deterministic and the
    # oracle is a golden VALUES table (VERDICT r6 item 4 — formerly a
    # rows-only live-tree probe)
    ents = _snapshot_entities(spark)
    return graph_mod.pattern_search(
        ents, kind="function", name_like="%search%", limit=50
    ).select("file_path", "kind", "name", "start_line", "end_line", "n_params")


def _q_agg_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape — the TWO-LEVEL aggregate (count-of-counts): how
    many customers placed exactly N orders, including the zero-order
    customers a plain join would lose (LEFT join + count of non-null
    keys). A distinct operator shape from any single groupBy: the second
    aggregate keys on the FIRST aggregate's value. Scale: level 1
    shuffles on custkey with map-side partials; level 2's input is one
    row per customer and its key cardinality is tiny (distinct order
    counts), so the second exchange is negligible — the classic
    aggregate-pyramid plan."""
    reg = _registry(spark, sf_dir)
    per_cust = (
        reg.table("customer")
        .join(
            reg.table("orders").filter(~F.col("o_orderpriority").startswith("1")),
            F.col("c_custkey") == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


_COUNT_DISTRIBUTION_ORACLE = """
    WITH per_cust AS (
      SELECT c_custkey, count(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority NOT LIKE '1%'
      GROUP BY c_custkey
    )
    SELECT c_count, count(*) AS custdist FROM per_cust GROUP BY c_count
"""


def _q_agg_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape — global argmax WITH ties: suppliers whose
    shipped revenue equals the corpus-wide maximum. The max is a
    single-row aggregate broadcast back as a filter (no window over the
    whole frame, no global sort): revenue agg shuffles on suppkey once,
    the 1-row max side cross-broadcasts. Ties survive exactly (Q15's
    defining subtlety — a LIMIT 1 would drop them)."""
    reg = _registry(spark, sf_dir)
    rev = (
        reg.table("lineitem")
        .filter(F.col("l_shipdate") >= F.lit("1996-01-01"))
        .groupBy("l_suppkey")
        .agg(F.round(F.sum("l_extendedprice"), 4).alias("total_revenue"))
    )
    mx = rev.agg(F.max("total_revenue").alias("_mx"))
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("_mx"))
        .join(F.broadcast(reg.table("supplier")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


_TOP_SUPPLIER_ORACLE = """
    WITH rev AS (
      SELECT l_suppkey, round(sum(l_extendedprice), 4) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue
    FROM rev JOIN supplier ON l_suppkey = s_suppkey
    WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
"""


_EXPECTATION_RULES = [
    {"type": "not_null", "col": "o_orderdate"},
    {"type": "range", "col": "o_totalprice", "lo": 0, "hi": 400000},
    {"type": "accepted_values", "col": "o_orderstatus", "values": ["O", "F"]},
    {"type": "regex", "col": "o_orderpriority", "pattern": "^[1-5]-"},
    {"type": "unique", "cols": ["o_orderkey"]},
    {"type": "unique", "cols": ["o_custkey"]},
]


def _q_validate_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate over orders: a mixed suite where some rules
    pass (unique key, regex, not-null, foreign key) and some count real
    violations (price cap, 'P' order status, repeated customers) — all
    three validator branches (row rules / uniqueness / referential)
    exercised under the oracle."""
    from project_cortex_spark.operators import validate as validate_mod

    reg = _registry(spark, sf_dir)
    rules = _EXPECTATION_RULES + [
        {
            "type": "references",
            "col": "o_custkey",
            "to": reg.table("customer"),
            "to_col": "c_custkey",
        }
    ]
    return validate_mod.check_expectations(reg.table("orders"), rules)


_EXPECTATIONS_ORACLE = """
    WITH rowrules AS (
      SELECT count(*) AS n_rows,
        CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT)
          AS v0,
        CAST(sum(CASE WHEN o_totalprice IS NOT NULL
                       AND (o_totalprice < 0 OR o_totalprice > 400000)
                      THEN 1 ELSE 0 END) AS BIGINT) AS v1,
        CAST(sum(CASE WHEN o_orderstatus IS NOT NULL
                       AND o_orderstatus NOT IN ('O', 'F')
                      THEN 1 ELSE 0 END) AS BIGINT) AS v2,
        CAST(sum(CASE WHEN o_orderpriority IS NOT NULL
                       AND NOT regexp_matches(o_orderpriority, '^[1-5]-')
                      THEN 1 ELSE 0 END) AS BIGINT) AS v3
      FROM orders
    ), uniq1 AS (
      SELECT count(*) AS c, o_orderkey IS NOT NULL AS k
      FROM orders GROUP BY o_orderkey
    ), uniq2 AS (
      SELECT count(*) AS c, o_custkey IS NOT NULL AS k
      FROM orders GROUP BY o_custkey
    ), rules AS (
      SELECT 'not_null(o_orderdate)' AS rule, v0 AS n_violations, n_rows
      FROM rowrules
      UNION ALL
      SELECT 'range(o_totalprice)', v1, n_rows FROM rowrules
      UNION ALL
      SELECT 'accepted_values(o_orderstatus)', v2, n_rows FROM rowrules
      UNION ALL
      SELECT 'regex(o_orderpriority)', v3, n_rows FROM rowrules
      UNION ALL
      SELECT 'unique(o_orderkey)',
             CAST(coalesce(sum(CASE WHEN c > 1 AND k THEN c - 1 END), 0)
                  AS BIGINT),
             CAST(sum(c) AS BIGINT)
      FROM uniq1
      UNION ALL
      SELECT 'unique(o_custkey)',
             CAST(coalesce(sum(CASE WHEN c > 1 AND k THEN c - 1 END), 0)
                  AS BIGINT),
             CAST(sum(c) AS BIGINT)
      FROM uniq2
      UNION ALL
      SELECT 'references(o_custkey)',
             (SELECT CAST(count(*) AS BIGINT) FROM orders o
              WHERE o.o_custkey IS NOT NULL
                AND o.o_custkey NOT IN (SELECT c_custkey FROM customer)),
             (SELECT count(*) FROM orders)
    )
    SELECT rule, n_violations, n_rows, n_violations = 0 AS passed FROM rules
"""


def _q_agg_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — the correlated-aggregate filter: keep a row
    only if its value is below a threshold derived from ITS OWN group's
    aggregate (small-quantity outlier revenue). De-correlated the way
    every engine plans it: the per-part average is its own aggregate
    joined back on the part key — at 100 TB the aggregate side is
    |parts| rows (map-side partials), and the join back is a plain hash
    join on the same key the aggregate produced."""
    li = _registry(spark, sf_dir).table("lineitem")
    pa = li.groupBy("l_partkey").agg(
        (F.avg("l_quantity") * 0.5).alias("half_avg")
    )
    return (
        li.join(pa, "l_partkey")
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 4).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


_TPCH_Q17_ORACLE = """
    WITH pa AS (
      SELECT l_partkey, 0.5 * avg(l_quantity) AS half_avg
      FROM lineitem GROUP BY 1
    )
    SELECT round(sum(l_extendedprice) / 7.0, 4) AS avg_yearly,
           count(*) AS n_items
    FROM lineitem JOIN pa USING (l_partkey)
    WHERE l_quantity < half_avg
"""


def _q_agg_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape — the aggregate-join-back: find keys whose
    aggregate crosses a threshold (HAVING), then join the key set back
    to the detail tables for the report. The big-order key set is tiny
    after the HAVING cut, so the join back is a broadcast semi shape;
    the second aggregate re-derives per-order totals only for
    survivors."""
    reg = _registry(spark, sf_dir)
    li = reg.table("lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 4).alias("total_qty"))
        .filter(F.col("total_qty") > 210)
    )
    return (
        reg.table("orders")
        .join(F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey"))
        .join(
            F.broadcast(reg.table("customer")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            "c_custkey", "c_name", "o_orderkey",
            F.unix_micros("o_orderdate").alias("o_orderdate_us"),
            "o_totalprice", "total_qty",
        )
    )


_TPCH_Q18_ORACLE = """
    WITH big AS (
      SELECT l_orderkey, round(sum(l_quantity), 4) AS total_qty
      FROM lineitem GROUP BY 1 HAVING round(sum(l_quantity), 4) > 210
    )
    SELECT c_custkey, c_name, o_orderkey,
           epoch_us(o_orderdate) AS o_orderdate_us,
           o_totalprice, total_qty
    FROM orders
    JOIN big ON o_orderkey = l_orderkey
    JOIN customer ON o_custkey = c_custkey
"""


def _q_agg_tpch_q2_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape — the correlated-MIN subquery: for each part, the
    supplier(s) achieving the minimum unit price among suppliers of one
    region (the testdata has no partsupp table, so lineitem supplies the
    (part, supplier, price) relation; the SHAPE — min per correlation
    key, then equality back-join on (key, min) — is Q2's exactly).
    De-correlated as every engine plans it: a per-part min aggregate
    joined back on (partkey, price). Scale: the offer frame shuffles
    once on partkey for the aggregate, and the back-join reuses that
    key; region/nation/supplier dims broadcast.

    unit_price stays a RAW double: the same division is bit-identical
    in both engines, so the min-equality back-join agrees exactly,
    whereas round(x, 4) differs at half-way/ulp points between engines
    and would flip which offers tie for the minimum."""
    reg = _registry(spark, sf_dir)
    eu_sup = (
        reg.table("supplier")
        .join(
            reg.table("nation"),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(
            reg.table("region").filter(F.col("r_name") == "EUROPE"),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "n_name")
    )
    offers = (
        reg.table("lineitem")
        .join(F.broadcast(eu_sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "l_partkey",
            "s_suppkey",
            "s_name",
            "n_name",
            (F.col("l_extendedprice") / F.col("l_quantity")).alias(
                "unit_price"
            ),
        )
    )
    best = offers.groupBy("l_partkey").agg(
        F.min("unit_price").alias("min_price")
    ).select(
        F.col("l_partkey").alias("b_partkey"), "min_price"
    )
    return (
        offers.join(
            best,
            (F.col("l_partkey") == F.col("b_partkey"))
            & (F.col("unit_price") == F.col("min_price")),
        )
        .select(
            F.col("l_partkey").alias("p_key"),
            "s_suppkey",
            "s_name",
            "n_name",
            "min_price",
        )
        .distinct()
        .orderBy(F.col("min_price").asc(), F.col("p_key").asc(),
                 F.col("s_suppkey").asc())
        .limit(100)
    )


_TPCH_Q2_SHAPE_ORACLE = """
    WITH eu_sup AS (
      SELECT s_suppkey, s_name, n_name
      FROM supplier
      JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    ),
    offers AS (
      SELECT l_partkey, s_suppkey, s_name, n_name,
             l_extendedprice / l_quantity AS unit_price
      FROM lineitem JOIN eu_sup ON l_suppkey = s_suppkey
    ),
    best AS (
      SELECT l_partkey, min(unit_price) AS min_price
      FROM offers GROUP BY 1
    )
    SELECT DISTINCT o.l_partkey AS p_key, o.s_suppkey, o.s_name,
           o.n_name, b.min_price
    FROM offers o
    JOIN best b ON o.l_partkey = b.l_partkey
               AND o.unit_price = b.min_price
    ORDER BY b.min_price ASC, p_key ASC, o.s_suppkey ASC
    LIMIT 100
"""


def _q_agg_tpch_q21_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape — correlated EXISTS + NOT EXISTS with an
    inequality on the correlation alias: suppliers with a returned line
    (l_returnflag = 'R') in a multi-supplier order where NO OTHER
    supplier's line in that order was returned (the testdata lacks
    commit/receipt dates, so the return flag stands in for 'kept
    waiting'; the exists/not-exists-other-supplier skeleton is Q21's).
    Planned as LEFT SEMI then LEFT ANTI on l_orderkey with a
    l_suppkey <> correlate condition — both joins shuffle on the same
    orderkey, and the anti side is pre-filtered to returned lines so
    its build input is small. Scale: two same-key hash joins + one
    aggregate; no window, no distinct expansion."""
    reg = _registry(spark, sf_dir)
    li = reg.table("lineitem").select("l_orderkey", "l_suppkey", "l_returnflag")
    l1 = li.filter(F.col("l_returnflag") == "R")
    others = li.select(
        F.col("l_orderkey").alias("o_key"), F.col("l_suppkey").alias("o_sup")
    )
    returned_others = (
        li.filter(F.col("l_returnflag") == "R")
        .select(
            F.col("l_orderkey").alias("r_key"), F.col("l_suppkey").alias("r_sup")
        )
    )
    waiting = l1.join(
        others,
        (l1["l_orderkey"] == others["o_key"])
        & (l1["l_suppkey"] != others["o_sup"]),
        "leftsemi",
    ).join(
        returned_others,
        (l1["l_orderkey"] == returned_others["r_key"])
        & (l1["l_suppkey"] != returned_others["r_sup"]),
        "leftanti",
    )
    return (
        waiting.join(
            F.broadcast(reg.table("supplier")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_suppkey").asc())
        .limit(50)
    )


_TPCH_Q21_SHAPE_ORACLE = """
    SELECT s_suppkey, s_name, count(*) AS numwait
    FROM lineitem l1
    JOIN supplier ON l1.l_suppkey = s_suppkey
    WHERE l1.l_returnflag = 'R'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R'
      )
    GROUP BY s_suppkey, s_name
    ORDER BY numwait DESC, s_suppkey ASC
    LIMIT 50
"""


def _q_agg_tpch_q7_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape — the two-role dimension join: nation joins the
    fact twice under different roles (supplier's nation vs customer's
    nation), an OR'd pair filter keeps both directions of one trade
    lane, and revenue rolls up by (supp_nation, cust_nation, ship
    year). Scale: both nation sides and supplier broadcast (dims);
    lineitem-orders is the one real shuffle (orderkey); the customer
    join rides the orders side before it. Year extraction happens
    UNDER the UTC session contract the registry pins."""
    reg = _registry(spark, sf_dir)
    n1 = reg.table("nation").select(
        F.col("n_nationkey").alias("sn_key"),
        F.col("n_name").alias("supp_nation"),
    )
    n2 = reg.table("nation").select(
        F.col("n_nationkey").alias("cn_key"),
        F.col("n_name").alias("cust_nation"),
    )
    sup = (
        reg.table("supplier")
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("sn_key"))
        .select("s_suppkey", "supp_nation")
    )
    cust = (
        reg.table("customer")
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("cn_key"))
        .select("c_custkey", "cust_nation")
    )
    ords = (
        reg.table("orders")
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", "cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1")
        & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2")
        & (F.col("cust_nation") == "NATION_1")
    )
    return (
        reg.table("lineitem")
        .join(F.broadcast(sup), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(ords, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4
            ).alias("revenue")
        )
    )


_TPCH_Q7_SHAPE_ORACLE = """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l_shipdate) AS l_year,
           round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
       OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
    GROUP BY 1, 2, 3
"""


def _q_agg_tpch_q8_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape — conditional market share: the numerator is a
    CASE-gated slice of the same sum as the denominator (one nation's
    volume over everyone's), per order year, for one customer region
    and one part type. One aggregate computes both sums — no second
    scan, no self-join. Scale: part/supplier/nation/region broadcast;
    the orders-customer and lineitem-orders shuffles are the only
    exchanges, and the part filter prunes lineitem FIRST (the join to
    the filtered broadcast side is the predicate pushdown)."""
    reg = _registry(spark, sf_dir)
    promo_parts = reg.table("part").filter(F.col("p_type") == "PROMO").select(
        "p_partkey"
    )
    sup_nat = (
        reg.table("supplier")
        .join(
            F.broadcast(reg.table("nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("supp_nation"))
    )
    america_cust = (
        reg.table("customer")
        .join(
            F.broadcast(
                reg.table("nation").join(
                    F.broadcast(
                        reg.table("region").filter(F.col("r_name") == "AMERICA")
                    ),
                    F.col("n_regionkey") == F.col("r_regionkey"),
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    ords = (
        reg.table("orders")
        .join(F.broadcast(america_cust), F.col("o_custkey") == F.col("c_custkey"), "semi")
        .select("o_orderkey", F.year("o_orderdate").cast("long").alias("o_year"))
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        reg.table("lineitem")
        .join(F.broadcast(promo_parts), F.col("l_partkey") == F.col("p_partkey"), "semi")
        .join(F.broadcast(sup_nat), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(ords, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(
                        0.0
                    )
                )
                / F.sum(vol),
                6,
            ).alias("mkt_share")
        )
    )


_TPCH_Q8_SHAPE_ORACLE = """
    SELECT year(o_orderdate) AS o_year,
           round(
             sum(CASE WHEN n1.n_name = 'NATION_3'
                      THEN l_extendedprice * (1 - l_discount)
                      ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6) AS mkt_share
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    JOIN region ON n2.n_regionkey = r_regionkey
    WHERE r_name = 'AMERICA' AND p_type = 'PROMO'
    GROUP BY 1
"""


def _q_agg_tpch_q9_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape — profit by (nation, year) over a LIKE-filtered
    part set: revenue minus a per-unit cost, the cost here derived from
    p_retailprice (the testdata has no partsupp/supplycost; the
    LIKE-filter + multi-join + arithmetic-difference rollup is Q9's
    skeleton). Scale: the '%red%' part filter broadcasts (it cannot be
    pushed as a parquet predicate on the fact, but the semi-broadcast
    prunes lineitem before any shuffle); supplier-nation broadcasts;
    lineitem-orders shuffles once on orderkey."""
    reg = _registry(spark, sf_dir)
    red_parts = reg.table("part").filter(F.col("p_name").like("%red%")).select(
        "p_partkey", "p_retailprice"
    )
    sup_nat = (
        reg.table("supplier")
        .join(
            F.broadcast(reg.table("nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", F.col("n_name").alias("nation"))
    )
    ords = reg.table("orders").select(
        "o_orderkey", F.year("o_orderdate").cast("long").alias("o_year")
    )
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(
        0.6
    ) * F.col("p_retailprice") * F.col("l_quantity")
    return (
        reg.table("lineitem")
        .join(F.broadcast(red_parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(sup_nat), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(ords, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum(profit), 4).alias("sum_profit"))
    )


_TPCH_Q9_SHAPE_ORACLE = """
    SELECT n_name AS nation, year(o_orderdate) AS o_year,
           round(sum(l_extendedprice * (1 - l_discount)
                     - 0.6 * p_retailprice * l_quantity), 4) AS sum_profit
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN orders ON l_orderkey = o_orderkey
    WHERE p_name LIKE '%red%'
    GROUP BY 1, 2
"""


def _q_agg_tpch_q11_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape — HAVING against a global-scalar threshold: per
    part, the shipped value from one nation's suppliers, kept only when
    it exceeds a fixed fraction of the SAME frame's grand total. The
    scalar is a 1-row aggregate cross-broadcast back as a filter — the
    de-correlation every planner applies to Q11's subquery. Scale: one
    shuffle on partkey for the group-by; the grand total re-aggregates
    the group-by output (|parts| rows), not the fact. The threshold
    compare is raw-double but WITHIN each engine (each side computes
    its own total), so cross-engine 1-ulp sum drift cannot flip
    membership unless a part sits within ulp of the threshold —
    continuous prices make that measure-zero."""
    reg = _registry(spark, sf_dir)
    nat_sup = (
        reg.table("supplier")
        .join(
            F.broadcast(
                reg.table("nation").filter(F.col("n_name") == "NATION_7")
            ),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    vals = (
        reg.table("lineitem")
        .join(F.broadcast(nat_sup), F.col("l_suppkey") == F.col("s_suppkey"), "semi")
        .groupBy("l_partkey")
        .agg(F.sum("l_extendedprice").alias("value"))
    )
    total = vals.agg((F.sum("value") * 0.0002).alias("_threshold"))
    return (
        vals.join(F.broadcast(total))
        .filter(F.col("value") > F.col("_threshold"))
        .select("l_partkey", F.round("value", 4).alias("part_value"))
    )


_TPCH_Q11_SHAPE_ORACLE = """
    WITH vals AS (
      SELECT l_partkey, sum(l_extendedprice) AS value
      FROM lineitem
      WHERE l_suppkey IN (
        SELECT s_suppkey FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        WHERE n_name = 'NATION_7')
      GROUP BY 1
    )
    SELECT l_partkey, round(value, 4) AS part_value
    FROM vals
    WHERE value > (SELECT sum(value) * 0.0002 FROM vals)
"""


def _q_agg_tpch_q12_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape — priority-class CASE counts per category: join
    orders onto a date-sliced lineitem and pivot order priority into
    high/low counts per return-flag class (the testdata has no
    l_shipmode; the flag plays the mode's categorical role). Scale: the
    date slice prunes lineitem at the scan (pushed parquet predicate),
    the single shuffle is the orderkey join, and the two CASE sums are
    one map-side-partial aggregate."""
    reg = _registry(spark, sf_dir)
    li = reg.table("lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01"))
        & (F.col("l_shipdate") < F.lit("1998-01-01"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(
            reg.table("orders").select("o_orderkey", "o_orderpriority"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(F.col("l_returnflag").alias("ship_class"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
    )


_TPCH_Q12_SHAPE_ORACLE = """
    SELECT l_returnflag AS ship_class,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY 1
"""


def _q_agg_tpch_q14_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape — single-row conditional ratio over a month
    slice: promo revenue share = 100 * CASE-gated sum / total sum, both
    from ONE aggregate over one month of shipments. Scale: the month
    predicate is pushed to the parquet scan; part broadcasts; the
    1-row result needs no exchange beyond the final partial-merge."""
    reg = _registry(spark, sf_dir)
    li = reg.table("lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01"))
        & (F.col("l_shipdate") < F.lit("1996-10-01"))
    )
    vol = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(
            F.broadcast(reg.table("part").select("p_partkey", "p_type")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(
                    F.when(F.col("p_type").like("PROMO%"), vol).otherwise(0.0)
                )
                / F.sum(vol),
                6,
            ).alias("promo_revenue_pct")
        )
    )


_TPCH_Q14_SHAPE_ORACLE = """
    SELECT round(
             100.0 * sum(CASE WHEN p_type LIKE 'PROMO%'
                              THEN l_extendedprice * (1 - l_discount)
                              ELSE 0.0 END)
             / sum(l_extendedprice * (1 - l_discount)), 6)
           AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01'
      AND l_shipdate < TIMESTAMP '1996-10-01'
"""


def _q_agg_tpch_q16_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape — COUNT(DISTINCT) per attribute bucket with an
    excluded-supplier anti-join: distinct (part, supplier) pairs stand
    in for partsupp, negative-balance suppliers stand in for the
    complaints NOT IN, and the rollup counts distinct suppliers per
    (brand, type, size) for a brand/type/size-filtered part set.
    Scale: the pair-distinct shuffles once on (partkey, suppkey); the
    excluded-supplier set and the filtered part dim broadcast; the
    count-distinct re-shuffles only the surviving pairs."""
    reg = _registry(spark, sf_dir)
    pairs = reg.table("lineitem").select("l_partkey", "l_suppkey").distinct()
    parts = reg.table("part").filter(
        (F.col("p_brand") != "Brand#1")
        & (~F.col("p_type").like("MEDIUM%"))
        & (F.col("p_size").isin(1, 4, 9, 14, 19, 24, 29, 34, 39, 44, 49))
    )
    bad_sup = reg.table("supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        pairs.join(
            F.broadcast(bad_sup),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "anti",
        )
        .join(F.broadcast(parts), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


_TPCH_Q16_SHAPE_ORACLE = """
    SELECT p_brand, p_type, p_size,
           count(DISTINCT l_suppkey) AS supplier_cnt
    FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
    JOIN part ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1'
      AND p_type NOT LIKE 'MEDIUM%'
      AND p_size IN (1, 4, 9, 14, 19, 24, 29, 34, 39, 44, 49)
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY 1, 2, 3
"""


def _q_agg_tpch_q20_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape — correlated half-sum compare feeding a
    semi-join chain: per (supplier, qualifying part), keep pairs whose
    recent-year shipped quantity exceeds a fraction of their all-time
    quantity (availqty > 0.5 * shipped in the original; two aggregates
    of the same frame here), then semi-join the surviving suppliers and
    filter to one nation. Scale: one shuffle on (suppkey, partkey)
    computes BOTH sums via a CASE-gated aggregate (no self-join of two
    aggregates); the part-name filter broadcasts; supplier output is
    dim-sized. The fraction compare is exact: quantities are small
    integers in doubles, so both engines' sums are exact and the
    0.3 multiply is bit-identical."""
    reg = _registry(spark, sf_dir)
    small_parts = reg.table("part").filter(
        F.col("p_name").like("small%")
    ).select("p_partkey")
    recent = F.col("l_shipdate") >= F.lit("1997-01-01")
    recent_end = F.col("l_shipdate") < F.lit("1998-01-01")
    per_pair = (
        reg.table("lineitem")
        .join(F.broadcast(small_parts), F.col("l_partkey") == F.col("p_partkey"), "semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(
            F.sum(
                F.when(recent & recent_end, F.col("l_quantity")).otherwise(0.0)
            ).alias("qty_recent"),
            F.sum("l_quantity").alias("qty_total"),
        )
        .filter(F.col("qty_recent") > F.lit(0.3) * F.col("qty_total"))
    )
    nat_sup = reg.table("supplier").join(
        F.broadcast(reg.table("nation").filter(F.col("n_name") == "NATION_5")),
        F.col("s_nationkey") == F.col("n_nationkey"),
    )
    return (
        nat_sup.join(
            per_pair.select("l_suppkey").distinct(),
            F.col("s_suppkey") == F.col("l_suppkey"),
            "semi",
        )
        .select("s_suppkey", "s_name")
    )


_TPCH_Q20_SHAPE_ORACLE = """
    WITH per_pair AS (
      SELECT l_suppkey, l_partkey,
             sum(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                       AND l_shipdate < TIMESTAMP '1998-01-01'
                      THEN l_quantity ELSE 0.0 END) AS qty_recent,
             sum(l_quantity) AS qty_total
      FROM lineitem
      WHERE l_partkey IN (
        SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
      GROUP BY 1, 2
    )
    SELECT s_suppkey, s_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_5'
      AND s_suppkey IN (
        SELECT l_suppkey FROM per_pair
        WHERE qty_recent > 0.3 * qty_total)
"""


def _q_agg_tpch_q22_shape(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape — scalar-avg threshold + NOT EXISTS rollup:
    bucket customers by a code substring (the name's last two digits;
    the testdata has no phone column), keep above-average-balance
    customers in selected buckets who have NO orders in the most recent
    years (anti-join against a date-sliced fact — every testdata
    customer has SOME order, so the dormancy slice keeps the NOT EXISTS
    non-degenerate), and roll up count + balance per bucket. The average is a 1-row
    cross-broadcast scalar computed over the positive-balance members
    of the same buckets — Q22's de-correlated form. Scale: customer
    shuffles once on the anti-join key (custkey vs orders' custkey
    projection); everything else is dim-sized. The avg threshold is a
    within-engine compare on 2-decimal balances — ulp drift in the avg
    cannot flip membership."""
    reg = _registry(spark, sf_dir)
    codes = ("04", "11", "17", "23", "28", "29", "30")
    cust = reg.table("customer").withColumn(
        "cntrycode", F.substring("c_name", -2, 2)
    ).filter(F.col("cntrycode").isin(*codes))
    avg_bal = cust.filter(F.col("c_acctbal") > 0.0).agg(
        F.avg("c_acctbal").alias("_avg_bal")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("_avg_bal"))
        .join(
            reg.table("orders")
            .filter(F.col("o_orderdate") >= F.lit("2000-01-01"))
            .select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "anti",
        )
        .groupBy("cntrycode")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 4).alias("totacctbal"),
        )
    )


_TPCH_Q22_SHAPE_ORACLE = """
    WITH cust AS (
      SELECT c_custkey, c_acctbal, right(c_name, 2) AS cntrycode
      FROM customer
      WHERE right(c_name, 2) IN ('04','11','17','23','28','29','30')
    )
    SELECT cntrycode, count(*) AS numcust,
           round(sum(c_acctbal), 4) AS totacctbal
    FROM cust
    WHERE c_acctbal > (
        SELECT avg(c_acctbal) FROM cust WHERE c_acctbal > 0.0)
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey
          AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY 1
"""


def _q_text_lm_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score-distribution composite: the corpus-trained bigram LM scores
    (oracle-gated text_lm_score) bucketed into fixed-width bins — the
    distribution you inspect before choosing a perplexity-filter
    threshold. Binning runs on the ROUNDED avg_logprob (engine-exact
    input), so the composite chains two gated contracts; bins are
    negative (log-probs), the floor-division parity for which is
    fuzz-covered."""
    width = 0.5
    scores = ts.bigram_lm_score(_docs(spark, sf_dir))
    b = F.floor(F.col("avg_logprob") / F.lit(width))
    return (
        scores.groupBy(b.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.min("avg_logprob"), 6).alias("min_score"),
            F.round(F.max("avg_logprob"), 6).alias("max_score"),
        )
        .withColumn("bin_lo", F.round(F.col("bin") * F.lit(width), 6))
    )


def _q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _registry(spark, sf_dir)
        .table("lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        )
    )


def _q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _registry(spark, sf_dir)
        .table("orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        )
    )


def _q_agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _registry(spark, sf_dir)
        .table("orders")
        .groupBy("o_orderstatus")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
            F.round(F.expr("percentile(o_totalprice, 0.99)"), 4).alias("p99"),
        )
    )


def _q_agg_sketch_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate-aggregate CONTRACT, oracle-gated: the sketches
    themselves (HLL++ distinct counts, t-digest-style approx
    percentiles) cannot be replayed in another engine, so the query
    emits the EXACT value plus a boolean asserting the sketch landed
    within its documented error bound — the oracle supplies the exact
    value and literal TRUE. Both sketches are deterministic for fixed
    data (hash registers / fixed compression), so the booleans are
    stable, and a Spark-side regression in either sketch turns the gate
    red. At 100 TB the approx forms are the production path (single
    pass, mergeable partials, constant memory); this pins their quality
    against the exact twins that ARE hash-gated elsewhere
    (dsl_agg_full's COUNT DISTINCT, agg_percentiles)."""
    reg = _registry(spark, sf_dir)
    ev_t = reg.table("events")
    li = reg.table("lineitem")

    def hll_row(df: DataFrame, col: str, metric: str) -> DataFrame:
        return df.agg(
            F.lit(metric).alias("metric"),
            F.countDistinct(F.col(col)).alias("exact_value"),
            (
                F.abs(
                    F.approx_count_distinct(col, rsd=0.05).cast("double")
                    - F.countDistinct(F.col(col)).cast("double")
                )
                <= 0.15 * F.countDistinct(F.col(col)).cast("double")
            ).alias("within_bound"),
        ).select("metric", F.col("exact_value").cast("double"), "within_bound")

    pct = li.agg(
        F.lit("lineitem.l_extendedprice.p50").alias("metric"),
        F.round(F.expr("percentile(l_extendedprice, 0.5)"), 4).alias("exact_value"),
        (
            F.abs(
                F.expr("approx_percentile(l_extendedprice, 0.5, 10000)")
                - F.expr("percentile(l_extendedprice, 0.5)")
            )
            <= 0.01 * F.expr("percentile(l_extendedprice, 0.5)")
        ).alias("within_bound"),
    ).select("metric", "exact_value", "within_bound")

    return (
        hll_row(ev_t, "user_id", "events.user_id.hll")
        .union(hll_row(li, "l_partkey", "lineitem.l_partkey.hll"))
        .union(pct)
    )


_SKETCH_CONTRACT_ORACLE = """
    SELECT 'events.user_id.hll' AS metric,
           CAST(count(DISTINCT user_id) AS DOUBLE) AS exact_value,
           TRUE AS within_bound
    FROM events
    UNION ALL
    SELECT 'lineitem.l_partkey.hll',
           CAST(count(DISTINCT l_partkey) AS DOUBLE), TRUE
    FROM lineitem
    UNION ALL
    SELECT 'lineitem.l_extendedprice.p50',
           round(quantile_cont(l_extendedprice, 0.5), 4), TRUE
    FROM lineitem
"""


def _q_text_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    # corpus vocabulary statistics: term frequency + document frequency,
    # top 100 — one explode + one hash aggregate (map-side partial)
    from project_cortex_spark.functions.text import tokens as _tokens

    docs = _docs(spark, sf_dir)
    toks = docs.select(
        F.col("doc_id"), F.explode(_tokens(F.col("text"))).alias("term")
    )
    return (
        toks.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.countDistinct("doc_id").alias("df"),
        )
        .orderBy(F.col("tf").desc(), F.col("term").asc())
        .limit(100)
    )


_TOP_TERMS_ORACLE = f"""
    WITH {{tokens_cte}}
    SELECT term, count(*) AS tf, count(DISTINCT doc_id) AS df
    FROM toks GROUP BY term
    ORDER BY tf DESC, term LIMIT 100
"""


def _q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # as-of join (beyond parity — Spark lacks it; DuckDB oracle uses its
    # native ASOF JOIN): each event matched to the user's latest
    # checkpoint event at-or-before its timestamp
    events = _events(spark, sf_dir)
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    ckpt = (
        events.filter(F.col("event_id") % 10 == 0)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "ts", "value")
    )
    return asof_mod.as_of_join(
        events.select("event_id", "user_id", "ts", "value"),
        ckpt,
        on="user_id",
        right_payload=["value"],
    ).select(
        "event_id",
        "user_id",
        # integer micros: precision-proof against any ns/µs restore skew
        F.unix_micros("ts").alias("ts_us"),
        F.round("value", 6).alias("value"),
        F.round("right_value", 6).alias("ckpt_value"),
    )


_ASOF_ORACLE = """
    WITH ckpt AS (
      SELECT user_id, ts, value FROM (
        SELECT user_id, ts, value,
               row_number() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_id % 10 = 0
      ) WHERE rn = 1
    )
    SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
           round(l.value, 6) AS value,
           round(r.value, 6) AS ckpt_value
    FROM events l
    ASOF LEFT JOIN ckpt r ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def _q_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    # forward as-of with a 1 h tolerance: each event matched to the
    # user's NEXT checkpoint, nulled when it is further than an hour
    # away (pandas merge_asof direction/tolerance semantics)
    events = _events(spark, sf_dir)
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    ckpt = (
        events.filter(F.col("event_id") % 10 == 0)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "ts", "value")
    )
    return asof_mod.as_of_join(
        events.select("event_id", "user_id", "ts", "value"),
        ckpt,
        on="user_id",
        right_payload=["value"],
        direction="forward",
        tolerance_us=3_600_000_000,
    ).select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.round("value", 6).alias("value"),
        F.round("right_value", 6).alias("next_ckpt_value"),
    )


_ASOF_FORWARD_ORACLE = """
    WITH ckpt AS (
      SELECT user_id, ts, value FROM (
        SELECT user_id, ts, value,
               row_number() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_id % 10 = 0
      ) WHERE rn = 1
    )
    SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
           round(l.value, 6) AS value,
           CASE WHEN epoch_us(r.ts) - epoch_us(l.ts) <= 3600000000
                THEN round(r.value, 6) END AS next_ckpt_value
    FROM events l
    ASOF LEFT JOIN ckpt r ON l.user_id = r.user_id AND l.ts <= r.ts
"""


def _q_asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    # nearest as-of (pandas merge_asof direction="nearest"): each event
    # matched to whichever checkpoint is closer in absolute time, ties
    # to backward; both fills come from RANGE frames over one sort
    events = _events(spark, sf_dir)
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    ckpt = (
        events.filter(F.col("event_id") % 10 == 0)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "ts", "value")
    )
    return asof_mod.as_of_join(
        events.select("event_id", "user_id", "ts", "value"),
        ckpt,
        on="user_id",
        right_payload=["value"],
        direction="nearest",
    ).select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.round("value", 6).alias("value"),
        F.round("right_value", 6).alias("near_ckpt_value"),
    )


# nearest = the closer of DuckDB's two native directional ASOF matches
# (tie -> backward, pandas semantics)
_ASOF_NEAREST_ORACLE = """
    WITH ckpt AS (
      SELECT user_id, ts, value FROM (
        SELECT user_id, ts, value,
               row_number() OVER (PARTITION BY user_id, ts
                                  ORDER BY event_id DESC) AS rn
        FROM events WHERE event_id % 10 = 0
      ) WHERE rn = 1
    )
    SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
           round(l.value, 6) AS value,
           round(CASE
             WHEN b.ts IS NULL THEN f.value
             WHEN f.ts IS NULL THEN b.value
             WHEN epoch_us(f.ts) - epoch_us(l.ts)
                < epoch_us(l.ts) - epoch_us(b.ts) THEN f.value
             ELSE b.value
           END, 6) AS near_ckpt_value
    FROM events l
    ASOF LEFT JOIN ckpt b ON l.user_id = b.user_id AND l.ts >= b.ts
    ASOF LEFT JOIN ckpt f ON l.user_id = f.user_id AND l.ts <= f.ts
"""


def _q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # keyed range join (beyond parity): events assigned to their session
    # interval — hash join on user_id + residual containment predicate
    events = _events(spark, sf_dir)
    sessions = ev.sessionize(events, gap_minutes=30)
    return asof_mod.range_join(
        events.select("event_id", "user_id", "ts"),
        sessions.select("user_id", "session_seq", "session_start", "session_end"),
        on="user_id",
        point="ts",
        start="session_start",
        end="session_end",
    ).select("event_id", "user_id", "session_seq")


def _range_join_oracle() -> str:
    return f"""
    WITH s AS ({oracle.sessionize_sql(gap_minutes=30)})
    SELECT e.event_id, e.user_id, s.session_seq
    FROM events e JOIN s ON e.user_id = s.user_id
     AND e.ts BETWEEN s.session_start AND s.session_end
    """


def _q_join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # skew-mitigated equi-join (layout.salted_join): the salt must be
    # invisible in the result — aggregated output hash-matches the plain
    # join oracle no matter how rows were split across reducers
    reg = _registry(spark, sf_dir)
    li = reg.table("lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"), "l_quantity"
    )
    orders = reg.table("orders").select("o_orderkey", "o_orderstatus")
    return (
        layout_mod.salted_join(li, orders, "o_orderkey", n_salts=8)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
        )
    )


_SALTED_JOIN_ORACLE = """
    SELECT o_orderstatus, count(*) AS n_lines,
           round(sum(l_quantity), 4) AS sum_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
"""


def _q_events_lag_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    # lead/lag windows: per-user value delta between consecutive events
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        _registry(spark, sf_dir)
        .table("events")
        .select(
            "event_id",
            "user_id",
            F.round(F.col("value") - F.lag("value").over(w), 6).alias("delta"),
        )
    )


_LAG_DELTA_ORACLE = """
    SELECT event_id, user_id,
           round(value - lag(value) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id), 6) AS delta
    FROM events
"""


def _q_hydrate_order_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    # J4 hydration join: parent rows with children nested as a sorted
    # array (the reference's types⋈type_fields LEFT JOIN + app-side
    # nesting, query_helpers.go:17-50 — here one join + collect_list)
    reg = _registry(spark, sf_dir)
    return (
        reg.table("orders")
        .join(reg.table("lineitem"), F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderkey")
        .agg(
            # serialized as a CSV string: the driver's pandas canonicalizer
            # cannot hash/sort an array<int> column (unhashable list), so the
            # nested result is emitted in a scalar, hash-stable form
            F.array_join(F.sort_array(F.collect_list("l_linenumber")), ",").alias(
                "line_numbers"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


_HYDRATE_ORACLE = """
    SELECT o_orderkey,
           array_to_string(list_sort(list(l_linenumber)), ',') AS line_numbers,
           count(*) AS n_lines
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderkey
"""


_PERCENTILES_ORACLE = """
    SELECT o_orderstatus,
           round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
           round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
           round(quantile_cont(o_totalprice, 0.99), 4) AS p99
    FROM orders GROUP BY o_orderstatus
"""


def _q_events_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        _registry(spark, sf_dir)
        .table("events")
        .select(
            "event_id",
            "user_id",
            F.round(F.sum("value").over(w), 6).alias("cum_value"),
        )
    )


_CUMULATIVE_ORACLE = """
    SELECT event_id, user_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING), 6) AS cum_value
    FROM events
"""


_ROLLUP_ORACLE = """
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           round(sum(l_quantity), 4) AS sum_qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""

_CUBE_ORACLE = """
    SELECT o_orderstatus, o_orderpriority, count(*) AS n,
           round(avg(o_totalprice), 4) AS avg_price
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


# ---------------------------------------------------------------------------
# Structured Streaming twins (SURVEY §2.10): a finite AvailableNow run of
# the streaming plan must reproduce the batch operator's oracle result
# ---------------------------------------------------------------------------


# State-store partitions for the local-scale streaming twins: every
# micro-batch pays a commit per state-store instance (= shuffle
# partitions at query start, fixed for the query's lifetime, AQE never
# resizes it), so stateful queries size it to stream volume instead of
# inheriting the batch default — see scoped_state_partitions.
_STREAM_STATE_PARTITIONS = 8


def _q_stream_windowed_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    with stream_source.scoped_state_partitions(spark, _STREAM_STATE_PARTITIONS):
        stream = stream_source.stream_table(spark, sf_dir, "events")
        return stream_source.run_to_memory(
            stream_windows.windowed_agg_stream(stream, minutes=60),
            query_name="q_stream_windowed_agg",
            output_mode="complete",
        )


def _q_stream_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    # streaming twin of events_anomaly: the stream maintains the
    # watermarked (event_type, bucket) volume counts; the rolling
    # z-score is merge-on-read over the drained aggregate (rollup.py's
    # split — a rows-window over an evolving aggregate is not a
    # streaming-expressible operator). Same oracle as events_anomaly.
    with stream_source.scoped_state_partitions(spark, _STREAM_STATE_PARTITIONS):
        stream = stream_source.stream_table(spark, sf_dir, "events")
        buckets = stream_source.run_to_memory(
            stream_windows.volume_buckets_stream(stream, bucket_minutes=60),
            query_name="q_stream_anomaly",
            output_mode="complete",
        )
        return stream_windows.anomaly_on_buckets(buckets, bucket_minutes=60)


def _q_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # streaming twin of events_top_users: the stream maintains the
    # per-(type, user) totals; the top-k rank is merge-on-read (a
    # row_number over an evolving aggregate is not streaming-
    # expressible). Same oracle as events_top_users.
    with stream_source.scoped_state_partitions(spark, _STREAM_STATE_PARTITIONS):
        stream = stream_source.stream_table(spark, sf_dir, "events")
        totals = stream_source.run_to_memory(
            stream_windows.user_totals_stream(stream),
            query_name="q_stream_topk",
            output_mode="complete",
        )
        return ev.rank_top_users(totals, k=3)


def _q_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pure streaming aggregate (min_by/max_by are algebraic): same
    # oracle as the batch events_ohlc
    with stream_source.scoped_state_partitions(spark, _STREAM_STATE_PARTITIONS):
        stream = stream_source.stream_table(spark, sf_dir, "events")
        return stream_source.run_to_memory(
            stream_windows.ohlc_stream(stream, bucket_minutes=60),
            query_name="q_stream_ohlc",
            output_mode="complete",
        )


def _q_stream_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pure streaming aggregate (count/min/max/avg all algebraic): same
    # oracle as the batch events_histogram
    with stream_source.scoped_state_partitions(spark, _STREAM_STATE_PARTITIONS):
        stream = stream_source.stream_table(spark, sf_dir, "events")
        return stream_source.run_to_memory(
            stream_windows.value_histogram_stream(stream, width=25.0),
            query_name="q_stream_histogram",
            output_mode="complete",
        )


def _q_stream_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    # stateful streaming twin of events_debounce (applyInPandasWithState:
    # one open burst per (user, type)); two far-future sentinel
    # deliveries advance the watermark so every real burst times out and
    # emits within the finite run — same oracle as the batch operator
    import shutil
    import tempfile

    from project_cortex_spark.streaming import stateful as stream_stateful

    ev_df = _events(spark, sf_dir)
    max_ts = ev_df.agg(F.max("ts")).first()[0]
    scratch = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "spark-warehouse"
    )
    os.makedirs(scratch, exist_ok=True)
    base = tempfile.mkdtemp(prefix="debounce_", dir=scratch)
    try:
        cols = ["event_id", "ts", "user_id", "event_type"]
        ev_df.select(*cols).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(base, "f0.parquet")
        )
        for i, days in enumerate((7, 14)):
            spark.createDataFrame(
                [(-(100 + i), -1, "sentinel")],
                "event_id long, user_id long, event_type string",
            ).withColumn(
                "ts",
                F.lit(max_ts) + F.expr(f"INTERVAL {days} DAYS"),
            ).select(*cols).coalesce(1).write.mode("overwrite").parquet(
                os.path.join(base, f"f{i + 1}.parquet")
            )
        stream = (
            spark.readStream.schema(
                "event_id long, ts timestamp, user_id long, event_type string"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(base + "/*/")
        )
        with stream_source.scoped_state_partitions(
            spark, _STREAM_STATE_PARTITIONS
        ):
            out = stream_source.run_to_memory(
                stream_stateful.debounce_with_state(stream, quiet_seconds=300),
                query_name="q_stream_debounce_state",
                output_mode="append",
            )
        return out.filter(F.col("user_id") >= 0).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _q_stream_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # incremental TWAP: two TIME-ordered deliveries (split at the
    # min/max midpoint); within-batch intervals close via the lead
    # window, the cross-batch boundary interval closes against the
    # carried (last_us, last_value) state — merge-on-read must
    # hash-match the one-shot batch events.twap oracle
    import shutil
    import tempfile

    from project_cortex_spark.streaming import twap as stream_twap

    ev_df = _events(spark, sf_dir)
    lo, hi = ev_df.agg(F.min("ts"), F.max("ts")).first()
    mid = lo + (hi - lo) / 2
    scratch = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "spark-warehouse"
    )
    os.makedirs(scratch, exist_ok=True)
    base = tempfile.mkdtemp(prefix="twap_", dir=scratch)
    in_dir = os.path.join(base, "incoming")
    partials = os.path.join(base, "partials")
    state = os.path.join(base, "state")
    ckpt = os.path.join(base, "ckpt")
    try:
        for early in (True, False):
            part = ev_df.filter(
                F.col("ts") < F.lit(mid) if early else F.col("ts") >= F.lit(mid)
            )
            part.coalesce(1).write.mode("append").parquet(in_dir)
            with stream_source.scoped_state_partitions(
                spark, _STREAM_STATE_PARTITIONS
            ):
                q = stream_twap.continuous_twap(
                    spark,
                    in_dir,
                    ev_df.schema,
                    partials_dir=partials,
                    state_dir=state,
                    checkpoint_dir=ckpt,
                )
                q.awaitTermination()
        return stream_twap.read_twap(spark, partials).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _q_stream_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # pure streaming aggregate (integer bucketing, algebraic stats):
    # same oracle as the batch events_heatmap
    with stream_source.scoped_state_partitions(spark, _STREAM_STATE_PARTITIONS):
        stream = stream_source.stream_table(spark, sf_dir, "events")
        return stream_source.run_to_memory(
            stream_windows.activity_heatmap_stream(stream),
            query_name="q_stream_heatmap",
            output_mode="complete",
        )


_ANSI_WINDOW_SQL = """
    WITH ranked AS (
      SELECT n.n_name, c.c_custkey, c.c_acctbal,
             row_number() OVER (PARTITION BY n.n_name
                                ORDER BY c.c_acctbal DESC, c.c_custkey)
               AS rnk,
             sum(c.c_acctbal) OVER (PARTITION BY n.n_name
                                    ORDER BY c.c_acctbal DESC, c.c_custkey
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW)
               AS running_bal
      FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    )
    SELECT n_name, c_custkey, rnk, round(c_acctbal, 4) AS acctbal,
           round(running_bal, 4) AS running_bal
    FROM ranked WHERE rnk <= 5
"""


def _q_sql_ansi_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-SQL passthrough contract: the SAME SQL string (CTE + join +
    two window functions with an explicit frame) executes verbatim on
    Spark SQL and on DuckDB — the dialect-portable surface a cortex
    user gets beyond the JSON DSL. Registering the tables as temp views
    is the only Spark-specific step."""
    reg = _registry(spark, sf_dir)
    reg.table("customer").createOrReplaceTempView("customer")
    reg.table("nation").createOrReplaceTempView("nation")
    return spark.sql(_ANSI_WINDOW_SQL)


def _q_graph_bfs_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched traversal gate: 20 roots answered by one traversal
    (operators/graph.py bfs_multi — the roots' frontiers advance
    together on the driver, one broadcast semi-join scan of the
    stationary edges per level, min depth per (root, node) kept by
    driver-side visited sets). The throughput form of the
    reference's per-request graph query (CLAUDE.md:1100); the oracle
    replays it as a multi-root recursive CTE."""

    def roots() -> list:
        return [
            int(r["src"])
            for r in _order_edges(spark, sf_dir)
            .select("src")
            .distinct()
            .orderBy("src")
            .limit(20)
            .collect()
        ]

    starts = _memo(spark, sf_dir, "bfs_multi_roots", roots)
    return graph_mod.bfs_multi(_order_edges(spark, sf_dir), starts, depth=3)


_BFS_MULTI_ORACLE = f"""
    WITH RECURSIVE e AS ({_EDGES_SQL}),
    roots AS (
      SELECT DISTINCT src AS root FROM e ORDER BY src LIMIT 20
    ),
    walk(root, node, depth) AS (
      SELECT root, root, 0 FROM roots
      UNION ALL
      SELECT w.root, e.dst, w.depth + 1
      FROM walk w JOIN e ON e.src = w.node
      WHERE w.depth < 3
    )
    SELECT root, node, min(depth) AS depth
    FROM walk WHERE node <> root GROUP BY root, node
"""


_FTS_BATCH_QUERIES = [
    (1, "data model"),
    (2, "search engine"),
    (3, "hash join"),
    (4, "stream window"),
    (5, "fast sort"),
    (6, "vector scan"),
    (7, "merge batch"),
    (8, "customer order"),
]


def _q_fts_batch_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batched conjunctive keyword search gate: 8 two-term AND queries
    in ONE job (operators/fts.py fts_search_batch — broadcast query-term
    table, one AND-match + BM25 aggregate, one window top-k). The
    throughput form of the reference's per-request FTS5 lookup
    (CLAUDE.md:1099); per-query equality with fts_search is
    unit-tested, and the oracle replays the whole batch."""
    idx = _fts_index(spark, sf_dir)
    return fts_mod.fts_search_batch(
        idx, _FTS_BATCH_QUERIES, limit=15, rank_digits=9
    )


def _q_media_bmp_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL binary codec gate (VERDICT r4 item 5): every document
    becomes an actual 24-bpp bottom-up BI_RGB BMP whose RGB scan-order
    pixels are the cyclic ramp (doc_id + k) % 256; the pure-numpy
    decoder (operators/multimodal.py) must un-flip the rows, swizzle
    BGR, and skip the row padding to recover per-channel means AND the
    top-left pixel the oracle computes from the ramp in closed form.
    Means alone are permutation-invariant (a decoder skipping the
    vertical un-flip would still match them); top_left_r is
    position-sensitive, so row-order mistakes fail the hash too."""
    media = mm.synthesize_bmp_media(_docs(spark, sf_dir))
    return mm.decode_image_real(media).select(
        "media_id",
        "codec",
        "width",
        "height",
        "channels",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
        "top_left_r",
        "ok",
    )


def _q_media_png_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PNG codec gate: the same cyclic pixel ramp as the BMP gate,
    but through the full PNG container — CRC-verified chunk walk, zlib
    inflate, scanline un-filtering (operators/multimodal.py
    _decode_png). The closed-form oracle reproduces the ramp's channel
    means and corner pixel, so any defiltering or row-order mistake
    hash-fails; only the codec literal differs from the BMP oracle."""
    media = mm.synthesize_png_media(_docs(spark, sf_dir))
    return mm.decode_image_real(media).select(
        "media_id",
        "codec",
        "width",
        "height",
        "channels",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
        "top_left_r",
        "ok",
    )


def _q_media_jpeg_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL JPEG codec gate on the flat-block corpus: baseline JFIF
    decode (operators/jpeg.py — marker walk, canonical Huffman, dequant,
    IDCT, level shift) of flat grayscale images whose lossy output is
    exactly predictable (flat blocks have zero AC energy). The oracle
    states the Annex-K-quantized pixel in closed form; any Huffman,
    zigzag, dequant or IDCT mistake shifts it and fails the hash."""
    media = mm.synthesize_jpeg_media(_docs(spark, sf_dir))
    return mm.decode_image_real(media).select(
        "media_id",
        "codec",
        "width",
        "height",
        "channels",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
        "top_left_r",
        "ok",
    )


_MEDIA_JPEG_ORACLE = """
    WITH px AS (
      SELECT doc_id AS media_id,
             (doc_id % 8 + 1) * 4 AS width,
             (doc_id % 4 + 1) * 4 AS height,
             least(255, greatest(0,
               2 * CAST(floor(8 * (doc_id % 256 - 128) / 16.0 + 0.5)
                        AS BIGINT) + 128)) AS ex
      FROM documents
    )
    SELECT media_id, 'jpeg' AS codec, width, height, 3 AS channels,
           round(ex, 6) AS mean_r,
           round(ex, 6) AS mean_g,
           round(ex, 6) AS mean_b,
           ex AS top_left_r,
           TRUE AS ok
    FROM px
"""


def _q_media_resize_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL resize gate: BMP ramp corpus -> nearest-neighbor resize to
    8x8 (decode, floor-mapped sampling, BMP re-encode) -> decode again.
    Nearest-neighbor outputs are exact source pixels, so the oracle
    states every sampled ramp value in closed form — mean AND top-left
    corner; a mapping off by one row/column shifts the sampled indices
    and fails the hash."""
    media = mm.synthesize_bmp_media(_docs(spark, sf_dir))
    resized = mm.resize_image_real(media, width=8, height=8)
    return mm.decode_image_real(resized).select(
        "media_id",
        "codec",
        "width",
        "height",
        "channels",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
        "top_left_r",
        "ok",
    )


_MEDIA_RESIZE_ORACLE = """
    WITH dims AS (
      SELECT doc_id AS media_id,
             (doc_id % 8 + 1) * 4 AS w,
             (doc_id % 4 + 1) * 4 AS h
      FROM documents
    ), grid AS (
      SELECT media_id, w, h, i, j,
             (i * h) // 8 AS sy, (j * w) // 8 AS sx
      FROM dims, unnest(range(8)) AS t(i), unnest(range(8)) AS u(j)
    ), px AS (
      SELECT media_id,
             (media_id + 3 * (sy * w + sx)) % 256 AS r,
             (media_id + 3 * (sy * w + sx) + 1) % 256 AS g,
             (media_id + 3 * (sy * w + sx) + 2) % 256 AS b
      FROM grid
    )
    SELECT media_id, 'bmp' AS codec, 8 AS width, 8 AS height,
           3 AS channels,
           round(avg(r), 6) AS mean_r,
           round(avg(g), 6) AS mean_g,
           round(avg(b), 6) AS mean_b,
           media_id % 256 AS top_left_r,
           TRUE AS ok
    FROM px GROUP BY media_id
"""


def _q_media_wav_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio codec gate: each doc becomes a mono 16-bit PCM WAV
    whose samples are a signed cyclic ramp; decode_audio_real must walk
    the RIFF chunks and read the interleaved PCM to recover loudness
    stats AND the position-sensitive first sample the oracle computes
    in closed form (an interleave/offset mistake shifts first_sample
    and fails the hash; means alone would not catch it)."""
    media = mm.synthesize_wav_media(_docs(spark, sf_dir))
    return mm.decode_audio_real(media).select(
        "media_id",
        "codec",
        "sample_rate",
        "channels",
        "n_samples",
        F.round("mean_amp", 6).alias("mean_amp"),
        "peak_amp",
        "first_sample",
        "ok",
    )


_MEDIA_WAV_ORACLE = """
    WITH dims AS (
      SELECT doc_id AS media_id, (doc_id % 16 + 1) * 32 AS n
      FROM documents
    ), sm AS (
      SELECT media_id, n, ((media_id + i) % 2048) - 1024 AS s
      FROM dims, unnest(range(n)) AS t(i)
    )
    SELECT media_id, 'wav' AS codec, 16000 AS sample_rate, 1 AS channels,
           n AS n_samples,
           round(avg(abs(s)), 6) AS mean_amp,
           max(abs(s)) AS peak_amp,
           (media_id % 2048) - 1024 AS first_sample,
           TRUE AS ok
    FROM sm GROUP BY media_id, n
"""


def _q_text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL web-corpus ingestion gate: each doc's text wrapped in a
    realistic page (head chrome, nav links, a link-farm div, a footer)
    and pushed through the stdlib-HTMLParser boilerplate remover —
    chrome subtrees dropped by tag, the link farm dropped by measured
    link density, entities decoded. Extraction must recover EXACTLY the
    doc's text re-paragraphed at 8-word boundaries (the oracle states
    md5 of that string), and the boilerplate-link count is closed-form
    (nav doc_id%3+2, footer 1, link farm 2)."""
    html = tx.synthesize_html_docs(_docs(spark, sf_dir))
    return tx.extract_html_text(html).select(
        "doc_id", "n_paragraphs", "n_boilerplate_links", "main_chars",
        "text_md5", "ok",
    )


_MAIN_TEXT_SQL = """
    w AS (
      SELECT doc_id, i, string_split(text, ' ')[i + 1] AS word,
             i // 8 AS grp
      FROM documents, unnest(range(len(string_split(text, ' ')))) AS t(i)
    ), g AS (
      SELECT doc_id, grp, string_agg(word, ' ' ORDER BY i) AS para
      FROM w GROUP BY doc_id, grp
    ), m AS (
      SELECT doc_id, string_agg(para, chr(10) ORDER BY grp) AS main_text,
             count(*) AS n_paras
      FROM g GROUP BY doc_id
    )
"""

_TEXT_HTML_ORACLE = f"""
    WITH {_MAIN_TEXT_SQL}
    SELECT d.doc_id,
           CAST(m.n_paras AS BIGINT) AS n_paragraphs,
           d.doc_id % 3 + 5 AS n_boilerplate_links,
           length(d.text) AS main_chars,
           md5(m.main_text) AS text_md5,
           TRUE AS ok
    FROM documents d JOIN m ON d.doc_id = m.doc_id
"""


def _q_text_pdf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL PDF-corpus ingestion gate: each doc typeset into a genuine
    multi-object PDF (catalog/pages/page objects, Flate-compressed
    content streams, byte-exact xref) and extracted back via the
    object-scan + zlib + Tj/TJ tokenizer. The recovered text must equal
    the same 8-word re-paragraphing as the HTML gate (md5-stated); page
    count is the 12-lines-per-page closed form and the text-op count is
    exactly one Tj per line."""
    pdfs = tx.synthesize_pdf_docs(_docs(spark, sf_dir))
    return tx.extract_pdf_text(pdfs).select(
        "doc_id", "n_pages", "n_text_ops", "main_chars", "text_md5", "ok",
    )


_TEXT_PDF_ORACLE = f"""
    WITH {_MAIN_TEXT_SQL}
    SELECT d.doc_id,
           CAST(ceil(m.n_paras / 12.0) AS BIGINT) AS n_pages,
           CAST(m.n_paras AS BIGINT) AS n_text_ops,
           length(d.text) AS main_chars,
           md5(m.main_text) AS text_md5,
           TRUE AS ok
    FROM documents d JOIN m ON d.doc_id = m.doc_id
"""


def _q_text_fix_mojibake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-repair gate (the ftfy class): doc text gets a non-ASCII
    suffix, is deterministically damaged (UTF-8 bytes mis-decoded as
    Latin-1, doubly for odd ids), and the repair operator must recover
    the EXACT original (md5-stated) in EXACTLY the right number of
    rounds — an over-eager fixer that 'repairs' clean text, or one that
    stops after one round on doubly-encoded text, fails the hash."""
    damaged = tx.synthesize_mojibake_docs(_docs(spark, sf_dir))
    return tx.repair_mojibake(damaged).select(
        "doc_id", "n_rounds", "changed", "fixed_md5", "fixed_chars",
    )


_TEXT_MOJIBAKE_ORACLE = """
    WITH fixed AS (
      SELECT doc_id,
             text || CASE doc_id % 4
                       WHEN 0 THEN ' café'
                       WHEN 1 THEN ' naïve'
                       WHEN 2 THEN ' 東京'
                       ELSE ' Übermaß' END AS orig
      FROM documents
    )
    SELECT doc_id,
           doc_id % 2 + 1 AS n_rounds,
           TRUE AS changed,
           md5(orig) AS fixed_md5,
           length(orig) AS fixed_chars
    FROM fixed
"""


def _q_media_multimodal_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL multimodal training-sample pipeline, end to end: per
    doc a WebDataset sample triple (<key>.gif real image, <key>.flac
    real lossless audio, <key>.json metadata), written as deterministic
    tar shards, scanned back with members re-grouped by key, BOTH
    payloads decoded through the real codecs, metadata parsed, and the
    three modalities re-joined per sample. The oracle states every
    number in closed form — a corrupted byte in either codec path, a
    member mis-grouped across keys, or a dropped shard all fail the
    hash. Scale: shard write/scan are embarrassingly parallel
    (applyInPandas per shard / mapInPandas per shard batch, no
    shuffle); the final joins are key-aligned from the same scan."""
    from project_cortex_spark.sources import tar_shards

    media = mm.synthesize_multimodal_media(_docs(spark, sf_dir))
    out = _export_dir(sf_dir, "media_mm_tar")
    tar_shards.write_tar_shards(
        media, out, key_col="media_id",
        members={"gif": "image", "flac": "audio", "json": "meta"},
        n_shards=4,
    )
    back = tar_shards.read_tar_shards(
        spark, out,
        members={"gif": "image", "flac": "audio", "json": "meta"},
        binary=("gif", "flac"),
    ).select(
        F.col("sample_key").cast("long").alias("media_id"),
        "image", "audio", "meta",
    )
    img = mm.decode_image_real(
        back.select("media_id", F.col("image").alias("payload"))
    ).select(
        "media_id", "width", "height",
        F.round("mean_r", 6).alias("mean_px"), "top_left_r",
    )
    aud = mm.decode_audio_real(
        back.select("media_id", F.col("audio").alias("payload"))
    ).select(
        "media_id", "n_samples",
        F.round("mean_amp", 6).alias("mean_amp"), "first_sample",
    )
    meta = back.select(
        "media_id",
        F.get_json_object("meta", "$.cls").cast("long").alias("cls"),
    )
    return img.join(aud, "media_id").join(meta, "media_id")


_MEDIA_MULTIMODAL_ORACLE = """
    WITH dims AS (
      SELECT doc_id AS media_id,
             (doc_id % 8 + 1) * 4 AS w,
             (doc_id % 4 + 1) * 4 AS h,
             (doc_id % 16 + 1) * 32 AS n
      FROM documents
    ), img AS (
      SELECT media_id, w, h,
             round(avg((media_id + k) % 256), 6) AS mean_px
      FROM dims, unnest(range(w * h)) AS t(k)
      GROUP BY media_id, w, h
    ), aud AS (
      SELECT media_id, n,
             round(avg(abs(((media_id + i) % 2048) - 1024)), 6) AS mean_amp
      FROM dims, unnest(range(n)) AS u(i)
      GROUP BY media_id, n
    )
    SELECT i.media_id, i.w AS width, i.h AS height, i.mean_px,
           i.media_id % 256 AS top_left_r,
           a.n AS n_samples, a.mean_amp,
           (i.media_id % 2048) - 1024 AS first_sample,
           i.media_id % 10 AS cls
    FROM img i JOIN aud a ON i.media_id = a.media_id
"""


def _q_media_gif_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF gate: grayscale-palette ramp images through the real
    variable-width LZW encoder/decoder (operators/gif.py — LSB-first
    sub-blocked bitstream, clear/EOI codes, width growth to 12 bits).
    The decoded RGB is the exact index ramp via the palette, so the
    oracle states mean and the position-sensitive corner pixel in
    closed form — any LZW width-bump or dictionary-order mistake
    scrambles pixel order and fails the hash."""
    media = mm.synthesize_gif_media(_docs(spark, sf_dir))
    return mm.decode_image_real(media).select(
        "media_id", "codec", "width", "height", "channels",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
        "top_left_r", "ok",
    )


_MEDIA_GIF_ORACLE = """
    WITH dims AS (
      SELECT doc_id AS media_id,
             (doc_id % 8 + 1) * 4 AS w,
             (doc_id % 4 + 1) * 4 AS h
      FROM documents
    ), px AS (
      SELECT media_id, w, h, (media_id + k) % 256 AS v
      FROM dims, unnest(range(w * h)) AS t(k)
    )
    SELECT media_id, 'gif' AS codec, w AS width, h AS height,
           3 AS channels,
           round(avg(v), 6) AS mean_r,
           round(avg(v), 6) AS mean_g,
           round(avg(v), 6) AS mean_b,
           media_id % 256 AS top_left_r,
           TRUE AS ok
    FROM px GROUP BY media_id, w, h
"""


def _q_media_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio-analysis gate: square-wave PCM clips with integer
    period 2*(doc_id%12+2), decoded from the container and reduced to
    energy / zero-crossing count / autocorrelation pitch. Every feature
    is integer arithmetic, so the oracle restates each sum term-for-
    term and the pitch must land exactly on the synthesis period — an
    off-by-one in the lag windows, a sign-flip in the crossings, or a
    channel-interleave mistake all move integers and fail the hash."""
    media = mm.synthesize_square_wav_media(_docs(spark, sf_dir))
    return mm.extract_audio_features(media, max_lag=64).select(
        "media_id", "n_samples", "energy", "zcr", "pitch_lag",
        "ac_peak", "ok",
    )


_MEDIA_AUDIO_FEATURES_ORACLE = """
    WITH dims AS (
      SELECT doc_id AS media_id, (doc_id % 16 + 1) * 32 AS n,
             2 * (doc_id % 12 + 2) AS p
      FROM documents
    ), sm AS MATERIALIZED (
      SELECT media_id, n, i,
             CASE WHEN (i % p) < p // 2 THEN 500 ELSE -500 END AS s
      FROM dims, unnest(range(n)) AS t(i)
    ), base AS (
      SELECT media_id, n,
             sum(s * s) AS energy,
             sum(CASE WHEN prev_s IS NOT NULL
                       AND (prev_s < 0) <> (s < 0)
                      THEN 1 ELSE 0 END) AS zcr
      FROM (SELECT *, lag(s) OVER (PARTITION BY media_id ORDER BY i)
                      AS prev_s
            FROM sm)
      GROUP BY media_id, n
    ), ac AS (
      SELECT a.media_id, a.i - b.i AS lag, sum(a.s * b.s) AS r
      FROM sm a JOIN sm b ON a.media_id = b.media_id
          AND a.i - b.i BETWEEN 1 AND 64
      GROUP BY 1, 2
    ), best AS (
      SELECT media_id, lag AS pitch_lag, r AS ac_peak
      FROM ac
      QUALIFY row_number() OVER (PARTITION BY media_id
                                 ORDER BY r DESC, lag ASC) = 1
    )
    SELECT b.media_id, b.n AS n_samples,
           CAST(b.energy AS BIGINT) AS energy,
           CAST(b.zcr AS BIGINT) AS zcr,
           s.pitch_lag,
           CAST(s.ac_peak AS BIGINT) AS ac_peak,
           TRUE AS ok
    FROM base b JOIN best s ON b.media_id = s.media_id
"""


def _q_media_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video gate: Motion-JPEG AVI clips (operators/avi.py — RIFF
    hdrl/movi/idx1 mux, chunk-walking demux) frame-sampled every 2nd
    frame and decoded through the real JPEG decoder. Flat frames make
    each sampled frame's mean the closed-form Annex-K quantization of
    ``(doc_id + 37*frame_idx) % 256`` — a demuxer that misparses chunk
    alignment, drops a frame, or samples the wrong stride changes the
    (frame_idx, mean) set and fails the hash."""
    media = mm.synthesize_mjpeg_media(_docs(spark, sf_dir))
    return mm.sample_video_frames(media, every=2).select(
        "media_id", "frame_idx", "n_frames", "width", "height",
        F.round("mean_gray", 6).alias("mean_gray"), "ok",
    )


_MEDIA_VIDEO_ORACLE = """
    WITH dims AS (
      SELECT doc_id AS media_id, doc_id % 6 + 2 AS nf
      FROM documents
    ), fr AS (
      SELECT media_id, nf, i AS frame_idx
      FROM dims, unnest(range(nf)) AS t(i)
      WHERE i % 2 = 0
    ), px AS (
      SELECT media_id, nf, frame_idx,
             least(255, greatest(0,
               2 * CAST(floor(8 * ((media_id + 37 * frame_idx) % 256 - 128)
                              / 16.0 + 0.5) AS BIGINT) + 128)) AS ex
      FROM fr
    )
    SELECT media_id, frame_idx, nf AS n_frames, 16 AS width, 16 AS height,
           round(ex, 6) AS mean_gray, TRUE AS ok
    FROM px
"""


def _q_media_flac_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossless-compression gate: the ramp clips encoded as actual
    FLAC streams (operators/flac.py — STREAMINFO + MD5, frame sync +
    UTF-8 frame numbers + CRC-8/CRC-16, fixed predictors 0-4,
    Rice-coded residuals) and fully decoded. FLAC is lossless, so the
    oracle is the SAME closed form as the PCM WAV gate with
    codec='flac' — every layer of the bitstream (and the decoder's MD5
    self-check) must be bit-perfect for the hash to match. The 512-
    sample clips span two 256-sample frames, gating multi-frame sync
    re-acquisition too."""
    media = mm.synthesize_flac_media(_docs(spark, sf_dir))
    return mm.decode_audio_real(media).select(
        "media_id", "codec", "sample_rate", "channels", "n_samples",
        F.round("mean_amp", 6).alias("mean_amp"),
        "peak_amp", "first_sample", "ok",
    )


_MEDIA_FLAC_ORACLE = """
    WITH dims AS (
      SELECT doc_id AS media_id, (doc_id % 16 + 1) * 32 AS n
      FROM documents
    ), sm AS (
      SELECT media_id, n, ((media_id + i) % 2048) - 1024 AS s
      FROM dims, unnest(range(n)) AS t(i)
    )
    SELECT media_id, 'flac' AS codec, 8000 AS sample_rate, 1 AS channels,
           n AS n_samples,
           round(avg(abs(s)), 6) AS mean_amp,
           max(abs(s)) AS peak_amp,
           (media_id % 2048) - 1024 AS first_sample,
           TRUE AS ok
    FROM sm GROUP BY media_id, n
"""


def _q_media_ulaw_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-audio gate #1: the shared ramp clips companded
    through the G.711 mu-law encoder (operators/audio.py) into tag-7
    RIFF containers, then chunk-walked and expanded back. Companding is
    a stateless piecewise-segment map, so the oracle states the exact
    quantized reconstruction of every sample as a CASE chain — any
    segment, mantissa, bias or sign mistake in either direction of the
    codec shifts the stats and fails the hash."""
    media = mm.synthesize_g711_media(_docs(spark, sf_dir), law="ulaw")
    return mm.decode_audio_real(media).select(
        "media_id", "codec", "sample_rate", "channels", "n_samples",
        F.round("mean_amp", 6).alias("mean_amp"),
        "peak_amp", "first_sample", "ok",
    )


_MEDIA_ULAW_ORACLE = """
    WITH dims AS (
      SELECT doc_id AS media_id, (doc_id % 16 + 1) * 32 AS n
      FROM documents
    ), sm AS (
      SELECT media_id, n, i, ((media_id + i) % 2048) - 1024 AS s
      FROM dims, unnest(range(n)) AS t(i)
    ), seg AS (
      SELECT media_id, n, i, s, m,
             CASE WHEN m < 256 THEN 0 WHEN m < 512 THEN 1
                  WHEN m < 1024 THEN 2 WHEN m < 2048 THEN 3
                  WHEN m < 4096 THEN 4 WHEN m < 8192 THEN 5
                  WHEN m < 16384 THEN 6 ELSE 7 END AS e
      FROM (SELECT *, least(abs(s), 32635) + 132 AS m FROM sm)
    ), rec AS (
      SELECT media_id, n, i,
             (CASE WHEN s < 0 THEN -1 ELSE 1 END)
               * ((((m >> (e + 3)) & 15) * 8 + 132) * (1 << e) - 132) AS r
      FROM seg
    )
    SELECT media_id, 'ulaw' AS codec, 8000 AS sample_rate, 1 AS channels,
           n AS n_samples,
           round(avg(abs(r)), 6) AS mean_amp,
           max(abs(r)) AS peak_amp,
           arg_min(r, i) AS first_sample,
           TRUE AS ok
    FROM rec GROUP BY media_id, n
"""


def _q_media_alaw_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-audio gate #2: same corpus through G.711 A-law
    (tag 6, XOR-0x55 masked codes, segment-0 linear region). The A-law
    closed form differs from mu-law in bias, segment-0 handling and the
    no-zero reconstruction (+-8 floor) — a codec that confuses the two
    laws, or drops the 0x55 mask, produces different stats and fails."""
    media = mm.synthesize_g711_media(_docs(spark, sf_dir), law="alaw")
    return mm.decode_audio_real(media).select(
        "media_id", "codec", "sample_rate", "channels", "n_samples",
        F.round("mean_amp", 6).alias("mean_amp"),
        "peak_amp", "first_sample", "ok",
    )


_MEDIA_ALAW_ORACLE = """
    WITH dims AS (
      SELECT doc_id AS media_id, (doc_id % 16 + 1) * 32 AS n
      FROM documents
    ), sm AS (
      SELECT media_id, n, i, ((media_id + i) % 2048) - 1024 AS s
      FROM dims, unnest(range(n)) AS t(i)
    ), seg AS (
      SELECT media_id, n, i, s, m,
             CASE WHEN m < 256 THEN 0 WHEN m < 512 THEN 1
                  WHEN m < 1024 THEN 2 WHEN m < 2048 THEN 3
                  WHEN m < 4096 THEN 4 WHEN m < 8192 THEN 5
                  WHEN m < 16384 THEN 6 ELSE 7 END AS e
      FROM (SELECT *, least(abs(s), 32767) AS m FROM sm)
    ), rec AS (
      SELECT media_id, n, i,
             (CASE WHEN s >= 0 THEN 1 ELSE -1 END)
               * (CASE WHEN e = 0 THEN (m >> 4) * 16 + 8
                       ELSE (((m >> (e + 3)) & 15) * 16 + 264)
                            * (1 << (e - 1)) END) AS r
      FROM seg
    )
    SELECT media_id, 'alaw' AS codec, 8000 AS sample_rate, 1 AS channels,
           n AS n_samples,
           round(avg(abs(r)), 6) AS mean_amp,
           max(abs(r)) AS peak_amp,
           arg_min(r, i) AS first_sample,
           TRUE AS ok
    FROM rec GROUP BY media_id, n
"""


def _q_media_adpcm_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-audio gate #3: IMA/DVI ADPCM (tag 0x11) — a
    STATEFUL codec, unlike the companding gates. The encoder quantizes
    each delta to 4 bits against the public 89-entry step table and the
    decoder integrates; the oracle replays the exact integer recurrence
    (quantize, reconstruct, clamp, index-adjust, block-header snap at
    the 505-sample boundary) in a recursive CTE, so a single wrong
    table entry, clamp, or nibble order diverges the whole tail of the
    clip and fails the hash. The 512-sample clips span a block
    boundary, gating header predictor/index carry-over too."""
    media = mm.synthesize_adpcm_media(_docs(spark, sf_dir))
    return mm.decode_audio_real(media).select(
        "media_id", "codec", "sample_rate", "channels", "n_samples",
        F.round("mean_amp", 6).alias("mean_amp"),
        "peak_amp", "first_sample", "ok",
    )


_IMA_STEPS_SQL = (
    "[7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,"
    "60,66,73,80,88,97,107,118,130,143,157,173,190,209,230,253,279,"
    "307,337,371,408,449,494,544,598,658,724,796,876,963,1060,1166,"
    "1282,1411,1552,1707,1878,2066,2272,2499,2749,3024,3327,3660,4026,"
    "4428,4871,5358,5894,6484,7132,7845,8630,9493,10442,11487,12635,"
    "13899,15289,16818,18500,20350,22385,24623,27086,29794,32767]"
)

_MEDIA_ADPCM_ORACLE = f"""
    WITH RECURSIVE dims AS MATERIALIZED (
      SELECT doc_id AS media_id, (doc_id % 16 + 1) * 32 AS n
      FROM documents
    ),
    dec(media_id, n, p, r, idx) AS (
      SELECT media_id, n, 0, (media_id % 2048) - 1024, 0 FROM dims
      UNION ALL
      SELECT media_id, n, p1,
             CASE WHEN p1 % 505 = 0 THEN s
                  ELSE greatest(-32768, least(32767,
                    r + CASE WHEN d < 0 THEN -delta ELSE delta END)) END,
             CASE WHEN p1 % 505 = 0 THEN idx
                  ELSE greatest(0, least(88,
                    idx + CASE WHEN c7 < 4 THEN -1 ELSE 2 * c7 - 6 END))
             END
      FROM (
        SELECT media_id, n, p1, r, idx, s, d,
               (st >> 3) + b4 * st + b2 * (st >> 1) + b1 * (st >> 2)
                 AS delta,
               4 * b4 + 2 * b2 + b1 AS c7
        FROM (
          SELECT *, CASE WHEN ad - b4 * st - b2 * (st >> 1) >= (st >> 2)
                         THEN 1 ELSE 0 END AS b1
          FROM (
            SELECT *, CASE WHEN ad - b4 * st >= (st >> 1)
                           THEN 1 ELSE 0 END AS b2
            FROM (
              SELECT *, CASE WHEN ad >= st THEN 1 ELSE 0 END AS b4
              FROM (
                SELECT media_id, n, p + 1 AS p1, r, idx,
                       ((media_id + p + 1) % 2048) - 1024 AS s,
                       ((media_id + p + 1) % 2048) - 1024 - r AS d,
                       abs(((media_id + p + 1) % 2048) - 1024 - r) AS ad,
                       ({_IMA_STEPS_SQL})[idx + 1] AS st
                FROM dec WHERE p + 1 < n
              )
            )
          )
        )
      )
    )
    SELECT media_id, 'adpcm' AS codec, 8000 AS sample_rate, 1 AS channels,
           n AS n_samples,
           round(avg(abs(r)), 6) AS mean_amp,
           max(abs(r)) AS peak_amp,
           arg_min(r, p) AS first_sample,
           TRUE AS ok
    FROM dec GROUP BY media_id, n
"""


def _q_media_tar_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payloads through the tar-shard trip: the synthesized BMP
    corpus is written as WebDataset-style shards (<id>.bmp binary
    member), read back, and REAL-decoded — the decoder's
    position-sensitive outputs (top_left_r, per-channel means) hash
    against the same closed-form oracle as media_bmp_roundtrip, so a
    single corrupted byte anywhere in the shard round-trip fails the
    gate. This is the multimodal training-sample storage path end to
    end: synthesize -> shard -> scan -> decode, no shuffle anywhere."""
    from project_cortex_spark.sources import tar_shards

    media = mm.synthesize_bmp_media(_docs(spark, sf_dir))
    out = _export_dir(sf_dir, "media_tar")
    tar_shards.write_tar_shards(
        media, out, key_col="media_id", members={"bmp": "payload"},
        n_shards=4,
    )
    back = tar_shards.read_tar_shards(
        spark, out, members={"bmp": "payload"}, binary=("bmp",)
    ).select(
        F.col("sample_key").cast("long").alias("media_id"), "payload"
    )
    return mm.decode_image_real(back).select(
        "media_id",
        "codec",
        "width",
        "height",
        "channels",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
        "top_left_r",
        "ok",
    )


_MEDIA_BMP_ORACLE = """
    WITH dims AS (
      SELECT doc_id AS media_id,
             (doc_id % 8 + 1) * 4 AS width,
             (doc_id % 4 + 1) * 4 AS height
      FROM documents
    ), px AS (
      SELECT media_id, width, height,
             (media_id + 3 * i) % 256 AS r,
             (media_id + 3 * i + 1) % 256 AS g,
             (media_id + 3 * i + 2) % 256 AS b
      FROM dims, unnest(range(width * height)) AS t(i)
    )
    SELECT media_id, 'bmp' AS codec, width, height, 3 AS channels,
           round(avg(r), 6) AS mean_r,
           round(avg(g), 6) AS mean_g,
           round(avg(b), 6) AS mean_b,
           media_id % 256 AS top_left_r,
           TRUE AS ok
    FROM px GROUP BY media_id, width, height
"""

_MEDIA_PNG_ORACLE = _MEDIA_BMP_ORACLE.replace("'bmp' AS codec", "'png' AS codec")


_ANSI_RECURSIVE_SQL = """
    WITH RECURSIVE edges AS (
      SELECT src, dst FROM (
        SELECT o_orderkey AS src,
               lead(o_orderkey) OVER (
                 PARTITION BY o_custkey ORDER BY o_orderkey) AS dst
        FROM orders
      ) c WHERE dst IS NOT NULL
    ),
    roots AS (
      SELECT min(o_orderkey) AS node FROM orders WHERE o_custkey =
        (SELECT o_custkey FROM orders
         GROUP BY o_custkey ORDER BY count(*) DESC, o_custkey LIMIT 1)
    ),
    walk(node, depth) AS (
      SELECT node, 0 FROM roots
      UNION ALL
      SELECT e.dst, w.depth + 1
      FROM walk w JOIN edges e ON e.src = w.node
      WHERE w.depth < 4
    )
    SELECT node, min(depth) AS depth
    FROM walk WHERE depth > 0 GROUP BY node
"""


def _q_sql_ansi_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-SQL passthrough, recursive form (VERDICT r4 item 6): the
    SAME ``WITH RECURSIVE`` traversal — edge derivation via a window
    function, root selection via a correlated subquery, depth-bounded
    walk, min-depth collapse — executes verbatim on Spark 4 (SPARK-24497
    UnionLoopExec) and on DuckDB. This covers the reference's most
    distinctive query family (graph traversal is WITH RECURSIVE SQLite
    CTEs there, CLAUDE.md:569) on the raw-SQL surface; the DataFrame
    BFS (graph_callees_*) remains the scale path: it keeps the frontier
    on the driver and runs one broadcast semi-join scan of the edges per
    level, while UnionLoopExec re-runs the edge subquery per iteration
    (acceptable at bounded depth <= 6)."""
    reg = _registry(spark, sf_dir)
    reg.table("orders").createOrReplaceTempView("orders")
    return spark.sql(_ANSI_RECURSIVE_SQL)


def _q_stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # built-in sliding window as watermarked streaming state: same
    # oracle as the batch events_sliding_window
    with stream_source.scoped_state_partitions(spark, _STREAM_STATE_PARTITIONS):
        stream = stream_source.stream_table(spark, sf_dir, "events")
        return stream_source.run_to_memory(
            stream_windows.sliding_window_stream(
                stream, minutes=60, slide_minutes=15
            ),
            query_name="q_stream_sliding",
            output_mode="complete",
        )


def _q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # simulated at-least-once transport: the SAME source unioned with
    # itself (every event delivered twice); exactly-once dedup must
    # reproduce the original table precisely
    with stream_source.scoped_state_partitions(spark, _STREAM_STATE_PARTITIONS):
        stream = stream_source.stream_table(spark, sf_dir, "events")
        doubled = stream.union(stream)
        return stream_source.run_to_memory(
            stream_dedup.dedup_stream(doubled).select(
                "event_id",
                "user_id",
                "event_type",
                F.unix_micros("ts").alias("ts_us"),
                F.round(F.col("value") * 10000).cast("long").alias("value_e4"),
            ),
            query_name="q_stream_dedup",
            output_mode="append",
        )


def _q_stream_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # continuous-aggregate contract: deliver the events table in TWO
    # increments (even ids, then odd — arrival order != event-time
    # order), maintain the rollup incrementally, and require the merged
    # result to hash-match the one-shot batch aggregate (the oracle).
    import shutil
    import tempfile

    events = _events(spark, sf_dir)
    scratch = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "spark-warehouse"
    )
    os.makedirs(scratch, exist_ok=True)
    base = tempfile.mkdtemp(prefix="rollup_", dir=scratch)
    in_dir = os.path.join(base, "incoming")
    parts = os.path.join(base, "partials")
    ckpt = os.path.join(base, "ckpt")
    try:
        for parity in (0, 1):  # two deliveries, one stream run each
            events.filter(F.col("event_id") % 2 == parity).write.mode(
                "append"
            ).parquet(in_dir)
            with stream_source.scoped_state_partitions(
                spark, _STREAM_STATE_PARTITIONS
            ):
                q = stream_rollup.continuous_rollup(
                    spark,
                    in_dir,
                    events.schema,
                    partials_dir=parts,
                    checkpoint_dir=ckpt,
                    minutes=60,
                )
                q.awaitTermination()
        out = stream_rollup.read_rollup(spark, parts).select(
            F.unix_micros("window_start").alias("window_start_us"),
            "event_type",
            "n_events",
            "sum_value_e4",
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _q_stream_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    # streaming twin of events_ewma: TWO out-of-order deliveries feed
    # the monoid count-partial store; the read-side fold over the
    # merged ordered buckets must hash-match the one-shot batch EWMA
    # (same fold shape -> same oracle, oracle.ewma_sql)
    import shutil
    import tempfile

    events = _events(spark, sf_dir)
    scratch = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "spark-warehouse"
    )
    os.makedirs(scratch, exist_ok=True)
    base = tempfile.mkdtemp(prefix="ewma_", dir=scratch)
    in_dir = os.path.join(base, "incoming")
    parts = os.path.join(base, "partials")
    ckpt = os.path.join(base, "ckpt")
    try:
        for parity in (0, 1):
            events.filter(F.col("event_id") % 2 == parity).write.mode(
                "append"
            ).parquet(in_dir)
            with stream_source.scoped_state_partitions(
                spark, _STREAM_STATE_PARTITIONS
            ):
                q = stream_rollup.continuous_rollup(
                    spark,
                    in_dir,
                    events.schema,
                    partials_dir=parts,
                    checkpoint_dir=ckpt,
                    minutes=60,
                )
                q.awaitTermination()
        out = stream_rollup.read_ewma(spark, parts, alpha=0.25)
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _q_stream_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # incremental near-dup index contract: deliver the documents table
    # in TWO increments, maintain the MinHash signature store
    # incrementally (each batch shingles only ITS documents), and
    # require the merge-on-read near-dup pairs to hash-match the
    # one-shot batch operator's oracle over the full corpus.
    import shutil
    import tempfile

    from project_cortex_spark.streaming import neardup as stream_neardup

    docs = _docs(spark, sf_dir)
    scratch = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "spark-warehouse"
    )
    os.makedirs(scratch, exist_ok=True)
    base = tempfile.mkdtemp(prefix="neardup_", dir=scratch)
    in_dir = os.path.join(base, "incoming")
    sigs = os.path.join(base, "sigs")
    ckpt = os.path.join(base, "ckpt")
    try:
        for parity in (0, 1):  # two deliveries, one stream run each
            docs.filter(F.col("doc_id") % 2 == parity).write.mode(
                "append"
            ).parquet(in_dir)
            with stream_source.scoped_state_partitions(
                spark, _STREAM_STATE_PARTITIONS
            ):
                q = stream_neardup.continuous_signatures(
                    spark,
                    in_dir,
                    docs.schema,
                    sigs_dir=sigs,
                    checkpoint_dir=ckpt,
                )
                q.awaitTermination()
        out = stream_neardup.read_near_duplicates(
            spark, sigs, docs, threshold=0.5
        ).withColumn("jaccard", F.round("jaccard", 6))
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _q_stream_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    # incremental ED index contract (the neardup split): deliver the
    # documents in TWO increments, maintain the (doc_id, key) store
    # incrementally (each batch projects only ITS documents, overwrite
    # into its batch partition — replay-idempotent), and require the
    # merge-on-read PassJoin pairs to hash-match the one-shot batch
    # operator's brute-force oracle over the full corpus.
    import shutil
    import tempfile

    from project_cortex_spark.streaming import editdist as stream_ed

    docs = _docs(spark, sf_dir)
    scratch = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "spark-warehouse"
    )
    os.makedirs(scratch, exist_ok=True)
    base = tempfile.mkdtemp(prefix="edjoin_", dir=scratch)
    in_dir = os.path.join(base, "incoming")
    keys = os.path.join(base, "keys")
    ckpt = os.path.join(base, "ckpt")
    try:
        for parity in (0, 1):  # two deliveries, one stream run each
            docs.filter(F.col("doc_id") % 2 == parity).write.mode(
                "append"
            ).parquet(in_dir)
            with stream_source.scoped_state_partitions(
                spark, _STREAM_STATE_PARTITIONS
            ):
                q = stream_ed.continuous_keys(
                    spark,
                    in_dir,
                    docs.schema,
                    keys_dir=keys,
                    checkpoint_dir=ckpt,
                )
                q.awaitTermination()
        out = stream_ed.read_pairs(spark, keys, k=2, key_len=32)
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _q_stream_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    # incremental union-find: the near-dup PAIRS delivered in two
    # hash-split increments; each batch contracts its pairs through the
    # persisted roots and star-CCs only the contracted root graph
    # (history's edges are never stored or re-scanned). Min-rooting is
    # associative, so the final map must hash-match the one-shot batch
    # component oracle over the full pair set.
    import shutil
    import tempfile

    from project_cortex_spark.streaming import components as stream_cc

    pairs = dd.minhash_near_duplicates(
        _docs(spark, sf_dir), threshold=0.5
    ).select("a", "b").localCheckpoint(eager=True)
    scratch = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "spark-warehouse"
    )
    os.makedirs(scratch, exist_ok=True)
    base = tempfile.mkdtemp(prefix="streamcc_", dir=scratch)
    in_dir = os.path.join(base, "incoming")
    store = os.path.join(base, "components")
    ckpt = os.path.join(base, "ckpt")
    try:
        split = F.xxhash64("a", "b") % 2 == 0
        for part in (pairs.filter(split), pairs.filter(~split)):
            part.write.mode("append").parquet(in_dir)
            with stream_source.scoped_state_partitions(
                spark, _STREAM_STATE_PARTITIONS
            ):
                q = stream_cc.continuous_components(
                    spark,
                    in_dir,
                    pairs.schema,
                    store_dir=store,
                    checkpoint_dir=ckpt,
                )
                q.awaitTermination()
        return stream_cc.read_components(spark, store).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _q_stream_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the streaming C4 step: documents delivered in TWO id-ordered
    # increments, the seen-paragraph store appended per batch (history
    # never re-split), each delivery's cleaned docs emitted immediately
    # — the accumulated corpus must hash-match the one-shot batch
    # dedup_paragraphs oracle (id-ordered deliveries make the
    # delivery-order first-occurrence rule coincide with the batch
    # operator's global (doc_id, pos) rule).
    import shutil
    import tempfile

    from project_cortex_spark.streaming import paradedup as stream_para

    docs = _docs(spark, sf_dir)
    mid = docs.agg(F.max("doc_id")).first()[0] // 2
    scratch = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "spark-warehouse"
    )
    os.makedirs(scratch, exist_ok=True)
    base = tempfile.mkdtemp(prefix="paradedup_", dir=scratch)
    in_dir = os.path.join(base, "incoming")
    out_dir = os.path.join(base, "cleaned")
    seen = os.path.join(base, "seen")
    ckpt = os.path.join(base, "ckpt")
    try:
        for lo, hi in ((None, mid), (mid, None)):  # id-ordered deliveries
            part = docs
            if lo is not None:
                part = part.filter(F.col("doc_id") >= lo)
            if hi is not None:
                part = part.filter(F.col("doc_id") < hi)
            # one file per delivery -> one micro-batch per delivery, so
            # cross-batch first-occurrence order == doc_id order
            part.coalesce(1).write.mode("append").parquet(in_dir)
            with stream_source.scoped_state_partitions(
                spark, _STREAM_STATE_PARTITIONS
            ):
                q = stream_para.continuous_paragraph_dedup(
                    spark,
                    in_dir,
                    docs.schema,
                    out_dir=out_dir,
                    seen_dir=seen,
                    checkpoint_dir=ckpt,
                )
                q.awaitTermination()
        return stream_para.read_cleaned_corpus(spark, out_dir).localCheckpoint(
            eager=True
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _q_stream_fts(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the reference's core loop as a streaming contract: documents
    # delivered in TWO increments, the FTS posting/doc-stat store
    # appended per batch (only NEW docs tokenized), and a composite
    # BM25 query over the merged store must hash-match the one-shot
    # batch index's oracle (same query as fts_composite).
    import shutil
    import tempfile

    from project_cortex_spark.streaming import fts_index as stream_fts

    docs = _docs(spark, sf_dir)
    scratch = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "spark-warehouse"
    )
    os.makedirs(scratch, exist_ok=True)
    base = tempfile.mkdtemp(prefix="ftsidx_", dir=scratch)
    in_dir = os.path.join(base, "incoming")
    idx = os.path.join(base, "index")
    ckpt = os.path.join(base, "ckpt")
    try:
        for parity in (0, 1):
            docs.filter(F.col("doc_id") % 2 == parity).write.mode(
                "append"
            ).parquet(in_dir)
            with stream_source.scoped_state_partitions(
                spark, _STREAM_STATE_PARTITIONS
            ):
                q = stream_fts.continuous_fts_index(
                    spark,
                    in_dir,
                    docs.schema,
                    index_dir=idx,
                    checkpoint_dir=ckpt,
                )
                q.awaitTermination()
        index = stream_fts.read_fts_index(spark, idx, docs)
        out = fts_mod.fts_search(
            index, '(merge OR stream) "fast sort" NOT error', limit=25,
            rank_digits=9,
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _q_stream_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # streaming twin of search_hybrid_rrf: documents delivered in TWO
    # increments feed BOTH retrieval stores — the FTS posting/doc-stat
    # store and the doc-vector store (each batch embeds only NEW docs)
    # — then the SAME fused RRF query over the merged stores must
    # hash-match the one-shot batch oracle (same key arithmetic,
    # same fusion; oracle.hybrid_rrf_oracle_sql).
    import shutil
    import tempfile

    from project_cortex_spark.streaming import fts_index as stream_fts
    from project_cortex_spark.streaming import hybrid as stream_hybrid

    docs = _docs(spark, sf_dir)
    scratch = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "spark-warehouse"
    )
    os.makedirs(scratch, exist_ok=True)
    base = tempfile.mkdtemp(prefix="hybidx_", dir=scratch)
    in_dir = os.path.join(base, "incoming")
    idx = os.path.join(base, "fts")
    vecs = os.path.join(base, "vecs")
    ckpt_f = os.path.join(base, "ckpt_fts")
    ckpt_v = os.path.join(base, "ckpt_vec")
    try:
        for parity in (0, 1):
            docs.filter(F.col("doc_id") % 2 == parity).write.mode(
                "append"
            ).parquet(in_dir)
            with stream_source.scoped_state_partitions(
                spark, _STREAM_STATE_PARTITIONS
            ):
                q1 = stream_fts.continuous_fts_index(
                    spark,
                    in_dir,
                    docs.schema,
                    index_dir=idx,
                    checkpoint_dir=ckpt_f,
                )
                q1.awaitTermination()
                q2 = stream_hybrid.continuous_doc_vectors(
                    spark,
                    in_dir,
                    docs.schema,
                    store_dir=vecs,
                    checkpoint_dir=ckpt_v,
                    dim=32,
                )
                q2.awaitTermination()
        index = stream_fts.read_fts_index(spark, idx, docs)
        vstore = stream_hybrid.read_doc_vectors(spark, vecs)
        out = search_mod.hybrid_search_rrf(
            index,
            vstore,
            "key OR agg OR row OR scan",
            "key agg row scan",
            k=15,
            n_per_list=50,
            rrf_k=60,
            dim=32,
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _q_stream_fts_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the MAINTENANCE path gated end-to-end: build the incremental FTS
    # store over two deliveries, COMPACT both substores (atomic swap,
    # layout.compact_store — flat rewrite is safe here because the
    # readers use recursive lookup, not the batch= layout), then the
    # same composite BM25 query must still hash-match the one-shot
    # batch oracle. Proves compaction preserves gate-level correctness,
    # not just file counts.
    import shutil
    import tempfile

    from project_cortex_spark.streaming import fts_index as stream_fts

    docs = _docs(spark, sf_dir)
    scratch = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "spark-warehouse"
    )
    os.makedirs(scratch, exist_ok=True)
    base = tempfile.mkdtemp(prefix="ftscompact_", dir=scratch)
    in_dir = os.path.join(base, "incoming")
    idx = os.path.join(base, "index")
    ckpt = os.path.join(base, "ckpt")
    try:
        for parity in (0, 1):
            docs.filter(F.col("doc_id") % 2 == parity).write.mode(
                "append"
            ).parquet(in_dir)
            with stream_source.scoped_state_partitions(
                spark, _STREAM_STATE_PARTITIONS
            ):
                q = stream_fts.continuous_fts_index(
                    spark,
                    in_dir,
                    docs.schema,
                    index_dir=idx,
                    checkpoint_dir=ckpt,
                )
                q.awaitTermination()
        stats = {
            sub: layout_mod.compact_store(
                spark, os.path.join(idx, sub), target_files=1
            )
            for sub in ("postings", "doc_stats")
        }
        assert all(
            s["files_after"] < s["files_before"] for s in stats.values()
        ), stats
        index = stream_fts.read_fts_index(spark, idx, docs)
        out = fts_mod.fts_search(
            index, '(merge OR stream) "fast sort" NOT error', limit=25,
            rank_digits=9,
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _q_stream_hybrid_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # maintenance path for BOTH hybrid stores: build incrementally over
    # two deliveries, COMPACT the posting, doc-stat AND doc-vector
    # stores (atomic swap), then the fused RRF query must still
    # hash-match the one-shot batch oracle — compaction preserves
    # gate-level correctness across every store the hybrid reads.
    import shutil
    import tempfile

    from project_cortex_spark.streaming import fts_index as stream_fts
    from project_cortex_spark.streaming import hybrid as stream_hybrid

    docs = _docs(spark, sf_dir)
    scratch = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "spark-warehouse"
    )
    os.makedirs(scratch, exist_ok=True)
    base = tempfile.mkdtemp(prefix="hybcompact_", dir=scratch)
    in_dir = os.path.join(base, "incoming")
    idx = os.path.join(base, "fts")
    vecs = os.path.join(base, "vecs")
    ckpt_f = os.path.join(base, "ckpt_fts")
    ckpt_v = os.path.join(base, "ckpt_vec")
    try:
        for parity in (0, 1):
            docs.filter(F.col("doc_id") % 2 == parity).write.mode(
                "append"
            ).parquet(in_dir)
            with stream_source.scoped_state_partitions(
                spark, _STREAM_STATE_PARTITIONS
            ):
                q1 = stream_fts.continuous_fts_index(
                    spark, in_dir, docs.schema,
                    index_dir=idx, checkpoint_dir=ckpt_f,
                )
                q1.awaitTermination()
                q2 = stream_hybrid.continuous_doc_vectors(
                    spark, in_dir, docs.schema,
                    store_dir=vecs, checkpoint_dir=ckpt_v, dim=32,
                )
                q2.awaitTermination()
        stats = {
            p: layout_mod.compact_store(spark, p, target_files=1)
            for p in (
                os.path.join(idx, "postings"),
                os.path.join(idx, "doc_stats"),
                vecs,
            )
        }
        assert all(
            s["files_after"] < s["files_before"] for s in stats.values()
        ), stats
        index = stream_fts.read_fts_index(spark, idx, docs)
        vstore = stream_hybrid.read_doc_vectors(spark, vecs)
        out = search_mod.hybrid_search_rrf(
            index,
            vstore,
            "key OR agg OR row OR scan",
            "key agg row scan",
            k=15,
            n_per_list=50,
            rrf_k=60,
            dim=32,
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _q_stream_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # incremental vector index contract: embeddings delivered in TWO
    # increments, assignments (frozen centroids) appended per batch,
    # and a FULL-probe IVF query over the merged store must hash-match
    # the EXACT join oracle — the strongest gate an ANN store admits.
    import shutil
    import tempfile

    from project_cortex_spark.streaming import vec_index as stream_vec

    emb = _registry(spark, sf_dir).table("embeddings")
    cent = knn_mod.train_centroids(emb, n_centroids=16)
    scratch = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "spark-warehouse"
    )
    os.makedirs(scratch, exist_ok=True)
    base = tempfile.mkdtemp(prefix="vecidx_", dir=scratch)
    in_dir = os.path.join(base, "incoming")
    idx = os.path.join(base, "index")
    ckpt = os.path.join(base, "ckpt")
    try:
        for parity in (0, 1):
            emb.filter(F.col("vec_id") % 2 == parity).write.mode(
                "append"
            ).parquet(in_dir)
            with stream_source.scoped_state_partitions(
                spark, _STREAM_STATE_PARTITIONS
            ):
                q = stream_vec.continuous_vec_index(
                    spark,
                    in_dir,
                    emb.schema,
                    index_dir=idx,
                    checkpoint_dir=ckpt,
                    centroids=cent,
                )
                q.awaitTermination()
        store = stream_vec.read_vec_index(spark, idx)
        out = knn_mod.knn_join_ivf(
            _knn_queries(spark, sf_dir),
            emb,
            k=5,
            n_centroids=16,
            nprobe=16,
            centroids=cent,
            assigned=store,
        ).withColumn("score", F.round("score", 6))
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _build_persisted_ivf(spark, sf_dir, base):
    # shared harness for the persisted-IVF gates: train the REPLAYABLE
    # ordered centroids, PERSIST them (write_centroids), then deliver
    # the embeddings in two increments to a stream job that loads the
    # centroids from the index directory (centroids=None) — no
    # in-memory handoff between trainer and assigner.
    from project_cortex_spark.streaming import vec_index as stream_vec

    emb = _registry(spark, sf_dir).table("embeddings")
    cent = knn_mod.train_centroids_ordered(
        emb, id_col="vec_id", vec_col="embedding", n_centroids=16, iters=8
    )
    in_dir = os.path.join(base, "incoming")
    idx = os.path.join(base, "index")
    ckpt = os.path.join(base, "ckpt")
    stream_vec.write_centroids(spark, cent, idx)
    for parity in (0, 1):
        emb.filter(F.col("vec_id") % 2 == parity).write.mode(
            "append"
        ).parquet(in_dir)
        with stream_source.scoped_state_partitions(
            spark, _STREAM_STATE_PARTITIONS
        ):
            q = stream_vec.continuous_vec_index(
                spark,
                in_dir,
                emb.schema,
                index_dir=idx,
                checkpoint_dir=ckpt,
            )
            q.awaitTermination()
    return idx


def _q_stream_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # persisted-IVF streaming twin (VERDICT r6 item 6): centroids
    # written to the index ONCE, each delivery assigns its vectors
    # against the PERSISTED matrix, and the PARTIAL-probe (nprobe=4)
    # query over the merged store + disk-loaded centroids must
    # hash-match oracle.knn_ivf_join_oracle_sql — which re-derives the
    # same centroids from the same parquet (replayable trainer), so the
    # whole persisted lifecycle is output-gated, not just row-counted.
    import shutil
    import tempfile

    from project_cortex_spark.streaming import vec_index as stream_vec

    scratch = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "spark-warehouse"
    )
    os.makedirs(scratch, exist_ok=True)
    base = tempfile.mkdtemp(prefix="ivfidx_", dir=scratch)
    try:
        idx = _build_persisted_ivf(spark, sf_dir, base)
        out = knn_mod.knn_join_ivf(
            _knn_queries(spark, sf_dir),
            _registry(spark, sf_dir).table("embeddings"),
            k=5,
            n_centroids=16,
            nprobe=4,
            centroids=stream_vec.read_centroids(spark, idx),
            assigned=stream_vec.read_vec_index(spark, idx),
        ).withColumn("score", F.round("score", 6))
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _q_knn_ivf_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the MAINTENANCE path gated end-to-end: build the persisted index
    # over two deliveries, then retrain_and_swap — re-train on the
    # ACCUMULATED store (same vector set, ordered replayable trainer ⇒
    # bit-identical centroids), re-assign, atomic two-rename swap that
    # also compacts per-batch files — and the same partial-probe query
    # must still hash-match the replayed-trainer oracle. Proves the
    # rebuild preserves gate-level correctness, not just file counts
    # (the stream_hybrid_compacted contract, ported to the ANN store).
    import shutil
    import tempfile

    from project_cortex_spark.streaming import vec_index as stream_vec

    scratch = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "spark-warehouse"
    )
    os.makedirs(scratch, exist_ok=True)
    base = tempfile.mkdtemp(prefix="ivfcompact_", dir=scratch)
    try:
        idx = _build_persisted_ivf(spark, sf_dir, base)
        stats = stream_vec.retrain_and_swap(
            spark, idx, n_centroids=16, iters=8, target_files=1
        )
        assert stats["files_after"] < stats["files_before"], stats
        out = knn_mod.knn_join_ivf(
            _knn_queries(spark, sf_dir),
            _registry(spark, sf_dir).table("embeddings"),
            k=5,
            n_centroids=16,
            nprobe=4,
            centroids=stream_vec.read_centroids(spark, idx),
            assigned=stream_vec.read_vec_index(spark, idx),
        ).withColumn("score", F.round("score", 6))
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _build_persisted_pq(spark, sf_dir, base):
    # shared harness for the persisted-PQ gates (VERDICT r7 item 5 —
    # store parity with IVF): train the REPLAYABLE ordered codebooks,
    # PERSIST them (write_codebooks), then deliver the embeddings in
    # two increments to a stream job that loads the books from the
    # index directory (codebooks=None) — no in-memory handoff between
    # trainer and encoder.
    from project_cortex_spark.streaming import vec_index as stream_vec

    emb = _registry(spark, sf_dir).table("embeddings")
    books = knn_mod.train_pq_codebooks_ordered(
        emb, id_col="vec_id", vec_col="embedding", n_subspaces=8,
        n_codes=16, iters=8,
    )
    in_dir = os.path.join(base, "incoming")
    idx = os.path.join(base, "index")
    ckpt = os.path.join(base, "ckpt")
    stream_vec.write_codebooks(spark, books, idx)
    for parity in (0, 1):
        emb.filter(F.col("vec_id") % 2 == parity).write.mode(
            "append"
        ).parquet(in_dir)
        with stream_source.scoped_state_partitions(
            spark, _STREAM_STATE_PARTITIONS
        ):
            q = stream_vec.continuous_pq_index(
                spark,
                in_dir,
                emb.schema,
                index_dir=idx,
                checkpoint_dir=ckpt,
            )
            q.awaitTermination()
    return idx


def _pq_probe(spark, sf_dir, idx) -> DataFrame:
    # shared ADC top-k over a persisted PQ index: disk-loaded codebooks
    # + the accumulated code store — the one probe both PQ gates run
    from project_cortex_spark.streaming import vec_index as stream_vec

    return knn_mod.knn_join_pq(
        _knn_queries(spark, sf_dir),
        _registry(spark, sf_dir).table("embeddings"),
        k=5,
        n_subspaces=8,
        n_codes=16,
        codebooks=stream_vec.read_codebooks(spark, idx),
        coded=stream_vec.read_pq_index(spark, idx),
    )


def _q_stream_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    # persisted-PQ streaming twin: codebooks written to the index ONCE,
    # each delivery encodes its vectors against the PERSISTED tensor,
    # and the ADC top-k over the merged code store + disk-loaded books
    # must hash-match oracle.knn_pq_join_oracle_sql — which re-derives
    # the same codebooks from the same parquet (replayable trainer) and
    # replays normalize/encode/distance-table/gather/top-k in SQL, so
    # the whole persisted lifecycle is output-gated.
    import shutil
    import tempfile

    scratch = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "spark-warehouse"
    )
    os.makedirs(scratch, exist_ok=True)
    base = tempfile.mkdtemp(prefix="pqidx_", dir=scratch)
    try:
        idx = _build_persisted_pq(spark, sf_dir, base)
        return _pq_probe(spark, sf_dir, idx).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _q_knn_pq_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the PQ MAINTENANCE path gated end-to-end: build the persisted
    # index over two deliveries, then retrain_pq_and_swap — re-train on
    # the ACCUMULATED store (same vector set, ordered replayable
    # trainer ⇒ bit-identical codebooks), re-encode, atomic two-rename
    # swap that also compacts per-batch files — and the same ADC top-k
    # must still hash-match the replayed-trainer oracle (the
    # knn_ivf_compacted contract, ported to the PQ store).
    import shutil
    import tempfile

    from project_cortex_spark.streaming import vec_index as stream_vec

    scratch = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "spark-warehouse"
    )
    os.makedirs(scratch, exist_ok=True)
    base = tempfile.mkdtemp(prefix="pqcompact_", dir=scratch)
    try:
        idx = _build_persisted_pq(spark, sf_dir, base)
        stats = stream_vec.retrain_pq_and_swap(
            spark, idx, n_subspaces=8, n_codes=16, iters=8, target_files=1
        )
        assert stats["files_after"] < stats["files_before"], stats
        return _pq_probe(spark, sf_dir, idx).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _q_stream_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # stream-static as-of: the events STREAM resolved against the static
    # checkpoint table (same ckpt/payload definition as join_asof, same
    # oracle) via the stateless broadcast-snapshot mapInPandas — append
    # mode, no watermark, no join state
    from project_cortex_spark.streaming import joins as stream_joins

    events = _events(spark, sf_dir)
    w = Window.partitionBy("user_id", "ts").orderBy(F.col("event_id").desc())
    ckpt = (
        events.filter(F.col("event_id") % 10 == 0)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("user_id", "ts", "value")
    )
    stream = stream_source.stream_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    joined = stream_joins.asof_join_stream(
        stream, ckpt, on="user_id", right_payload=["value"]
    )
    return stream_source.run_to_memory(
        joined.select(
            "event_id",
            "user_id",
            F.unix_micros("ts").alias("ts_us"),
            F.round("value", 6).alias("value"),
            F.round("right_value", 6).alias("ckpt_value"),
        ),
        query_name="q_stream_asof_join",
        output_mode="append",
    )


def _q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    # stream-stream interval join: two live copies of the events stream,
    # ordered pairs within 60 event-time minutes per user; watermarks on
    # both sides bound the join state (inner results emit immediately, so
    # the finite run hash-matches the batch self-join oracle)
    from project_cortex_spark.streaming import joins as stream_joins

    with stream_source.scoped_state_partitions(spark, _STREAM_STATE_PARTITIONS):
        a = stream_source.stream_table(spark, sf_dir, "events")
        b = stream_source.stream_table(spark, sf_dir, "events")
        return stream_source.run_to_memory(
            stream_joins.interval_join_stream(a, b, minutes=60),
            query_name="q_stream_interval_join",
            output_mode="append",
        )


def _q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    with stream_source.scoped_state_partitions(spark, _STREAM_STATE_PARTITIONS):
        stream = stream_source.stream_table(spark, sf_dir, "events")
        return stream_source.run_to_memory(
            stream_windows.sessionize_stream(stream, gap_minutes=30),
            query_name="q_stream_sessionize",
            output_mode="complete",
        ).select(
            "user_id",
            F.unix_micros("session_start").alias("session_start_us"),
            F.unix_micros("session_end").alias("session_end_us"),
            "n_events",
            "sum_value_e4",
        )


# ---------------------------------------------------------------------------
# composite and streaming-twin queries
# ---------------------------------------------------------------------------


# end-to-end curation composite: every stage is an existing gated
# operator; the chain is gated as ONE query so the stage interfaces
# (language gate feeding dedup feeding quality weights feeding the
# sampler) are verified end-to-end. The gate stage is language-ID
# rather than C4 because the synthetic word-salad corpus has no
# terminal punctuation — C4's document gate correctly keeps 0 docs
# of it (c4_clean stays independently gated on the same corpus).
def _q_corpus_curate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    en_ids = (
        ts.language_id(docs)
        .filter(F.col("lang_pred") == "en")
        .select("doc_id")
    )
    en_docs = docs.join(en_ids, "doc_id").select("doc_id", "text")
    deduped = dd.dedup_exact(en_docs)
    q = ts.quality_scores(deduped)
    return corpus_mod.importance_sample(
        q, weight_col="quality", scale=2.0
    ).select("doc_id", "quality")


# token-budgeted mixing: best-quality-first greedy fill per source
def _q_corpus_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    t = ts.token_stats(docs).select("doc_id", "n_tokens")
    q = ts.quality_scores(docs).select("doc_id", "quality")
    j = (
        docs.select("doc_id", "source")
        .join(t, "doc_id")
        .join(q, "doc_id")
    )
    return corpus_mod.token_budget_mix(
        j, key_col="source", budget_tokens=600
    ).select("doc_id", "source", "n_tokens", "quality", "cum_tokens")


def _q_stream_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    # streaming twin: the per-(group, bucket) counts are a pure
    # count monoid (complete-mode aggregate, state bounded by
    # active buckets per group); mu/sigma/fold run merge-on-read
    # over the cells. Same oracle as the batch query.
    with stream_source.scoped_state_partitions(
        spark, _STREAM_STATE_PARTITIONS
    ):
        stream = stream_source.stream_table(spark, sf_dir, "events")
        cells = stream_source.run_to_memory(
            ev.cusum_cells(stream),
            query_name="q_stream_cusum",
            output_mode="complete",
        )
        return ev.cusum_on_cells(cells)


def _q_stream_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    # streaming twin: same bucket-count monoid as stream_cusum
    # (complete-mode aggregate, state bounded by active buckets per
    # group); the lag-join + power-sum finisher runs merge-on-read.
    # Same oracle as the batch query.
    with stream_source.scoped_state_partitions(
        spark, _STREAM_STATE_PARTITIONS
    ):
        stream = stream_source.stream_table(spark, sf_dir, "events")
        cells = stream_source.run_to_memory(
            ev.bucket_count_cells(stream),
            query_name="q_stream_autocorr",
            output_mode="complete",
        )
        return ev.autocorr_on_cells(cells)


def _q_stream_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    # streaming twin: the same bucket-count monoid; the centered-MA
    # + phase-mean finisher runs merge-on-read. Same oracle.
    with stream_source.scoped_state_partitions(
        spark, _STREAM_STATE_PARTITIONS
    ):
        stream = stream_source.stream_table(spark, sf_dir, "events")
        cells = stream_source.run_to_memory(
            ev.bucket_count_cells(stream),
            query_name="q_stream_seasonal",
            output_mode="complete",
        )
        return ev.seasonal_on_cells(cells)


def _q_stream_holt(spark: SparkSession, sf_dir: str) -> DataFrame:
    # streaming twin: bucket-count monoid + merge-on-read Holt fold
    # (the same shape as stream_cusum — the 'stateful' smoother's
    # state is just the count cells). Same oracle as the batch.
    with stream_source.scoped_state_partitions(
        spark, _STREAM_STATE_PARTITIONS
    ):
        stream = stream_source.stream_table(spark, sf_dir, "events")
        cells = stream_source.run_to_memory(
            ev.bucket_count_cells(stream),
            query_name="q_stream_holt",
            output_mode="complete",
        )
        return ev.holt_on_cells(cells)


def _q_stream_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # streaming twin (VERDICT r8 item 4): the (group, bucket, side)
    # counts are a pure (sum, sum) monoid with <= n_buckets rows
    # per group — bounded state by construction; the bucket grid +
    # midpoint come from a FROZEN reference bounds frame broadcast
    # into each micro-batch (here derived from the batch table, so
    # the replayed stream reproduces the batch query and shares its
    # oracle). Finisher (smoothing + log-ratio fold) merge-on-read.
    with stream_source.scoped_state_partitions(
        spark, _STREAM_STATE_PARTITIONS
    ):
        stream = stream_source.stream_table(spark, sf_dir, "events")
        bounds = ev.drift_bounds(_events(spark, sf_dir))
        cells = stream_source.run_to_memory(
            ev.psi_drift_cells(stream, bounds),
            query_name="q_stream_psi_drift",
            output_mode="complete",
        )
        return ev.psi_drift_on_cells(cells)


def _q_stream_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # streaming twin: per-(group, distinct value) early/late counts
    # are the monoid (state bounded by value cardinality, not row
    # count — quantize upstream for unbounded domains); the ECDF
    # window runs merge-on-read over the cells. Same frozen-bounds
    # contract and same oracle as the batch query.
    with stream_source.scoped_state_partitions(
        spark, _STREAM_STATE_PARTITIONS
    ):
        stream = stream_source.stream_table(spark, sf_dir, "events")
        bounds = ev.drift_bounds(_events(spark, sf_dir))
        cells = stream_source.run_to_memory(
            ev.ks_drift_cells(stream, bounds),
            query_name="q_stream_ks_drift",
            output_mode="complete",
        )
        return ev.ks_drift_on_cells(cells)


def _q_stream_ttest_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    # streaming twin: the (group, side) power-sum cells are the
    # smallest monoid in the drift family (2 rows/group); frozen
    # bounds broadcast per micro-batch, finisher merge-on-read
    with stream_source.scoped_state_partitions(
        spark, _STREAM_STATE_PARTITIONS
    ):
        stream = stream_source.stream_table(spark, sf_dir, "events")
        bounds = ev.drift_bounds(_events(spark, sf_dir))
        cells = stream_source.run_to_memory(
            ev.ttest_cells(stream, bounds),
            query_name="q_stream_ttest_drift",
            output_mode="complete",
        )
        return ev.ttest_on_cells(cells)


def _media(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mm.synthesize_media(_docs(spark, sf_dir))


def _q_stream_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # streaming twin: (group, distinct value) count cells are the
    # monoid (state bounded by value cardinality — quantize
    # upstream for unbounded domains); finisher picks percentile
    # ranks off the cumulative step merge-on-read. Shares the
    # batch brute-force row_number oracle.
    with stream_source.scoped_state_partitions(
        spark, _STREAM_STATE_PARTITIONS
    ):
        stream = stream_source.stream_table(spark, sf_dir, "events")
        cells = stream_source.run_to_memory(
            sk.value_count_cells(stream),
            query_name="q_stream_quantiles",
            output_mode="complete",
        )
        return sk.quantiles_on_cells(cells)


# --- physical-layout techniques (sources/layout.py): z-order file
# envelopes replayed bit-for-bit; the bloom prefilter is result-
# preserving so its oracle is the plain join it accelerates
def _q_layout_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    return layout_mod.zorder_bucket_stats(_registry(spark, sf_dir).table("orders"))


def _q_join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    reg = _registry(spark, sf_dir)
    build = reg.table("orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    probe = layout_mod.bloom_semi_filter(
        reg.table("lineitem"),
        "l_orderkey",
        build.select("o_orderkey"),
        "o_orderkey",
    )
    joined = probe.join(
        build.select("o_orderkey"),
        probe.l_orderkey == F.col("o_orderkey"),
    )
    return (
        joined.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.countDistinct("l_orderkey").alias("n_orders"),
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")) * 100
                ).cast("bigint")
            ).alias("revenue_e2"),
        )
        .orderBy("l_returnflag")
    )


def _q_stream_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # streaming twin: token_stats is a stateless projection and the
    # bucket rollup a pure (count, sum) monoid, so the WHOLE op runs
    # as one complete-mode streaming aggregate; same oracle
    with stream_source.scoped_state_partitions(
        spark, _STREAM_STATE_PARTITIONS
    ):
        stream = stream_source.stream_table(spark, sf_dir, "documents")
        lens = ts.token_stats(stream).select("doc_id", "n_tokens")
        return stream_source.run_to_memory(
            corpus_mod.length_buckets(lens),
            query_name="q_stream_length_buckets",
            output_mode="complete",
        )


def _q_stream_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    # streaming twin of events_heavy_hitters: the CMS cell counts
    # are a pure algebraic aggregate maintained by the stream (the
    # sketch is a monoid — micro-batches merge by summing cells);
    # the min-over-rows estimate is merge-on-read. Same oracle as
    # the batch query.
    with stream_source.scoped_state_partitions(
        spark, _STREAM_STATE_PARTITIONS
    ):
        stream = stream_source.stream_table(spark, sf_dir, "events")
        cells = stream_source.run_to_memory(
            sk.cms_cells(stream),
            query_name="q_stream_heavy_hitters",
            output_mode="complete",
        )
        return sk.cms_estimate_on_cells(
            cells, _events(spark, sf_dir)
        )


def _q_stream_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    # streaming twin of stats_hll_distinct: the registers are a MAX
    # aggregate maintained by the stream (the HLL monoid — any
    # partitioning of the data merges losslessly); the estimate is
    # merge-on-read. Same oracle as the batch query.
    with stream_source.scoped_state_partitions(
        spark, _STREAM_STATE_PARTITIONS
    ):
        stream = stream_source.stream_table(spark, sf_dir, "events")
        regs = stream_source.run_to_memory(
            sk.hll_registers(stream),
            query_name="q_stream_hll_distinct",
            output_mode="complete",
        )
        return sk.hll_estimate_on_registers(
            regs, _events(spark, sf_dir)
        )


def _q_stream_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    # streaming twin: the power sums are a pure algebraic aggregate
    # (monoid — micro-batches merge by summing), finalize on read;
    # same oracle as the batch query
    with stream_source.scoped_state_partitions(
        spark, _STREAM_STATE_PARTITIONS
    ):
        stream = stream_source.stream_table(spark, sf_dir, "events")
        partials = stream_source.run_to_memory(
            sk.moment_partials(stream),
            query_name="q_stream_moments",
            output_mode="complete",
        )
        return sk.moment_stats_on_partials(partials)


# precedence dedup: within a duplicate group keep the copy from the
# highest-precedence source, not the minimum id. The fixture has no
# exact document duplicates, so the query builds the replica corpus
# the unicode_nfc gate uses: every 7th doc mirrored under a 'mirror'
# source that outranks all crawl sources — keep_best must pick every
# mirror copy (larger id, better source) where min-id dedup would not.
def _q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "text", "source")
    mirror = docs.filter("doc_id % 7 = 0").select(
        (F.col("doc_id") + 10000000).alias("doc_id"),
        "text",
        F.lit("mirror").alias("source"),
    )
    corpus = docs.unionByName(mirror).withColumn(
        "priority",
        F.when(F.col("source") == "mirror", F.lit(0).cast("bigint")).otherwise(
            F.expr("cast(substr(source, 4) as bigint) + 1")
        ),
    )
    return dd.dedup_keep_best(corpus)


def _q_stream_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    # streaming twin of text_source_divergence: the (source, term)
    # token counts are a SUM monoid maintained by the stream; the
    # KL finisher is merge-on-read. Same oracle as the batch query.
    with stream_source.scoped_state_partitions(
        spark, _STREAM_STATE_PARTITIONS
    ):
        stream = stream_source.stream_table(spark, sf_dir, "documents")
        counts = stream_source.run_to_memory(
            ts.source_term_counts(stream),
            query_name="q_stream_source_divergence",
            output_mode="complete",
        )
        # the finisher SELF-JOINS the count frame (src slice vs
        # term rollup); cut the memory-sink lineage first — the
        # shared-relation self-join trips the analyzer otherwise
        return ts.divergence_on_counts(
            counts.localCheckpoint(eager=True), min_count=2
        )


def _q_stream_kmv_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # streaming twin of stats_kmv_overlap: the distinct (group, key)
    # membership is the stream-maintained state (a set-union
    # monoid); the bottom-k estimator is merge-on-read. Same oracle
    # as the batch query.
    with stream_source.scoped_state_partitions(
        spark, _STREAM_STATE_PARTITIONS
    ):
        stream = stream_source.stream_table(spark, sf_dir, "events")
        du = stream_source.run_to_memory(
            sk.kmv_distinct_pairs(stream),
            query_name="q_stream_kmv_overlap",
            output_mode="complete",
        )
        # the finisher reuses the frame (groups distinct + member
        # sets + pair cross): cut the memory-sink lineage first
        return sk.kmv_overlap_on_distinct(du.localCheckpoint(eager=True))


def _q_stream_throttle(spark: SparkSession, sf_dir: str) -> DataFrame:
    # streaming twin of events_throttle's audit: the per-(user,
    # window) counts are a SUM monoid maintained by the stream; the
    # audit (kept = least(n, limit)) is merge-on-read — ranks only
    # matter for selecting WHICH rows survive, not how many. Same
    # oracle as the batch query.
    with stream_source.scoped_state_partitions(
        spark, _STREAM_STATE_PARTITIONS
    ):
        stream = stream_source.stream_table(spark, sf_dir, "events")
        counts = stream_source.run_to_memory(
            ev.throttle_counts(stream, minutes=1440),
            query_name="q_stream_throttle",
            output_mode="complete",
        )
        return ev.throttle_audit_on_counts(counts, limit=5)


def _copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The part co-purchase graph the iterative graph queries run on."""
    return graph_mod.cooccurrence_edges(
        _registry(spark, sf_dir).table("lineitem"),
        group_col="l_orderkey",
        item_col="l_partkey",
        max_df=50,
    )


# ---------------------------------------------------------------------------
# the query table
# ---------------------------------------------------------------------------
class _Q(NamedTuple):
    """One registered query: its key, its build function and its DuckDB oracle.

    ``oracle`` is the SQL text, a zero-argument callable returning it, or
    None for a rows-only query. Callables run only in oracle_sql(), once
    per distinct object, so queries that share an oracle share the value.
    """

    name: str
    build: Callable[[SparkSession, str], DataFrame]
    oracle: str | Callable[[], str] | None


class _Replayed(partial):
    """An oracle that re-derives a trainer's centroids or codebooks from
    the embeddings parquet. If that load fails, oracle_sql() drops this
    query's key (it falls back to a rows-only check) and says so."""


# Oracles that more than one query is checked against: a streaming twin
# and its batch query, or two plans of one result.
_IVF_JOIN_ORACLE = _Replayed(
    oracle.knn_ivf_join_oracle_sql, n_centroids=16, nprobe=4, k=5, n_queries=5, iters=8
)
_PQ_JOIN_ORACLE = _Replayed(
    oracle.knn_pq_join_oracle_sql, n_subspaces=8, n_codes=16, k=5, n_queries=5, iters=8
)
_FTS_COMPOSITE_ORACLE = partial(
    oracle.fts_oracle_sql, '(merge OR stream) "fast sort" NOT error', limit=25,
    rank_digits=9,
)
_HYBRID_RRF_ORACLE = partial(
    oracle.hybrid_rrf_oracle_sql, "key OR agg OR row OR scan", "key agg row scan",
    k=15, n_per_list=50, rrf_k=60, dim=32,
)
_EDIT_DISTANCE_ORACLE = partial(oracle.edit_distance_pairs_sql, k=2, key_len=32)
_SIMHASH_ORACLE = partial(oracle.simhash_near_duplicates_sql, max_hamming=2)
_SLIDING_WINDOW_ORACLE = partial(oracle.sliding_window_sql, minutes=60, slide_minutes=15)
_PAGERANK_ORACLE = partial(oracle.pagerank_sql, max_df=50, iters=5)
_THROTTLE_ORACLE = partial(oracle.throttle_sql, minutes=1440, limit=5)


def _clusters_oracle() -> str:
    return oracle.duplicate_clusters_sql(oracle.minhash_near_duplicates_sql(threshold=0.5))


_QUERIES: tuple[_Q, ...] = (
    # --- JSON DSL (SURVEY §2.2-§2.6): cortex_files parity over the
    # synthetic tables; the DSL is schema-agnostic (the reference
    # registry is a table->cols map, internal/files/schema.go:28-179)
    # P2/P7: comparison ops + nested boolean tree
    _Q("dsl_filter_bool_tree", _dsl({
        "from": "lineitem",
        "fields": ["l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"],
        "where": {
            "or": [
                {
                    "and": [
                        {"field": "l_returnflag", "operator": "=", "value": "R"},
                        {"field": "l_quantity", "operator": ">=", "value": 30},
                    ]
                },
                {
                    "not": {
                        "field": "l_linestatus",
                        "operator": "!=",
                        "value": "F",
                    }
                },
            ]
        },
    }), """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
           FROM lineitem
           WHERE (l_returnflag = 'R' AND l_quantity >= 30)
              OR NOT (l_linestatus <> 'F')"""),
    # P3: LIKE / NOT LIKE
    _Q("dsl_like", _dsl({
        "from": "part",
        "fields": ["p_partkey", "p_name", "p_type"],
        "where": {
            "and": [
                {"field": "p_name", "operator": "LIKE", "value": "%bolt%"},
                {"field": "p_type", "operator": "NOT LIKE", "value": "SMALL%"},
            ]
        },
    }), """SELECT p_partkey, p_name, p_type FROM part
           WHERE p_name LIKE '%bolt%' AND p_type NOT LIKE 'SMALL%'"""),
    # P4: IN / NOT IN
    _Q("dsl_in", _dsl({
        "from": "customer",
        "fields": ["c_custkey", "c_mktsegment", "c_nationkey"],
        "where": {
            "and": [
                {
                    "field": "c_mktsegment",
                    "operator": "IN",
                    "value": ["BUILDING", "MACHINERY", "AUTOMOBILE"],
                },
                {"field": "c_nationkey", "operator": "NOT IN", "value": [0, 1, 2]},
            ]
        },
    }), """SELECT c_custkey, c_mktsegment, c_nationkey FROM customer
           WHERE c_mktsegment IN ('BUILDING','MACHINERY','AUTOMOBILE')
             AND c_nationkey NOT IN (0,1,2)"""),
    # P5: IS NULL (left-join misses: orders with no quantity>49 line)
    _Q("dsl_null_checks", _dsl({
        "from": "orders",
        "fields": ["orders.o_orderkey"],
        "joins": [
            {
                "table": "lineitem",
                "type": "LEFT",
                "on": {
                    "and": [
                        {
                            "field": "orders.o_orderkey",
                            "operator": "=",
                            "value": "lineitem.l_orderkey",
                        },
                        {"field": "lineitem.l_quantity", "operator": ">", "value": 49},
                    ]
                },
            }
        ],
        "where": {"field": "lineitem.l_orderkey", "operator": "IS NULL"},
    }), """SELECT o_orderkey
           FROM orders LEFT JOIN lineitem
             ON o_orderkey = l_orderkey AND l_quantity > 49
           WHERE l_orderkey IS NULL"""),
    # P6: BETWEEN (+ timestamp comparison)
    _Q("dsl_between_dates", _dsl({
        "from": "orders",
        "fields": ["o_orderkey", "o_orderdate", "o_totalprice"],
        "where": {
            "and": [
                {
                    "field": "o_orderdate",
                    "operator": "BETWEEN",
                    "value": ["1996-01-01", "1997-06-30"],
                },
                {"field": "o_totalprice", "operator": ">", "value": 100000},
            ]
        },
    }), """SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
           WHERE o_orderdate >= TIMESTAMP '1996-01-01'
             AND o_orderdate <= TIMESTAMP '1997-06-30'
             AND o_totalprice > 100000"""),
    # J1 INNER + composite ON (equi key + residual predicate)
    _Q("dsl_join_inner", _dsl({
        "from": "orders",
        "fields": ["orders.o_orderkey", "customer.c_name", "customer.c_mktsegment"],
        "joins": [
            {
                "table": "customer",
                "type": "INNER",
                "on": {
                    "field": "orders.o_custkey",
                    "operator": "=",
                    "value": "customer.c_custkey",
                },
            }
        ],
        "where": {"field": "o_orderstatus", "operator": "=", "value": "F"},
    }), """SELECT o_orderkey, c_name, c_mktsegment
           FROM orders JOIN customer ON o_custkey = c_custkey
           WHERE o_orderstatus = 'F'"""),
    # J1 LEFT
    _Q("dsl_join_left", _dsl({
        "from": "customer",
        "fields": ["customer.c_custkey", "orders.o_orderkey"],
        "joins": [
            {
                "table": "orders",
                "type": "LEFT",
                "on": {
                    "field": "customer.c_custkey",
                    "operator": "=",
                    "value": "orders.o_custkey",
                },
            }
        ],
    }), """SELECT c_custkey, o_orderkey
           FROM customer LEFT JOIN orders ON c_custkey = o_custkey"""),
    # J1 FULL — executes in Spark (reference's SQLite could not)
    _Q("dsl_join_full", _dsl({
        "from": "supplier",
        "fields": ["supplier.s_suppkey", "nation.n_nationkey", "nation.n_name"],
        "joins": [
            {
                "table": "nation",
                "type": "FULL",
                "on": {
                    "field": "supplier.s_nationkey",
                    "operator": "=",
                    "value": "nation.n_nationkey",
                },
            }
        ],
    }), """SELECT s_suppkey, n_nationkey, n_name
           FROM supplier FULL JOIN nation ON s_nationkey = n_nationkey"""),
    # J1 RIGHT
    _Q("dsl_join_right", _dsl({
        "from": "orders",
        "fields": ["orders.o_orderkey", "customer.c_custkey", "customer.c_name"],
        "joins": [
            {
                "table": "customer",
                "type": "RIGHT",
                "on": {
                    "field": "orders.o_custkey",
                    "operator": "=",
                    "value": "customer.c_custkey",
                },
            }
        ],
    }), """SELECT o_orderkey, c_custkey, c_name
           FROM orders RIGHT JOIN customer ON o_custkey = c_custkey"""),
    # A1-A7: every aggregate ± DISTINCT, multi-col groupBy
    _Q("dsl_agg_full", _dsl({
        "from": "lineitem",
        "groupBy": ["l_returnflag", "l_linestatus"],
        "aggregations": [
            {"function": "COUNT", "alias": "n"},
            {
                "function": "COUNT",
                "field": "l_partkey",
                "alias": "n_parts",
                "distinct": True,
            },
            {"function": "SUM", "field": "l_quantity", "alias": "sum_qty"},
            {"function": "AVG", "field": "l_extendedprice", "alias": "avg_price"},
            {"function": "MIN", "field": "l_shipdate", "alias": "min_ship"},
            {"function": "MAX", "field": "l_discount", "alias": "max_disc"},
        ],
    }), """SELECT l_returnflag, l_linestatus, count(*) AS n,
                  count(DISTINCT l_partkey) AS n_parts,
                  sum(l_quantity) AS sum_qty,
                  avg(l_extendedprice) AS avg_price,
                  min(l_shipdate) AS min_ship,
                  max(l_discount) AS max_disc
           FROM lineitem GROUP BY l_returnflag, l_linestatus"""),
    # A6: HAVING on aggregate alias
    _Q("dsl_agg_having", _dsl({
        "from": "orders",
        "groupBy": ["o_custkey"],
        "aggregations": [
            {"function": "COUNT", "alias": "n_orders"},
            {"function": "SUM", "field": "o_totalprice", "alias": "spend"},
        ],
        "having": {"field": "n_orders", "operator": ">", "value": 10},
    }), """SELECT o_custkey, count(*) AS n_orders, sum(o_totalprice) AS spend
           FROM orders GROUP BY o_custkey HAVING count(*) > 10"""),
    # join + group by + having + order: the flagship composite
    _Q("dsl_revenue_by_nation", _REVENUE_BY_NATION,
       """SELECT n_name, sum(o_totalprice) AS revenue, count(*) AS n_orders
           FROM orders
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           GROUP BY n_name ORDER BY revenue DESC, n_name"""),
    # TPC-H Q1 shape (pricing summary) within DSL semantics: the
    # reference DSL aggregates FIELDS only (translator.go:266-294 — no
    # expression aggregates), so the disc_price/charge computed columns
    # are out of scope; filter + 2-col groupBy + SUM/AVG/COUNT batteries
    # + deterministic order are the exercised surface
    _Q("dsl_tpch_q1", _dsl({
        "from": "lineitem",
        "where": {
            "field": "l_shipdate",
            "operator": "<=",
            "value": "1996-09-01",
        },
        "groupBy": ["l_returnflag", "l_linestatus"],
        "aggregations": [
            {"function": "SUM", "field": "l_quantity", "alias": "sum_qty"},
            {
                "function": "SUM",
                "field": "l_extendedprice",
                "alias": "sum_base_price",
            },
            {"function": "AVG", "field": "l_quantity", "alias": "avg_qty"},
            {
                "function": "AVG",
                "field": "l_extendedprice",
                "alias": "avg_price",
            },
            {"function": "AVG", "field": "l_discount", "alias": "avg_disc"},
            {"function": "COUNT", "alias": "count_order"},
        ],
        "orderBy": [
            {"field": "l_returnflag", "direction": "ASC"},
            {"field": "l_linestatus", "direction": "ASC"},
        ],
    }), """SELECT l_returnflag, l_linestatus,
                  sum(l_quantity) AS sum_qty,
                  sum(l_extendedprice) AS sum_base_price,
                  avg(l_quantity) AS avg_qty,
                  avg(l_extendedprice) AS avg_price,
                  avg(l_discount) AS avg_disc,
                  count(*) AS count_order
           FROM lineitem
           WHERE l_shipdate <= TIMESTAMP '1996-09-01'
           GROUP BY l_returnflag, l_linestatus
           ORDER BY l_returnflag, l_linestatus"""),
    # TPC-H Q3 shape: 3-way join + selective filters on all three tables
    # + grouped aggregate + ordered top-k (shipping-priority query)
    _Q("dsl_tpch_q3", _dsl({
        "from": "customer",
        "joins": [
            {
                "table": "orders",
                "type": "INNER",
                "on": {
                    "field": "customer.c_custkey",
                    "operator": "=",
                    "value": "orders.o_custkey",
                },
            },
            {
                "table": "lineitem",
                "type": "INNER",
                "on": {
                    "field": "orders.o_orderkey",
                    "operator": "=",
                    "value": "lineitem.l_orderkey",
                },
            },
        ],
        "where": {
            "and": [
                {
                    "field": "c_mktsegment",
                    "operator": "=",
                    "value": "BUILDING",
                },
                {
                    "field": "o_orderdate",
                    "operator": "<",
                    "value": "1996-06-30",
                },
                {
                    "field": "l_shipdate",
                    "operator": ">",
                    "value": "1996-06-30",
                },
            ]
        },
        "groupBy": ["lineitem.l_orderkey", "orders.o_orderdate"],
        "aggregations": [
            {"function": "SUM", "field": "l_extendedprice", "alias": "revenue"}
        ],
        "orderBy": [
            {"field": "revenue", "direction": "DESC"},
            {"field": "l_orderkey", "direction": "ASC"},
        ],
        "limit": 10,
    }), """SELECT l_orderkey, o_orderdate, sum(l_extendedprice) AS revenue
           FROM customer
           JOIN orders ON c_custkey = o_custkey
           JOIN lineitem ON o_orderkey = l_orderkey
           WHERE c_mktsegment = 'BUILDING'
             AND o_orderdate < TIMESTAMP '1996-06-30'
             AND l_shipdate > TIMESTAMP '1996-06-30'
           GROUP BY l_orderkey, o_orderdate
           ORDER BY revenue DESC, l_orderkey LIMIT 10"""),
    # TPC-H Q5 shape: 6-way join (incl. the composite
    # customer-nation = supplier-nation condition) + region filter
    _Q("dsl_tpch_q5", _dsl({
        "from": "customer",
        "joins": [
            {
                "table": "orders",
                "type": "INNER",
                "on": {
                    "field": "customer.c_custkey",
                    "operator": "=",
                    "value": "orders.o_custkey",
                },
            },
            {
                "table": "lineitem",
                "type": "INNER",
                "on": {
                    "field": "orders.o_orderkey",
                    "operator": "=",
                    "value": "lineitem.l_orderkey",
                },
            },
            {
                "table": "supplier",
                "type": "INNER",
                "on": {
                    "and": [
                        {
                            "field": "lineitem.l_suppkey",
                            "operator": "=",
                            "value": "supplier.s_suppkey",
                        },
                        {
                            "field": "customer.c_nationkey",
                            "operator": "=",
                            "value": "supplier.s_nationkey",
                        },
                    ]
                },
            },
            {
                "table": "nation",
                "type": "INNER",
                "on": {
                    "field": "supplier.s_nationkey",
                    "operator": "=",
                    "value": "nation.n_nationkey",
                },
            },
            {
                "table": "region",
                "type": "INNER",
                "on": {
                    "field": "nation.n_regionkey",
                    "operator": "=",
                    "value": "region.r_regionkey",
                },
            },
        ],
        "where": {"field": "r_name", "operator": "=", "value": "ASIA"},
        "groupBy": ["nation.n_name"],
        "aggregations": [
            {"function": "SUM", "field": "l_extendedprice", "alias": "revenue"}
        ],
        "orderBy": [
            {"field": "revenue", "direction": "DESC"},
            {"field": "n_name", "direction": "ASC"},
        ],
    }), """SELECT n_name, sum(l_extendedprice) AS revenue
           FROM customer
           JOIN orders ON c_custkey = o_custkey
           JOIN lineitem ON o_orderkey = l_orderkey
           JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
           JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
           WHERE r_name = 'ASIA'
           GROUP BY n_name ORDER BY revenue DESC, n_name"""),
    # TPC-H Q4 shape: EXISTS decorrelated to a SEMI join (beyond-parity
    # DSL join type; the right side filters and contributes no columns).
    # Adapted to the fixture schema: the EXISTS predicate is
    # l_shipdate > cutoff (no commit/receipt dates in the testdata).
    _Q("dsl_tpch_q4", _dsl({
        "from": "orders",
        "joins": [
            {
                "table": "lineitem",
                "type": "SEMI",
                "on": {
                    "and": [
                        {
                            "field": "orders.o_orderkey",
                            "operator": "=",
                            "value": "lineitem.l_orderkey",
                        },
                        {
                            "field": "lineitem.l_shipdate",
                            "operator": ">",
                            "value": "1996-09-01",
                        },
                    ]
                },
            },
        ],
        "where": {
            "and": [
                {
                    "field": "o_orderdate",
                    "operator": ">=",
                    "value": "1996-01-01",
                },
                {
                    "field": "o_orderdate",
                    "operator": "<",
                    "value": "1996-07-01",
                },
            ]
        },
        "groupBy": ["o_orderpriority"],
        "aggregations": [{"function": "COUNT", "alias": "order_count"}],
        "orderBy": [{"field": "o_orderpriority", "direction": "ASC"}],
    }), """SELECT o_orderpriority, count(*) AS order_count
           FROM orders
           WHERE o_orderdate >= TIMESTAMP '1996-01-01'
             AND o_orderdate < TIMESTAMP '1996-07-01'
             AND EXISTS (SELECT 1 FROM lineitem
                         WHERE l_orderkey = o_orderkey
                           AND l_shipdate > TIMESTAMP '1996-09-01')
           GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    # TPC-H Q10 shape: returned-item revenue by customer — 4-way join,
    # selective flag + date filters, grouped revenue, ordered top-20
    _Q("dsl_tpch_q10", _dsl({
        "from": "customer",
        "joins": [
            {
                "table": "orders",
                "type": "INNER",
                "on": {
                    "field": "customer.c_custkey",
                    "operator": "=",
                    "value": "orders.o_custkey",
                },
            },
            {
                "table": "lineitem",
                "type": "INNER",
                "on": {
                    "field": "orders.o_orderkey",
                    "operator": "=",
                    "value": "lineitem.l_orderkey",
                },
            },
            {
                "table": "nation",
                "type": "INNER",
                "on": {
                    "field": "customer.c_nationkey",
                    "operator": "=",
                    "value": "nation.n_nationkey",
                },
            },
        ],
        "where": {
            "and": [
                {"field": "l_returnflag", "operator": "=", "value": "R"},
                {
                    "field": "o_orderdate",
                    "operator": ">=",
                    "value": "1996-01-01",
                },
                {
                    "field": "o_orderdate",
                    "operator": "<",
                    "value": "1996-07-01",
                },
            ]
        },
        "groupBy": ["customer.c_custkey", "customer.c_name", "nation.n_name"],
        "aggregations": [
            {"function": "SUM", "field": "l_extendedprice", "alias": "revenue"}
        ],
        "orderBy": [
            {"field": "revenue", "direction": "DESC"},
            {"field": "c_custkey", "direction": "ASC"},
        ],
        "limit": 20,
    }), """SELECT c_custkey, c_name, n_name,
                  sum(l_extendedprice) AS revenue
           FROM customer
           JOIN orders ON c_custkey = o_custkey
           JOIN lineitem ON o_orderkey = l_orderkey
           JOIN nation ON c_nationkey = n_nationkey
           WHERE l_returnflag = 'R'
             AND o_orderdate >= TIMESTAMP '1996-01-01'
             AND o_orderdate < TIMESTAMP '1996-07-01'
           GROUP BY c_custkey, c_name, n_name
           ORDER BY revenue DESC, c_custkey LIMIT 20"""),
    # TPC-H Q6 shape (forecast revenue): the scan-dominated query —
    # three stacked range predicates + a GLOBAL aggregate (no groupBy).
    # At 100 TB this is THE predicate-pushdown benchmark: all three
    # filters reach the parquet reader (min/max page skipping on
    # l_shipdate), and the agg is a map-side partial + single-row merge
    # — zero wide shuffle. (sum(l_extendedprice * l_discount) is out of
    # DSL scope: the reference aggregates fields only,
    # translator.go:266-294.)
    _Q("dsl_tpch_q6", _dsl({
        "from": "lineitem",
        "where": {
            "and": [
                {
                    "field": "l_shipdate",
                    "operator": ">=",
                    "value": "1996-01-01",
                },
                {
                    "field": "l_shipdate",
                    "operator": "<",
                    "value": "1997-01-01",
                },
                {
                    "field": "l_discount",
                    "operator": "BETWEEN",
                    "value": [0.05, 0.07],
                },
                {"field": "l_quantity", "operator": "<", "value": 24},
            ]
        },
        "aggregations": [
            {"function": "SUM", "field": "l_extendedprice", "alias": "revenue"},
            {"function": "COUNT", "alias": "n_items"},
        ],
    }), """SELECT sum(l_extendedprice) AS revenue, count(*) AS n_items
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1996-01-01'
             AND l_shipdate < TIMESTAMP '1997-01-01'
             AND l_discount >= 0.05 AND l_discount <= 0.07
             AND l_quantity < 24"""),
    # TPC-H Q19 shape (discounted revenue): OR-of-ANDs where each branch
    # mixes predicates from BOTH sides of the lineitem⋈part join — the
    # disjunctive-filter stress test. Catalyst keeps the p_* conjuncts
    # pushable per-branch and the equi-key join hashable; the OR tree
    # lands as a post-join filter, which is the right plan (no branch
    # can prune the join itself).
    _Q("dsl_tpch_q19", _dsl({
        "from": "lineitem",
        "joins": [
            {
                "table": "part",
                "type": "INNER",
                "on": {
                    "field": "lineitem.l_partkey",
                    "operator": "=",
                    "value": "part.p_partkey",
                },
            }
        ],
        "where": {
            "or": [
                {
                    "and": [
                        {"field": "p_brand", "operator": "=", "value": "Brand#4"},
                        {
                            "field": "p_size",
                            "operator": "BETWEEN",
                            "value": [1, 15],
                        },
                        {
                            "field": "l_quantity",
                            "operator": "BETWEEN",
                            "value": [1, 11],
                        },
                    ]
                },
                {
                    "and": [
                        {"field": "p_brand", "operator": "=", "value": "Brand#19"},
                        {
                            "field": "p_size",
                            "operator": "BETWEEN",
                            "value": [1, 25],
                        },
                        {
                            "field": "l_quantity",
                            "operator": "BETWEEN",
                            "value": [10, 20],
                        },
                    ]
                },
                {
                    "and": [
                        {"field": "p_brand", "operator": "=", "value": "Brand#16"},
                        {
                            "field": "p_size",
                            "operator": "BETWEEN",
                            "value": [1, 35],
                        },
                        {
                            "field": "l_quantity",
                            "operator": "BETWEEN",
                            "value": [20, 30],
                        },
                    ]
                },
            ]
        },
        "aggregations": [
            {"function": "SUM", "field": "l_extendedprice", "alias": "revenue"},
            {"function": "COUNT", "alias": "n_items"},
        ],
    }), """SELECT sum(l_extendedprice) AS revenue, count(*) AS n_items
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE (p_brand = 'Brand#4' AND p_size BETWEEN 1 AND 15
                    AND l_quantity BETWEEN 1 AND 11)
              OR (p_brand = 'Brand#19' AND p_size BETWEEN 1 AND 25
                    AND l_quantity BETWEEN 10 AND 20)
              OR (p_brand = 'Brand#16' AND p_size BETWEEN 1 AND 35
                    AND l_quantity BETWEEN 20 AND 30)"""),
    # ANTI join (NOT EXISTS): customers with no high-value order —
    # the Q22-style "inactive customers" shape
    _Q("dsl_join_anti", _dsl({
        "from": "customer",
        "joins": [
            {
                "table": "orders",
                "type": "ANTI",
                "on": {
                    "and": [
                        {
                            "field": "customer.c_custkey",
                            "operator": "=",
                            "value": "orders.o_custkey",
                        },
                        {
                            "field": "orders.o_totalprice",
                            "operator": ">",
                            "value": 400000,
                        },
                    ]
                },
            },
        ],
        "fields": ["c_custkey", "c_name", "c_acctbal"],
        "orderBy": [{"field": "c_custkey", "direction": "ASC"}],
        "limit": 100,
    }), """SELECT c_custkey, c_name, c_acctbal
           FROM customer
           WHERE NOT EXISTS (SELECT 1 FROM orders
                             WHERE o_custkey = c_custkey
                               AND o_totalprice > 400000)
           ORDER BY c_custkey LIMIT 100"""),
    # O1/O2: multi-key order + limit + offset
    _Q("dsl_order_limit_offset", _dsl({
        "from": "orders",
        "fields": ["o_orderkey", "o_orderstatus", "o_totalprice"],
        "orderBy": [
            {"field": "o_orderstatus", "direction": "ASC"},
            {"field": "o_totalprice", "direction": "DESC"},
            {"field": "o_orderkey", "direction": "ASC"},
        ],
        "limit": 50,
        "offset": 10,
    }), """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
           ORDER BY o_orderstatus, o_totalprice DESC, o_orderkey
           LIMIT 50 OFFSET 10"""),
    # windows clause (beyond parity, r9): top-N per group — the first
    # thing every analytics user asks of a 100 TB engine. ROW_NUMBER
    # with a unique tie-break key + RANK sharing the partition (Catalyst
    # fuses same-(partition, order-prefix) windows; one shuffle total),
    # QUALIFY as the post-window filter.
    _Q("dsl_window_topn", _dsl({
        "from": "orders",
        "windows": [
            {
                "function": "ROW_NUMBER",
                "alias": "rn",
                "partitionBy": ["o_custkey"],
                "orderBy": [
                    {"field": "o_totalprice", "direction": "DESC"},
                    {"field": "o_orderkey", "direction": "ASC"},
                ],
            },
            {
                "function": "RANK",
                "alias": "price_rank",
                "partitionBy": ["o_custkey"],
                "orderBy": [
                    {"field": "o_totalprice", "direction": "DESC"}
                ],
            },
        ],
        "qualify": {"field": "rn", "operator": "<=", "value": 3},
        "fields": [
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            "rn",
            "price_rank",
        ],
        "orderBy": [{"field": "o_custkey"}, {"field": "rn"}],
    }), """SELECT o_custkey, o_orderkey, o_totalprice,
                  CAST(rn AS INT) AS rn,
                  CAST(price_rank AS INT) AS price_rank
           FROM (
             SELECT o_custkey, o_orderkey, o_totalprice,
                    row_number() OVER (PARTITION BY o_custkey
                      ORDER BY o_totalprice DESC, o_orderkey) AS rn,
                    rank() OVER (PARTITION BY o_custkey
                      ORDER BY o_totalprice DESC) AS price_rank
             FROM orders)
           WHERE rn <= 3
           ORDER BY o_custkey, rn"""),
    # windows clause: running/offset functions. RUNNING_SUM over an
    # INTEGER column (cumulative integer sums are exact on both engines
    # — the float-running-sum form would be reassociation-hazardous, the
    # same reason the agg family uses the e4-scaled-int idiom); LAG/LEAD
    # are pure value picks over a UNIQUE total order (p_partkey).
    _Q("dsl_window_running", _dsl({
        "from": "part",
        "windows": [
            {
                "function": "RUNNING_SUM",
                "alias": "size_running",
                "field": "p_size",
                "partitionBy": ["p_brand"],
                "orderBy": [{"field": "p_partkey"}],
            },
            {
                "function": "LAG",
                "alias": "prev_size",
                "field": "p_size",
                "partitionBy": ["p_brand"],
                "orderBy": [{"field": "p_partkey"}],
            },
            {
                "function": "LEAD",
                "alias": "next2_size",
                "field": "p_size",
                "offset": 2,
                "partitionBy": ["p_brand"],
                "orderBy": [{"field": "p_partkey"}],
            },
        ],
        "fields": [
            "p_brand",
            "p_partkey",
            "p_size",
            "size_running",
            "prev_size",
            "next2_size",
        ],
    }), """SELECT p_brand, p_partkey, p_size,
                  CAST(sum(p_size) OVER (PARTITION BY p_brand
                    ORDER BY p_partkey) AS BIGINT) AS size_running,
                  lag(p_size, 1) OVER (PARTITION BY p_brand
                    ORDER BY p_partkey) AS prev_size,
                  lead(p_size, 2) OVER (PARTITION BY p_brand
                    ORDER BY p_partkey) AS next2_size
           FROM part"""),
    _Q("knn_topk", _q_knn_topk, partial(oracle.knn_oracle_sql, k=15)),
    _Q("knn_topk_filtered", _q_knn_topk_filtered, partial(
        oracle.knn_oracle_sql, k=20, min_score=0.5, where_sql="label IN (1,2,3)",
        payload_cols=("label",),
    )),
    _Q("knn_join", _q_knn_join, _KNN_JOIN_ORACLE),
    _Q("knn_join_lsh", _q_knn_join_lsh, partial(
        oracle.knn_lsh_oracle_sql, dim=64, n_planes=4, seed=42, k=5, n_queries=5,
    )),
    # the IVF join OUTPUT is gated, not just its recall: deterministic
    # centroids make the whole approximation replayable
    _Q("knn_join_ivf", _q_knn_join_ivf, _IVF_JOIN_ORACLE),
    _Q("knn_join_ivf_filtered", _q_knn_join_ivf_filtered, _Replayed(
        oracle.knn_ivf_join_oracle_sql, n_centroids=16, nprobe=4, k=5, n_queries=5,
        iters=8, where_sql="label IN (1, 2, 3)",
    )),
    _Q("knn_mmr", _q_knn_mmr,
       partial(oracle.mmr_oracle_sql, k=10, n_candidates=40, lam=0.7)),
    _Q("knn_topk_int8", _q_knn_topk_int8, partial(oracle.knn_int8_oracle_sql, k=15)),
    _Q("knn_recall_int8", _q_knn_recall_int8,
       partial(_recall15_oracle, oracle.knn_int8_oracle_sql)),
    _Q("knn_topk_binary", _q_knn_topk_binary,
       partial(oracle.knn_binary_oracle_sql, k=15)),
    _Q("knn_binary_rerank", _q_knn_binary_rerank,
       partial(oracle.knn_binary_rerank_oracle_sql, k=15, n_candidates=64)),
    _Q("knn_recall_binary", _q_knn_recall_binary,
       partial(_recall15_oracle, oracle.knn_binary_oracle_sql)),
    _Q("knn_join_binary", _q_knn_join_binary,
       partial(oracle.knn_join_binary_oracle_sql, n_queries=5, k=5)),
    _Q("fts_term", _fts_query("spark", 15),
       partial(oracle.fts_oracle_sql, "spark", limit=15, rank_digits=9)),
    _Q("fts_bool_and", _fts_query("table key", 15),
       partial(oracle.fts_oracle_sql, "table key", limit=15, rank_digits=9)),
    _Q("fts_bool_or_not", _fts_query("merge OR stream NOT error", 20), partial(
        oracle.fts_oracle_sql, "merge OR stream NOT error", limit=20, rank_digits=9,
    )),
    _Q("fts_phrase", _fts_query('"key agg"', 15),
       partial(oracle.fts_oracle_sql, '"key agg"', limit=15, rank_digits=9)),
    _Q("fts_prefix", _fts_query("cust*", 15),
       partial(oracle.fts_oracle_sql, "cust*", limit=15, rank_digits=9)),
    _Q("fts_composite", _fts_query('(merge OR stream) "fast sort" NOT error', 25),
       _FTS_COMPOSITE_ORACLE),
    _Q("fts_filtered", _q_fts_filtered, partial(
        oracle.fts_oracle_sql, "table OR merge", limit=20,
        where_sql="lang = 'en' AND source LIKE 'src1%'",
        payload_cols=("lang", "source"), rank_digits=9,
    )),
    # search_semantic is fully oracle-gated: the hash provider's token
    # hash is md5, so the whole chunk→embed→score→
    # top-k composite replays in SQL (oracle.search_semantic_oracle_sql
    # float32-quantizes the rebuilt bucket sums exactly like the stored
    # vectors). search_semantic_lexical stays rows-only (gaussian
    # random-indexing directions are not SQL-expressible) with
    # search_lexical_recall as its oracle-gated noiseless ranking twin.
    _Q("search_semantic", _q_search_semantic, partial(
        oracle.search_semantic_oracle_sql, "key agg row scan", dim=32, limit=15,
        min_score=0.05, language="en",
    )),
    _Q("search_hybrid_rrf", _q_search_hybrid_rrf, _HYBRID_RRF_ORACLE),
    _Q("search_hybrid_weighted", _q_search_hybrid_weighted, partial(
        oracle.hybrid_weighted_oracle_sql, "key OR agg OR row OR scan",
        "key agg row scan", k=15, n_per_list=50, w_lex=0.4, w_sem=0.6, dim=32,
    )),
    _Q("search_semantic_lexical", _q_search_semantic_lexical, None),
    _Q("search_lexical_recall", _q_search_lexical_recall, _LEXICAL_RECALL_ORACLE),
    _Q("graph_callees_d3", _q_graph_callees, _CALLEES_ORACLE),
    # the recursive-CTE twin computes the identical min-depth closure
    _Q("graph_callees_cte", _q_graph_callees_cte, _CALLEES_ORACLE),
    _Q("graph_callers_d2", _q_graph_callers, _CALLERS_ORACLE),
    _Q("graph_shortest_path", _q_graph_path, _SHORTEST_PATH_ORACLE),
    _Q("graph_implements", _q_graph_implements, _IMPLEMENTS_ORACLE),
    _Q("graph_impact", _q_graph_impact, _IMPACT_ORACLE),
    _Q("graph_dependencies", _q_graph_dependencies, _DEPENDENCIES_ORACLE),
    _Q("graph_dependents", _q_graph_dependents, _DEPENDENTS_ORACLE),
    _Q("graph_type_usages", _q_graph_type_usages, _TYPE_USAGES_ORACLE),
    # cortex_analysis surface (canopy spec overview.md:16 — announced,
    # not yet built in the reference): cycles / unused / hotspots /
    # hierarchy, each oracle-gated over the family's derived edge sets
    _Q("graph_cycles", _q_graph_cycles, _CYCLES_ORACLE),
    _Q("graph_cycle_paths", _q_graph_cycle_paths, _CYCLE_PATHS_ORACLE),
    _Q("graph_scc", _q_graph_scc, _SCC_ORACLE),
    _Q("graph_unused_symbols", _q_graph_unused, _UNUSED_ORACLE),
    _Q("graph_hotspots", _q_graph_hotspots, _HOTSPOTS_ORACLE),
    _Q("graph_type_hierarchy", _q_graph_type_hierarchy, _TYPE_HIERARCHY_ORACLE),
    # canopy discovery op package_summary over the frozen snapshot
    # corpus. The extraction is deterministic, so the oracle is a golden
    # VALUES table, as for the other fixed-corpus parse contracts below:
    # any drift in spans/params/complexity/receivers breaks the hash
    # (regenerate with the snippet in scripts/gen_parse_goldens.py after
    # a deliberate re-freeze)
    _Q("graph_package_summary", lambda s, d: graph_mod.package_summary(
        _snapshot_entities(s)
    ), """
        SELECT package, kind, CAST(n_files AS BIGINT) AS n_files,
               CAST(n AS BIGINT) AS n,
               CAST(sum_params AS BIGINT) AS sum_params,
               CAST(sum_complexity AS BIGINT) AS sum_complexity
        FROM (VALUES
          ('project_cortex_spark','call',1,27,43,0),
          ('project_cortex_spark','const',1,1,0,0),
          ('project_cortex_spark','function',1,1,4,5),
          ('project_cortex_spark','import',1,3,0,0),
          ('project_cortex_spark','param',1,5,0,0),
          ('project_cortex_spark/dsl','call',1,55,74,0),
          ('project_cortex_spark/dsl','const',1,1,0,0),
          ('project_cortex_spark/dsl','function',1,7,16,65),
          ('project_cortex_spark/dsl','import',1,15,0,0),
          ('project_cortex_spark/dsl','param',1,22,0,0),
          ('project_cortex_spark/dsl','type',1,2,0,0),
          ('project_cortex_spark/functions','call',2,93,128,0),
          ('project_cortex_spark/functions','const',1,3,0,0),
          ('project_cortex_spark/functions','function',2,15,27,15),
          ('project_cortex_spark/functions','import',2,6,0,0),
          ('project_cortex_spark/functions','param',2,42,0,0),
          ('project_cortex_spark/operators','call',1,128,166,0),
          ('project_cortex_spark/operators','function',1,9,18,15),
          ('project_cortex_spark/operators','import',1,18,0,0),
          ('project_cortex_spark/operators','param',1,62,0,0),
          ('project_cortex_spark/pipeline','call',2,168,191,0),
          ('project_cortex_spark/pipeline','const',2,6,0,0),
          ('project_cortex_spark/pipeline','function',2,14,19,29),
          ('project_cortex_spark/pipeline','import',2,15,0,0),
          ('project_cortex_spark/pipeline','param',2,54,0,0),
          ('project_cortex_spark/sources','call',1,45,67,0),
          ('project_cortex_spark/sources','function',1,2,3,2),
          ('project_cortex_spark/sources','import',1,4,0,0),
          ('project_cortex_spark/sources','param',1,7,0,0),
          ('project_cortex_spark/streaming','call',1,16,15,0),
          ('project_cortex_spark/streaming','function',1,4,8,9),
          ('project_cortex_spark/streaming','import',1,7,0,0),
          ('project_cortex_spark/streaming','param',1,14,0,0),
          ('project_cortex_spark/streaming','type',1,1,0,0)
        ) AS t(package, kind, n_files, n, sum_params, sum_complexity)
    """),
    _Q("dedup_exact_groups", _q_dedup_exact, partial(
        oracle.exact_duplicate_groups_sql, table="part", id_col="p_partkey",
        text_col="p_name",
    )),
    _Q("dedup_unicode_nfc", _q_dedup_unicode_nfc,
       partial(oracle.unicode_nfc_groups_sql, every=10)),
    # MOSS winnowing (Schleimer et al. 2003): window-min fingerprint
    # sets guarantee detection of any shared substring >= k+w-1 chars;
    # df-capped fingerprint equi-join, exact-integer overlap
    _Q("dedup_winnowing", lambda s, d: dd.winnowing_near_duplicates(
        _docs(s, d), k=8, w=4, threshold=0.5, max_df=50
    ), partial(oracle.winnowing_pairs_sql, k=8, w=4, threshold=0.5, max_df=50)),
    _Q("dedup_minhash_lsh", _q_dedup_minhash,
       partial(oracle.minhash_near_duplicates_sql, threshold=0.5, max_bucket=2)),
    _Q("dedup_ngram_jaccard", _q_dedup_ngram, partial(
        oracle.ngram_jaccard_pairs_sql, threshold=0.5, max_df=100, max_df_frac=0.2,
    )),
    # prefix-filtering all-pairs join (Bayardo/PPJoin): the CAP-FREE
    # exact-Jaccard scale path — gated against the algorithm-independent
    # uncapped exact oracle, so the prefix pruning is proven lossless
    _Q("dedup_ppjoin", lambda s, d: dd.ppjoin_pairs(
        _docs(s, d), shingle_n=3, threshold=0.5
    ).withColumn("jaccard", F.round("jaccard", 6)),
       partial(oracle.ngram_jaccard_pairs_sql, threshold=0.5)),
    # cost-based dispatcher between the two arms above: one
    # df-histogram aggregate picks ppjoin (stop-shingle mass) or
    # the fractional-cap join (bounded df); the oracle replays the
    # statistic AND the chosen arm, so the dispatch itself is gated
    _Q("dedup_pairs_auto", lambda s, d: dd.similar_pairs_auto(
        _docs(s, d), shingle_n=3, threshold=0.5
    ).withColumn("jaccard", F.round("jaccard", 6)),
       partial(oracle.similar_pairs_auto_sql, threshold=0.5)),
    # DIRECTED duplication (quote/subset class): containment(a in b),
    # the asymmetric measure Jaccard structurally misses when |A|<<|B|
    _Q("dedup_containment", lambda s, d: dd.containment_pairs(
        _docs(s, d), shingle_n=3, threshold=0.6, max_df=100, max_df_frac=0.2
    ).withColumn("containment", F.round("containment", 6)), partial(
        oracle.containment_pairs_sql, threshold=0.6, max_df=100, max_df_frac=0.2,
    )),
    # edit-distance sibling (PassJoin, Li et al. 2011): ORDER-aware
    # near-dup over the fixed-width key prefix — lossless segment
    # filter gated against the brute-force all-pairs oracle
    _Q("dedup_edit_distance", lambda s, d: dd.edit_distance_pairs(
        _docs(s, d), k=2, key_len=32
    ), _EDIT_DISTANCE_ORACLE),
    _Q("dedup_simhash", _q_dedup_simhash, _SIMHASH_ORACLE),
    # banded form computes the IDENTICAL result — same exact oracle
    _Q("dedup_simhash_banded", _q_dedup_simhash_banded, _SIMHASH_ORACLE),
    _Q("dedup_clusters", _q_dedup_clusters, _clusters_oracle),
    # the same component problem solved with the O(log^2 n)-round
    # large-star/small-star alternation (Kiveris et al. 2014) — the
    # topology-independent form a 100 TB dedup graph needs; gated
    # against the SAME oracle as dedup_clusters (results identical by
    # definition, only the convergence schedule differs)
    _Q("graph_connected_components", lambda s, d: graph_mod.connected_components(
        dd.minhash_near_duplicates(_docs(s, d), threshold=0.5).select("a", "b")
    ), _clusters_oracle),
    _Q("dedup_prune", _q_dedup_prune, lambda: _DEDUP_PRUNE_ORACLE_TMPL.format(
        clusters=oracle.duplicate_clusters_sql(
            oracle.minhash_near_duplicates_sql(threshold=0.5)
        )
    )),
    # char-level exact-substring duplication coverage (precise form)
    _Q("dedup_char_spans", lambda s, d: dd.duplicated_char_spans(_docs(s, d), k=32),
       partial(oracle.duplicated_char_spans_sql, k=32)),
    # per-doc duplicated word-n-gram fraction (exact-substring signal)
    _Q("dedup_ngram_spans", lambda s, d: dd.duplicated_ngram_stats(
        _docs(s, d), shingle_n=8
    ), partial(oracle.duplicated_ngram_stats_sql, shingle_n=8)),
    # the Lee et al. exact-substring dedup as a REWRITE: cut every
    # cross-document duplicated 32-char span except its canonical
    # (minimum-doc) copy, reassemble the survivors
    _Q("dedup_substring_rewrite", lambda s, d: dd.exact_substring_rewrite(
        _docs(s, d), k=32
    ), partial(oracle.exact_substring_rewrite_sql, k=32)),
    _Q("dedup_embedding_cosine", _q_dedup_embedding,
       partial(oracle.embedding_near_duplicates_sql, threshold=0.7)),
    # the T*p deterministic planes inline in the oracle; candidates +
    # exact verify replay in SQL
    _Q("dedup_embedding_lsh", _q_dedup_embedding_lsh, partial(
        oracle.embedding_lsh_oracle_sql, threshold=0.7, dim=64, n_planes=6, n_tables=6,
        seed=42, max_bucket=200,
    )),
    _Q("dedup_embedding_ivf", _q_dedup_embedding_ivf, _Replayed(
        oracle.dedup_embedding_ivf_oracle_sql, threshold=0.7, n_centroids=16, iters=8,
    )),
    # SemDeDup: the full per-document keep/prune decision frame,
    # replayed from the same deterministic centroids
    _Q("dedup_semantic", _q_dedup_semantic, _Replayed(
        oracle.semdedup_oracle_sql, threshold=0.7, n_centroids=16, iters=8,
        max_cluster=20,
    )),
    _Q("stream_dedup_semantic", _q_stream_dedup_semantic, _Replayed(
        oracle.semdedup_stream_oracle_sql, threshold=0.7, n_centroids=16, iters=8,
    )),
    _Q("corpus_split", _q_corpus_split, oracle.hash_split_sql),
    _Q("corpus_cluster_split", _q_corpus_cluster_split, lambda: oracle.cluster_split_sql(
        oracle.minhash_near_duplicates_sql(threshold=0.5)
    )),
    _Q("corpus_mix", _q_corpus_mix, partial(oracle.weighted_mix_sql, _MIX_KEEP)),
    _Q("corpus_decontaminate", _q_corpus_decontaminate,
       partial(oracle.decontaminate_sql, bench_filter="doc_id % 97 = 0", ngram=8)),
    _Q("corpus_curate", _q_corpus_curate, partial(oracle.corpus_curate_sql, scale=2.0)),
    _Q("corpus_token_budget", _q_corpus_token_budget,
       partial(oracle.token_budget_mix_sql, budget_tokens=600)),
    _Q("events_windowed_agg", lambda s, d: ev.windowed_agg(_events(s, d)),
       oracle.windowed_agg_sql),
    # EWMA as an explicit left fold over the ordered bucket array —
    # bit-identical to DuckDB list_reduce, so the "stateful" smoother
    # is hash-gated (oracle.ewma_sql)
    _Q("events_ewma", lambda s, d: ev.ewma_series(_events(s, d)), oracle.ewma_sql),
    # CUSUM change-point localizer (Page 1954): WHERE the level shifted,
    # complementing ks/psi drift's WHETHER; seed-0 fold hash-gated via
    # the list_prepend list_reduce replay
    _Q("events_cusum", lambda s, d: ev.cusum_series(_events(s, d)), oracle.cusum_sql),
    _Q("stream_cusum", _q_stream_cusum, oracle.cusum_sql),
    # robust per-type outliers on VALUES: modified z-score (Iglewicz &
    # Hoaglin 1993) from exact interpolating medians — the heavy-tail-
    # safe twin of rolling_anomaly's mean/std on volume
    _Q("events_mad_outliers", lambda s, d: ev.mad_outliers(_events(s, d)),
       oracle.mad_outliers_sql),
    # lag-k ACF of per-type volume from exact BIGINT power sums —
    # seasonality/periodicity diagnostic; time lags, so gaps drop pairs
    _Q("events_autocorr", lambda s, d: ev.autocorr_series(_events(s, d)),
       oracle.autocorr_sql),
    # Holt's linear (level+trend) smoothing with one-step forecast and
    # residual — the trend-aware upgrade of events_ewma; struct-
    # accumulator fold replayed in DuckDB as a 2-list list_reduce
    _Q("events_holt", lambda s, d: ev.holt_series(_events(s, d)), oracle.holt_sql),
    # classical additive decomposition (trend + daily seasonal +
    # residual): integer-exact centered MA, e6-quantized phase means
    _Q("events_seasonal", lambda s, d: ev.seasonal_decompose(_events(s, d)),
       oracle.seasonal_decompose_sql),
    # seasonality-adjusted anomalies: the decomposition's residual fed
    # through the mad_outliers robust rule — composition gated end to
    # end (the oracle nests the decomposition SQL verbatim)
    _Q("events_seasonal_outliers", lambda s, d: ev.seasonal_outliers(_events(s, d)),
       oracle.seasonal_outliers_sql),
    _Q("stream_autocorr", _q_stream_autocorr, oracle.autocorr_sql),
    _Q("stream_seasonal", _q_stream_seasonal, oracle.seasonal_decompose_sql),
    _Q("stream_holt", _q_stream_holt, oracle.holt_sql),
    # two-sample KS drift per type between the time-span halves — the
    # exact distribution-shift monitor (sup over every distinct value)
    _Q("events_ks_drift", lambda s, d: ev.ks_drift(_events(s, d)), oracle.ks_drift_sql),
    # PSI over the same split: the bucketed log-ratio drift score (KS
    # is sup-norm and tail-insensitive; PSI weights every bucket)
    _Q("events_psi_drift", lambda s, d: ev.psi_drift(_events(s, d)),
       oracle.psi_drift_sql),
    _Q("stream_psi_drift", _q_stream_psi_drift, oracle.psi_drift_sql),
    _Q("stream_ks_drift", _q_stream_ks_drift, oracle.ks_drift_sql),
    # Welch two-sample t-test drift: the parametric complement of the
    # KS/PSI monitors — has the MEAN moved between the early/late
    # halves, in standard errors? Exact decimal power sums, <= 2 cells
    # per group, scalar-only finisher (replayed verbatim in SQL)
    _Q("events_ttest_drift", lambda s, d: ev.ttest_drift(_events(s, d)),
       oracle.ttest_drift_sql),
    _Q("stream_ttest_drift", _q_stream_ttest_drift, oracle.ttest_drift_sql),
    # contract form: integer epoch-micros bounds + exact scaled-int sum —
    # hash-deterministic by construction (a float sum drifts in its
    # last digits between engines)
    _Q("events_sessionize", lambda s, d: ev.sessionize(_events(s, d)).select(
        "user_id",
        "session_seq",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        "n_events",
        "sum_value_e4",
    ), oracle.sessionize_contract_sql),
    _Q("events_props_extract", lambda s, d: ev.props_extract(_events(s, d)),
       oracle.props_extract_sql),
    _Q("events_top_users", lambda s, d: ev.top_users_per_type(_events(s, d)),
       oracle.top_users_per_type_sql),
    # ordered view->click->purchase funnel, 24 h horizon from the anchor
    _Q("events_funnel", lambda s, d: ev.funnel(_events(s, d), horizon_minutes=1440),
       partial(oracle.funnel_sql, horizon_minutes=1440)),
    # weekly cohort retention matrix (integer epoch-bucket arithmetic)
    _Q("events_retention", lambda s, d: ev.retention_cohorts(_events(s, d)),
       oracle.retention_sql),
    # rolling z-score spike/drop detection on per-type event volume
    _Q("events_anomaly", lambda s, d: ev.rolling_anomaly(_events(s, d)),
       oracle.rolling_anomaly_sql),
    # OHLC downsampling bars per (type, hour)
    _Q("events_ohlc", lambda s, d: ev.ohlc_resample(_events(s, d)), oracle.ohlc_sql),
    _Q("events_histogram", lambda s, d: ev.value_histogram(_events(s, d)),
       oracle.value_histogram_sql),
    # dense-grid resample with forward fill (gap buckets emitted)
    _Q("events_gapfill", lambda s, d: ev.gapfill_resample(_events(s, d)),
       oracle.gapfill_sql),
    # leading-edge telemetry debounce (burst -> first occurrence + size)
    _Q("events_debounce", lambda s, d: ev.debounce(_events(s, d)), oracle.debounce_sql),
    # time-weighted average per type (holding-period weights)
    _Q("events_twap", lambda s, d: ev.twap(_events(s, d)), oracle.twap_sql),
    # (dow, hour) usage heatmap — pure integer epoch bucketing
    _Q("events_heatmap", lambda s, d: ev.activity_heatmap(_events(s, d)),
       oracle.activity_heatmap_sql),
    # sliding (overlapping) windows — the smoothing variant of tumbling
    _Q("events_sliding_window", lambda s, d: ev.sliding_window_agg(
        _events(s, d), minutes=60, slide_minutes=15
    ), _SLIDING_WINDOW_ORACLE),
    # per-node triangle counts over the part co-purchase graph (degree-
    # capped co-occurrence edges -> a<b<c wedge closure)
    _Q("graph_triangles", lambda s, d: graph_mod.triangles_per_node(_copurchase(s, d)),
       partial(oracle.triangles_sql, max_df=50)),
    # fixed-iteration PageRank over the same co-purchase edge list —
    # the iterative family the reference's engine cannot express
    _Q("graph_pagerank", lambda s, d: graph_mod.pagerank(_copurchase(s, d), iters=5),
       _PAGERANK_ORACLE),
    # personalized PageRank: teleport concentrated on a seed set — the
    # relevance-to-a-query-set ranking global pagerank can't express;
    # seeds here are the % 10 == 0 items (the oracle replays the same
    # predicate over the graph's node set)
    _Q("graph_ppr", lambda s, d: graph_mod.pagerank_personalized(
        _copurchase(s, d),
        _registry(s, d)
        .table("lineitem")
        .select(F.col("l_partkey").alias("node"))
        .filter(F.col("node") % 10 == 0)
        .distinct(),
        iters=5,
    ), partial(
        oracle.pagerank_personalized_sql, seed_pred="node % 10 = 0", max_df=50, iters=5
    )),
    # the >BROADCAST_NODE_LIMIT fallback plan (shuffle join against
    # src-partitioned stationary edges) gated against the SAME oracle —
    # results are identical by construction, only the physical plan
    # differs (A/B in scripts/ab_graph_broadcast.py)
    _Q("graph_pagerank_shuffle", lambda s, d: graph_mod.pagerank(
        _copurchase(s, d), iters=5, broadcast_ranks=False
    ), _PAGERANK_ORACLE),
    _Q("graph_node_similarity", lambda s, d: graph_mod.node_similarity(
        _copurchase(s, d), k=50
    ), partial(oracle.node_similarity_sql, max_df=50, k=50)),
    # seed-sampled bounded-radius closeness/harmonic centrality — the
    # distance-based ranking (bridges score before they accumulate
    # pagerank); deterministic % seed slice, recursive-CTE oracle
    _Q("graph_closeness", lambda s, d: graph_mod.closeness_centrality(
        _copurchase(s, d)
    ), partial(oracle.closeness_sql, max_df=50)),
    # seed-sampled radius-bounded Brandes betweenness — the "traffic
    # MUST route through here" ranking; integer path counts +
    # e6-quantized dependency terms make the fold order-free, so the
    # unrolled per-level SQL oracle hash-gates it exactly
    _Q("graph_betweenness", lambda s, d: graph_mod.betweenness_centrality(
        _copurchase(s, d)
    ), partial(oracle.betweenness_sql, max_df=50)),
    _Q("graph_degree_distribution", lambda s, d: graph_mod.degree_distribution(
        _copurchase(s, d)
    ), partial(oracle.degree_distribution_sql, max_df=50)),
    # k-core peeling over the same co-purchase edge list — the fixpoint
    # family (neither traversal nor linear algebra): fixed unrolled
    # rounds keep it oracle-matchable. The fixpoint here is reached by
    # round 2; the engine's keep-count early exit stops there while the
    # oracle's 4 unrolled rounds are no-ops
    _Q("graph_kcore", lambda s, d: graph_mod.kcore(_copurchase(s, d), k=3, rounds=4),
       partial(oracle.kcore_sql, max_df=50, k=3, rounds=4)),
    # char-distribution Shannon entropy (zero-shuffle quality signal)
    _Q("text_entropy", lambda s, d: ts.char_entropy(_docs(s, d)),
       oracle.char_entropy_sql),
    _Q("text_token_stats", lambda s, d: ts.token_stats(_docs(s, d)),
       oracle.token_stats_sql),
    _Q("text_quality", lambda s, d: ts.quality_scores(_docs(s, d)),
       oracle.quality_scores_sql),
    # Gopher quality-filter rules (Rae et al. 2021 Appendix A), published
    # thresholds: per-rule features + combined keep verdict
    _Q("text_gopher_quality", lambda s, d: ts.gopher_rules(_docs(s, d)),
       oracle.gopher_rules_sql),
    # Gopher duplicate-line/paragraph repetition fractions (A1.1)
    _Q("text_gopher_repetition", lambda s, d: ts.gopher_repetition(_docs(s, d)),
       oracle.gopher_repetition_sql),
    _Q("text_language_id", lambda s, d: ts.language_id(_docs(s, d)),
       oracle.language_id_sql),
    _Q("text_fingerprints", lambda s, d: ts.fingerprints(_docs(s, d)),
       oracle.fingerprints_sql),
    _Q("text_top_terms", _q_text_top_terms, lambda: _TOP_TERMS_ORACLE.format(
        tokens_cte=oracle.fts_tokens_cte("documents", "doc_id", "text")
    )),
    _Q("text_repetition", lambda s, d: ts.repetition_stats(_docs(s, d)),
       oracle.repetition_stats_sql),
    _Q("text_redact_pii", _q_text_redact_pii,
       partial(oracle.redact_pii_sql, text_expr=_PII_SUFFIX_SQL)),
    _Q("text_lm_score", lambda s, d: ts.bigram_lm_score(_docs(s, d)),
       oracle.bigram_lm_sql),
    _Q("text_lm_histogram", _q_text_lm_histogram, lambda: f"""
    WITH scores AS ({oracle.bigram_lm_sql()})
    SELECT CAST(floor(avg_logprob / 0.5) AS BIGINT) AS bin,
           count(*) AS n_docs,
           round(min(avg_logprob), 6) AS min_score,
           round(max(avg_logprob), 6) AS max_score,
           round(CAST(floor(avg_logprob / 0.5) AS BIGINT) * 0.5, 6) AS bin_lo
    FROM scores
    GROUP BY 1
    """),
    _Q("text_c4_clean", _q_text_c4_clean,
       partial(oracle.c4_clean_sql, text_expr=_C4_PAGE_SQL)),
    _Q("text_bpe_tokens", lambda s, d: ts.bpe_token_stats(_docs(s, d)),
       oracle.bpe_token_stats_sql),
    # the TRAINER, not the fixed tokenizer: learns 12 merges from the
    # top-200 word vocabulary; the oracle independently re-derives every
    # round's argmax from its own SQL state evolution — no inlined
    # literals (oracle.bpe_train_oracle_sql)
    _Q("text_bpe_train", lambda s, d: bpe_mod.bpe_train(
        _docs(s, d), n_merges=12, top_words=200
    ), partial(oracle.bpe_train_oracle_sql, n_merges=12, top_words=200)),
    # tokenizer INFERENCE over the full vocabulary with the learned
    # merges, reduced to top-30 token frequencies; the oracle re-derives
    # the merges AND the segmentation in SQL (bpe_segment_oracle_sql)
    _Q("text_bpe_segment", lambda s, d: bpe_mod.bpe_token_frequencies(
        _docs(s, d), n_merges=12, top_words=200, top_k=30
    ), partial(oracle.bpe_segment_oracle_sql, n_merges=12, top_words=200, top_k=30)),
    # model-based quality filtering, the TRAINER: full-batch logistic
    # regression by gradient descent (one aggregate + 1-row collect per
    # iteration); the oracle independently replays every iteration's
    # gradient from its own chained-CTE state
    _Q("text_lr_train", lambda s, d: logreg_mod.logreg_train(
        _docs(s, d), iters=8, lr=1.0
    ), partial(oracle.logreg_train_oracle_sql, iters=8, lr=1.0)),
    # the filter stage that consumes the trainer: per-doc quality
    # probabilities under the trained weights (scoring weights are the
    # ROUNDED trace values on both sides, so inputs are exactly equal)
    _Q("text_lr_score", lambda s, d: logreg_mod.logreg_score(
        _docs(s, d), iters=8, lr=1.0
    ), partial(oracle.logreg_score_oracle_sql, iters=8, lr=1.0)),
    _Q("text_tfidf_terms", lambda s, d: ts.tfidf_top_terms(_docs(s, d)),
       partial(oracle.tfidf_top_terms_sql, k=5)),
    _Q("corpus_sample_per_key", _q_corpus_sample_per_key,
       partial(oracle.sample_per_key_sql, k=25)),
    _Q("corpus_importance_sample", _q_corpus_importance_sample,
       partial(oracle.importance_sample_sql, scale=1.2)),
    _Q("corpus_weighted_sample", _q_corpus_weighted_sample,
       partial(oracle.weighted_sample_sql, k=25)),
    _Q("corpus_curriculum", _q_corpus_curriculum,
       partial(oracle.curriculum_sql, n_stages=4)),
    # C4/RefinedWeb cross-corpus paragraph dedup: first occurrence kept,
    # documents reassembled in original order (synthetic docs are
    # single-paragraph, so the gate exercises split/first-occurrence/
    # reassembly parity; the duplication semantics are unit-tested on
    # frames with real repeated boilerplate)
    _Q("dedup_paragraphs", lambda s, d: dd.dedup_paragraphs(_docs(s, d)),
       oracle.dedup_paragraphs_sql),
    _Q("corpus_contamination", _q_corpus_contamination, lambda: f"""
        SELECT * FROM ({oracle.contamination_pairs_sql(
            bench_filter="doc_id % 97 = 0", ngram=3,
            threshold_e4=450, max_df=50)})
        WHERE doc_id <> bench_id
    """),
    _Q("corpus_fuzzy_decontaminate", _q_corpus_fuzzy_decontaminate, lambda: f"""
        SELECT doc_id FROM documents
        WHERE doc_id NOT IN (
            SELECT doc_id FROM ({oracle.contamination_pairs_sql(
                bench_filter="doc_id % 97 = 0", ngram=3,
                threshold_e4=450, max_df=50)})
        )
    """),
    _Q("corpus_shuffle", _q_corpus_shuffle,
       partial(oracle.shuffle_shards_sql, seed="epoch0", shards=8)),
    _Q("corpus_pack_sequences", _q_corpus_pack,
       partial(oracle.pack_sequences_sql, seq_tokens=256, writers=16)),
    _Q("corpus_profile", lambda s, d: corpus_mod.profile(_docs(s, d)),
       oracle.corpus_profile_sql),
    _Q("embed_quantize", _q_embed_quantize, oracle.quantize_embeddings_sql),
    # two-stage distributed moment reduce: numpy Gram partials per
    # Arrow batch (one row per partition), position-exploded elementwise
    # sum — the whitening/drift-monitoring covariance at corpus scale
    _Q("embed_covariance", lambda s, d: embedstats_mod.embedding_covariance(
        _registry(s, d).table("embeddings")
    ), oracle.embedding_covariance_sql),
    # both inputs of knn_recall_lsh are SQL-replayable (exact join
    # oracle + deterministic-plane LSH oracle), so the recall
    # measurement itself is hash-checked
    _Q("knn_recall_lsh", _q_knn_recall_lsh, lambda: f"""
    WITH approx AS ({oracle.knn_lsh_oracle_sql(
        dim=64, n_planes=4, seed=42, k=5, n_queries=5)}),
    exact AS ({_KNN_JOIN_ORACLE}),
    j AS (
      SELECT e.query_id, e.vec_id,
             CASE WHEN a.vec_id IS NULL THEN 0 ELSE 1 END AS hit
      FROM exact e LEFT JOIN approx a
        ON e.query_id = a.query_id AND e.vec_id = a.vec_id
    )
    SELECT query_id, count(*) AS n_exact,
           CAST(sum(hit) AS BIGINT) AS n_hit,
           CAST(floor(10000 * sum(hit) / count(*)) AS BIGINT) AS recall_e4
    FROM j GROUP BY query_id
    """),
    _Q("knn_recall_ivf", _q_knn_recall_ivf, _Replayed(
        oracle.knn_ivf_recall_oracle_sql, n_centroids=16, nprobe=4, k=5, n_queries=5,
        iters=8,
    )),
    _Q("knn_recall_pq", _q_knn_recall_pq, _Replayed(
        oracle.knn_pq_recall_oracle_sql, n_subspaces=8, n_codes=64, k=5, n_queries=5,
        iters=8,
    )),
    _Q("knn_recall_pq_refined", _q_knn_recall_pq_refined, _Replayed(
        oracle.knn_pq_recall_oracle_sql, n_subspaces=8, n_codes=64, k=5, n_queries=5,
        iters=8, refine_factor=10,
    )),
    _Q("pipeline_change_detection", _q_change_detection, oracle.change_detection_sql),
    _Q("pipeline_apply_changeset", _q_apply_changeset, oracle.apply_changeset_sql),
    _Q("pipeline_branch_fork", _q_branch_fork, oracle.branch_fork_sql),
    _Q("pipeline_chunk_docs", _q_chunk_docs,
       partial(oracle.chunk_fixed_tokens_sql, tokens_per_chunk=32)),
    _Q("pipeline_chunk_assembly", _q_chunk_assembly, oracle.chunk_assembly_sql),
    _Q("pipeline_embed_stub", _q_embed_stub, """
        SELECT chunk_id, 64 AS dim, 1.0 AS l2_norm
        FROM (SELECT 'code-symbols-' || doc_id AS chunk_id FROM documents
              UNION ALL SELECT 'code-definitions-' || doc_id FROM documents
              UNION ALL SELECT 'code-data-' || doc_id FROM documents)
    """),
    _Q("source_file_stats", _q_file_stats,
       partial(oracle.file_stats_sql, f"{_SRC_DIR}/*.py")),
    # round-trip queries aggregate re-read exports; oracle aggregates
    # the original parquet — equality proves the trip lossless
    _Q("source_jsonl_roundtrip", _q_source_jsonl_roundtrip, _SOURCE_STATS_ORACLE),
    _Q("source_gzip_roundtrip", _q_source_gzip_roundtrip, _SOURCE_STATS_ORACLE),
    _Q("source_csv_roundtrip", _q_source_csv_roundtrip, _SOURCE_STATS_ORACLE),
    _Q("source_orc_roundtrip", _q_source_orc_roundtrip, _SOURCE_STATS_ORACLE),
    _Q("source_partitioned_roundtrip", _q_source_partitioned_roundtrip,
       _SOURCE_STATS_ORACLE),
    _Q("source_tar_roundtrip", _q_source_tar_roundtrip, _SOURCE_STATS_ORACLE),
    _Q("pipeline_parse_entities", _q_parse_entities, """
        SELECT file_path, kind, CAST(n AS BIGINT) AS n,
               first_line, last_line,
               CAST(sum_params AS BIGINT) AS sum_params,
               CAST(sum_complexity AS BIGINT) AS sum_complexity
        FROM (VALUES
          ('project_cortex_spark/dsl/validator.py','call',55,31,176,74,0),
          ('project_cortex_spark/dsl/validator.py','const',1,31,31,0,0),
          ('project_cortex_spark/dsl/validator.py','function',7,38,176,16,65),
          ('project_cortex_spark/dsl/validator.py','import',15,11,29,0,0),
          ('project_cortex_spark/dsl/validator.py','param',22,38,128,0,0),
          ('project_cortex_spark/dsl/validator.py','type',2,34,92,0,0),
          ('project_cortex_spark/functions/text.py','call',32,29,68,45,0),
          ('project_cortex_spark/functions/text.py','const',3,18,23,0,0),
          ('project_cortex_spark/functions/text.py','function',5,26,68,7,5),
          ('project_cortex_spark/functions/text.py','import',3,12,15,0,0),
          ('project_cortex_spark/functions/text.py','param',12,26,61,0,0),
          ('project_cortex_spark/functions/vector.py','call',61,23,129,83,0),
          ('project_cortex_spark/functions/vector.py','function',10,21,129,20,10),
          ('project_cortex_spark/functions/vector.py','import',3,15,18,0,0),
          ('project_cortex_spark/functions/vector.py','param',30,21,120,0,0),
          ('project_cortex_spark/operators/search.py','call',128,44,339,166,0),
          ('project_cortex_spark/operators/search.py','function',9,33,340,18,15),
          ('project_cortex_spark/operators/search.py','import',18,22,295,0,0),
          ('project_cortex_spark/operators/search.py','param',62,33,314,0,0),
          ('project_cortex_spark/pipeline/change_detection.py','call',126,53,177,154,0),
          ('project_cortex_spark/pipeline/change_detection.py','const',1,35,35,0,0),
          ('project_cortex_spark/pipeline/change_detection.py','function',6,38,177,10,6),
          ('project_cortex_spark/pipeline/change_detection.py','import',4,28,33,0,0),
          ('project_cortex_spark/pipeline/change_detection.py','param',24,38,160,0,0),
          ('project_cortex_spark/pipeline/embed.py','call',42,64,196,37,0),
          ('project_cortex_spark/pipeline/embed.py','const',5,38,164,0,0),
          ('project_cortex_spark/pipeline/embed.py','function',8,41,196,9,23),
          ('project_cortex_spark/pipeline/embed.py','import',11,27,124,0,0),
          ('project_cortex_spark/pipeline/embed.py','param',30,41,184,0,0),
          ('project_cortex_spark/session.py','call',27,16,61,43,0),
          ('project_cortex_spark/session.py','const',1,16,16,0,0),
          ('project_cortex_spark/session.py','function',1,19,62,4,5),
          ('project_cortex_spark/session.py','import',3,10,14,0,0),
          ('project_cortex_spark/session.py','param',5,19,19,0,0),
          ('project_cortex_spark/sources/files.py','call',45,43,77,67,0),
          ('project_cortex_spark/sources/files.py','function',2,26,77,3,2),
          ('project_cortex_spark/sources/files.py','import',4,20,23,0,0),
          ('project_cortex_spark/sources/files.py','param',7,26,56,0,0),
          ('project_cortex_spark/streaming/branch_watcher.py','call',16,35,97,15,0),
          ('project_cortex_spark/streaming/branch_watcher.py','function',4,32,101,8,9),
          ('project_cortex_spark/streaming/branch_watcher.py','import',7,21,29,0,0),
          ('project_cortex_spark/streaming/branch_watcher.py','param',14,32,78,0,0),
          ('project_cortex_spark/streaming/branch_watcher.py','type',1,44,101,0,0)
        ) AS t(file_path, kind, n, first_line, last_line, sum_params,
               sum_complexity)
    """),
    _Q("pipeline_chunk_markdown", _q_chunk_markdown, """
        SELECT * FROM (VALUES
          ('doc-guide.md-s0-c0',0,0,'8b57f1a362f286639b49589f0b5bf018',1,5,34,false),
          ('doc-guide.md-s1-c0',1,0,'bda731dec84b5da34145477db68c8ce8',6,18,76,false),
          ('doc-guide.md-s2-c0',2,0,'69d02017322af4c8c98d84ebe7ac3d72',19,19,3,false),
          ('doc-guide.md-s2-c1',2,1,'5267b249766a3c644e0a513890150c56',21,21,78,true),
          ('doc-guide.md-s2-c2',2,2,'128af989be8c5821dc9946d3ecb88b1c',21,21,78,true),
          ('doc-guide.md-s2-c3',2,3,'6327deb7f4656c90d869922817f97c3a',21,21,78,true),
          ('doc-guide.md-s2-c4',2,4,'49ba3cd073173c58655dfd5174fa130f',21,21,78,true),
          ('doc-guide.md-s2-c5',2,5,'5267b249766a3c644e0a513890150c56',21,21,78,true),
          ('doc-guide.md-s2-c6',2,6,'128af989be8c5821dc9946d3ecb88b1c',21,21,78,true),
          ('doc-guide.md-s2-c7',2,7,'6327deb7f4656c90d869922817f97c3a',21,21,78,true),
          ('doc-guide.md-s2-c8',2,8,'11b20ec40c81d18225b75b6cf23b78f9',21,21,78,true),
          ('doc-guide.md-s3-c0',3,0,'81dce4479e0d0a8cc7708ef986ced3bd',23,26,6,false)
        ) AS t(chunk_id, section_idx, chunk_idx, text_md5, start_line,
               end_line, n_tokens, is_split)
    """),
    _Q("pipeline_parse_multilang", _q_parse_multilang, """
        SELECT * FROM (VALUES
          ('cache.rs','call',5,15,24,0,0), ('cache.rs','const',1,3,3,0,0),
          ('cache.rs','field',1,6,6,0,0), ('cache.rs','function',3,10,25,7,5),
          ('cache.rs','import',1,1,1,0,0), ('cache.rs','param',10,10,23,0,0),
          ('cache.rs','type',2,5,11,0,0),
          ('cursor.rb','const',1,3,3,0,0), ('cursor.rb','function',3,7,20,3,3),
          ('cursor.rb','import',1,1,1,0,0), ('cursor.rb','param',3,7,18,0,0),
          ('cursor.rb','type',2,5,16,0,0),
          ('demo.py','call',4,7,19,5,0), ('demo.py','const',1,4,4,0,0),
          ('demo.py','field',1,10,10,0,0), ('demo.py','function',3,6,19,4,5),
          ('demo.py','import',2,1,2,0,0), ('demo.py','param',6,6,12,0,0),
          ('demo.py','type',1,9,15,0,0),
          ('ledger.java','call',2,14,15,0,0), ('ledger.java','const',1,6,6,0,0),
          ('ledger.java','function',3,9,22,3,5),
          ('ledger.java','import',1,3,3,0,0),
          ('ledger.java','package',1,1,1,0,0),
          ('ledger.java','param',4,13,22,0,0),
          ('ledger.java','type',2,5,23,0,0),
          ('memstore.php','const',1,7,7,0,0),
          ('memstore.php','field',1,11,11,0,0),
          ('memstore.php','function',1,13,20,2,2),
          ('memstore.php','import',1,5,5,0,0),
          ('memstore.php','package',1,3,3,0,0),
          ('memstore.php','param',3,13,13,0,0),
          ('memstore.php','type',1,9,21,0,0),
          ('pool.js','call',2,10,16,0,0), ('pool.js','const',1,1,1,0,0),
          ('pool.js','function',3,5,17,2,5), ('pool.js','param',2,5,15,0,0),
          ('pool.js','type',1,4,13,0,0), ('pool.js','var',1,2,2,0,0),
          ('slot.c','const',1,3,3,0,0), ('slot.c','field',2,8,9,0,0),
          ('slot.c','function',1,12,19,2,3), ('slot.c','import',1,1,1,0,0),
          ('slot.c','param',3,12,12,0,0), ('slot.c','type',1,7,10,0,0),
          ('slot.c','var',1,5,5,0,0),
          ('srv.go','call',3,33,46,0,0), ('srv.go','const',3,11,17,0,0),
          ('srv.go','field',3,20,22,0,0), ('srv.go','function',3,31,47,5,6),
          ('srv.go','import',3,4,8,0,0), ('srv.go','package',1,1,1,0,0),
          ('srv.go','param',9,31,45,0,0), ('srv.go','type',3,19,29,0,0),
          ('srv.go','var',1,15,15,0,0),
          ('store.ts','call',2,22,28,0,0), ('store.ts','const',1,4,4,0,0),
          ('store.ts','field',3,10,12,0,0), ('store.ts','function',5,18,38,8,9),
          ('store.ts','import',2,1,2,0,0), ('store.ts','param',10,18,38,0,0),
          ('store.ts','type',3,7,25,0,0), ('store.ts','var',1,5,5,0,0)
        ) AS t(file_path, kind, n, first_line, last_line, sum_params,
               sum_complexity)
    """),
    _Q("graph_type_usages_params", _q_type_usages_params, """
        SELECT * FROM (VALUES
          ('store.ts:add','add','store.ts'),
          ('store.ts:lookup','lookup','store.ts')
        ) AS t(function_id, name, file_path)
    """),
    _Q("graph_context_snippets", _q_graph_context, _graph_context_oracle),
    _Q("graph_pattern_search", _q_pattern_search, """
        SELECT * FROM (VALUES
          ('project_cortex_spark/operators/search.py','function',
           'build_search_index',33,49,1),
          ('project_cortex_spark/operators/search.py','function',
           'hybrid_search_rrf',174,263,4),
          ('project_cortex_spark/operators/search.py','function',
           'hybrid_search_weighted',266,340,4),
          ('project_cortex_spark/operators/search.py','function',
           'semantic_search',119,151,2)
        ) AS t(file_path, kind, name, start_line, end_line, n_params)
    """),
    _Q("graph_pattern_ast", _q_pattern_ast, """
        SELECT * FROM (VALUES ('demo.py', 14, 14, 3))
        AS t(file_path, start_line, end_line, n_bindings)
    """),
    _Q("graph_pattern_ast_multilang", _q_pattern_ast_multilang, """
        SELECT * FROM (VALUES
          ('go_if','srv.go',32,34,1,'34b26ffca391a8ecdc04b4f48bbbdb59'),
          ('go_method','srv.go',41,41,3,'564a7090f1afc23ee742dd6817e48683'),
          ('ts_if','store.ts',21,23,1,'2dc46f21d64793ed8c932793b0945d92'),
          ('ts_if','store.ts',29,29,1,'2130c952c6c692db23ab822baefebbd2')
        ) AS t(pattern_id, file_path, start_line, end_line, n_bindings,
               match_md5)
    """),
    _Q("graph_pattern_cst", _q_pattern_cst, """
        SELECT * FROM (VALUES
          ('go_lit_smart','notes.go',4,4,0,'1ce09d899b619e6383146d8c7d726e38'),
          ('go_lit_smart','notes.go',5,5,0,'f806a715eac7477451bcc5db8528f0ba'),
          ('go_lit_cst','notes.go',4,4,0,'1ce09d899b619e6383146d8c7d726e38'),
          ('go_todo_cst','notes.go',6,6,0,'72a84775925e4b818a700dc025366def'),
          ('ts_fn_smart','notes.ts',1,1,2,'131473c6bc71634e7b7d8761b0e8a6e6'),
          ('ts_fn_cst_full','notes.ts',1,1,2,'131473c6bc71634e7b7d8761b0e8a6e6'),
          ('py_audit_cst','notes.py',2,2,1,'004594b9bb83ea72713a26062b6d85ab')
        ) AS t(pattern_id, file_path, start_line, end_line, n_bindings,
               match_md5)
    """),
    _Q("graph_pattern_signature", _q_pattern_signature, """
        SELECT * FROM (VALUES
          ('cache.rs','function','evict',10,2,'fn_a2'),
          ('cache.rs','function','insert',14,3,'fn_a2'),
          ('cache.rs','function','evict',23,2,'fn_a2'),
          ('demo.py','function','greet',12,3,'fn_a2'),
          ('ledger.java','function','credit',13,2,'fn_a2'),
          ('memstore.php','function','put',13,2,'fn_a2'),
          ('slot.c','function','probe',12,2,'fn_a2'),
          ('srv.go','function','NewConfig',31,3,'fn_a2'),
          ('store.ts','function','add',20,2,'fn_a2'),
          ('store.ts','function','lookup',27,2,'fn_a2'),
          ('store.ts','function','scale',34,2,'fn_a2'),
          ('cursor.rb','function','advance',11,1,'methods'),
          ('store.ts','function','add',20,2,'methods'),
          ('cursor.rb','function','initialize',7,1,'init_like')
        ) AS t(file_path, kind, name, start_line, n_params, pattern_id)
    """),
    _Q("retention_evict_branches", _q_retention_evict, _retention_oracle),
    _Q("agg_rollup", _q_agg_rollup, _ROLLUP_ORACLE),
    _Q("agg_cube", _q_agg_cube, _CUBE_ORACLE),
    _Q("agg_percentiles", _q_agg_percentiles, _PERCENTILES_ORACLE),
    _Q("agg_sketch_contract", _q_agg_sketch_contract, _SKETCH_CONTRACT_ORACLE),
    _Q("agg_count_distribution", _q_agg_count_distribution, _COUNT_DISTRIBUTION_ORACLE),
    _Q("agg_top_supplier", _q_agg_top_supplier, _TOP_SUPPLIER_ORACLE),
    _Q("agg_tpch_q17", _q_agg_tpch_q17, _TPCH_Q17_ORACLE),
    _Q("agg_tpch_q18", _q_agg_tpch_q18, _TPCH_Q18_ORACLE),
    _Q("agg_tpch_q2_shape", _q_agg_tpch_q2_shape, _TPCH_Q2_SHAPE_ORACLE),
    _Q("agg_tpch_q21_shape", _q_agg_tpch_q21_shape, _TPCH_Q21_SHAPE_ORACLE),
    _Q("agg_tpch_q7_shape", _q_agg_tpch_q7_shape, _TPCH_Q7_SHAPE_ORACLE),
    _Q("agg_tpch_q8_shape", _q_agg_tpch_q8_shape, _TPCH_Q8_SHAPE_ORACLE),
    _Q("agg_tpch_q9_shape", _q_agg_tpch_q9_shape, _TPCH_Q9_SHAPE_ORACLE),
    _Q("agg_tpch_q11_shape", _q_agg_tpch_q11_shape, _TPCH_Q11_SHAPE_ORACLE),
    _Q("agg_tpch_q12_shape", _q_agg_tpch_q12_shape, _TPCH_Q12_SHAPE_ORACLE),
    _Q("agg_tpch_q14_shape", _q_agg_tpch_q14_shape, _TPCH_Q14_SHAPE_ORACLE),
    _Q("agg_tpch_q16_shape", _q_agg_tpch_q16_shape, _TPCH_Q16_SHAPE_ORACLE),
    _Q("agg_tpch_q20_shape", _q_agg_tpch_q20_shape, _TPCH_Q20_SHAPE_ORACLE),
    _Q("agg_tpch_q22_shape", _q_agg_tpch_q22_shape, _TPCH_Q22_SHAPE_ORACLE),
    _Q("validate_expectations", _q_validate_expectations, _EXPECTATIONS_ORACLE),
    _Q("events_cumulative", _q_events_cumulative, _CUMULATIVE_ORACLE),
    _Q("events_lag_delta", _q_events_lag_delta, _LAG_DELTA_ORACLE),
    _Q("join_hydrate_nested", _q_hydrate_order_lines, _HYDRATE_ORACLE),
    _Q("join_asof", _q_asof_join, _ASOF_ORACLE),
    _Q("join_asof_forward", _q_asof_join_forward, _ASOF_FORWARD_ORACLE),
    _Q("join_asof_nearest", _q_asof_join_nearest, _ASOF_NEAREST_ORACLE),
    _Q("join_range", _q_range_join, _range_join_oracle),
    _Q("join_salted", _q_join_salted, _SALTED_JOIN_ORACLE),
    _Q("stream_windowed_agg", _q_stream_windowed_agg, oracle.windowed_agg_sql),
    _Q("stream_sessionize", _q_stream_sessionize, oracle.sessionize_stream_sql),
    # exactly-once dedup of a doubled delivery == the original table
    _Q("stream_dedup", _q_stream_dedup, """
        SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
               CAST(round(value * 10000) AS BIGINT) AS value_e4
        FROM events
    """),
    _Q("stream_interval_join", _q_stream_interval_join, """
        SELECT a.user_id,
               a.event_id AS a_event_id,
               b.event_id AS b_event_id,
               epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
        FROM events a JOIN events b
          ON a.user_id = b.user_id
         AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 60 MINUTES
         AND (a.ts < b.ts OR a.event_id < b.event_id)
    """),
    _Q("stream_asof_join", _q_stream_asof_join, _ASOF_ORACLE),
    # incremental rollup over two deliveries == one-shot batch aggregate
    _Q("stream_rollup", _q_stream_rollup, """
        SELECT epoch_us(time_bucket(INTERVAL '60 minutes', ts)) AS window_start_us,
               event_type, count(*) AS n_events,
               CAST(sum(CAST(round(value * 10000) AS BIGINT)) AS BIGINT) AS sum_value_e4
        FROM events GROUP BY 1, 2
    """),
    # streaming twins judged against the SAME oracles as their batch twins
    _Q("stream_ewma", _q_stream_ewma, oracle.ewma_sql),
    _Q("stream_anomaly", _q_stream_anomaly, oracle.rolling_anomaly_sql),
    _Q("stream_topk", _q_stream_topk, oracle.top_users_per_type_sql),
    # incremental signature store merged == one-shot batch minhash
    _Q("stream_neardup", _q_stream_neardup,
       partial(oracle.minhash_near_duplicates_sql, threshold=0.5)),
    _Q("stream_edit_distance", _q_stream_edit_distance, _EDIT_DISTANCE_ORACLE),
    # incremental union-find == one-shot batch CC (min-rooting is
    # associative); same oracle as dedup_clusters
    _Q("stream_connected_components", _q_stream_connected_components, _clusters_oracle),
    _Q("stream_paragraph_dedup", _q_stream_paragraph_dedup,
       oracle.dedup_paragraphs_sql),
    _Q("stream_debounce", _q_stream_debounce, oracle.debounce_sql),
    _Q("stream_twap", _q_stream_twap, oracle.twap_sql),
    _Q("stream_heatmap", _q_stream_heatmap, oracle.activity_heatmap_sql),
    _Q("stream_sliding_window", _q_stream_sliding_window, _SLIDING_WINDOW_ORACLE),
    _Q("sql_ansi_windows", _q_sql_ansi_windows, _ANSI_WINDOW_SQL),
    _Q("sql_ansi_recursive", _q_sql_ansi_recursive, _ANSI_RECURSIVE_SQL),
    # incremental FTS store merged == one-shot batch index (fts_composite)
    _Q("stream_fts", _q_stream_fts, _FTS_COMPOSITE_ORACLE),
    _Q("stream_fts_compacted", _q_stream_fts_compacted, _FTS_COMPOSITE_ORACLE),
    # BOTH incremental stores merged == the one-shot batch hybrid oracle
    _Q("stream_hybrid_rrf", _q_stream_hybrid_rrf, _HYBRID_RRF_ORACLE),
    # ... and still after compacting all three stores (atomic swap)
    _Q("stream_hybrid_compacted", _q_stream_hybrid_compacted, _HYBRID_RRF_ORACLE),
    # incremental vector store, full probe == the EXACT join oracle
    _Q("stream_knn", _q_stream_knn, _KNN_JOIN_ORACLE),
    # the persisted-index lifecycle gates against the SAME
    # replayed-trainer oracle — incremental
    # assignment against disk-loaded centroids (stream_knn_ivf) and
    # the retrain/re-assign/atomic-swap rebuild (knn_ivf_compacted)
    # both reproduce the one-shot partial-probe output exactly
    _Q("stream_knn_ivf", _q_stream_knn_ivf, _IVF_JOIN_ORACLE),
    _Q("knn_ivf_compacted", _q_knn_ivf_compacted, _IVF_JOIN_ORACLE),
    # persisted-PQ lifecycle, same contract
    # as the IVF pair above — incremental encode against
    # disk-loaded codebooks (stream_knn_pq) and the
    # retrain/re-encode/atomic-swap rebuild (knn_pq_compacted) both
    # reproduce the one-shot ADC top-k replay exactly
    _Q("stream_knn_pq", _q_stream_knn_pq, _PQ_JOIN_ORACLE),
    _Q("knn_pq_compacted", _q_knn_pq_compacted, _PQ_JOIN_ORACLE),
    _Q("stream_ohlc", _q_stream_ohlc, oracle.ohlc_sql),
    _Q("stream_histogram", _q_stream_histogram, oracle.value_histogram_sql),
    _Q("media_decode_meta", lambda s, d: mm.decode_media(
        _media(s, d)
    ).drop("mean_byte"), oracle.media_decode_meta_sql),
    _Q("media_features", lambda s, d: mm.extract_features(_media(s, d), dim=32).select(
        "media_id",
        F.size("features").alias("dim"),
        F.round(
            F.sqrt(F.aggregate("features", F.lit(0.0), lambda a, x: a + x * x)), 4
        ).alias("l2_norm"),
    ), """
        SELECT doc_id AS media_id, 32 AS dim, 1.0 AS l2_norm FROM documents
    """),
    _Q("media_bmp_roundtrip", _q_media_bmp_roundtrip, _MEDIA_BMP_ORACLE),
    _Q("media_tar_roundtrip", _q_media_tar_roundtrip, _MEDIA_BMP_ORACLE),
    _Q("media_png_roundtrip", _q_media_png_roundtrip, _MEDIA_PNG_ORACLE),
    _Q("media_wav_roundtrip", _q_media_wav_roundtrip, _MEDIA_WAV_ORACLE),
    _Q("media_jpeg_roundtrip", _q_media_jpeg_roundtrip, _MEDIA_JPEG_ORACLE),
    _Q("media_resize_real", _q_media_resize_real, _MEDIA_RESIZE_ORACLE),
    _Q("media_ulaw_roundtrip", _q_media_ulaw_roundtrip, _MEDIA_ULAW_ORACLE),
    _Q("media_alaw_roundtrip", _q_media_alaw_roundtrip, _MEDIA_ALAW_ORACLE),
    _Q("media_adpcm_roundtrip", _q_media_adpcm_roundtrip, _MEDIA_ADPCM_ORACLE),
    _Q("media_flac_roundtrip", _q_media_flac_roundtrip, _MEDIA_FLAC_ORACLE),
    _Q("media_video_frames", _q_media_video_frames, _MEDIA_VIDEO_ORACLE),
    _Q("media_audio_features", _q_media_audio_features, _MEDIA_AUDIO_FEATURES_ORACLE),
    _Q("media_gif_roundtrip", _q_media_gif_roundtrip, _MEDIA_GIF_ORACLE),
    _Q("media_multimodal_shards", _q_media_multimodal_shards, _MEDIA_MULTIMODAL_ORACLE),
    _Q("text_html_extract", _q_text_html_extract, _TEXT_HTML_ORACLE),
    _Q("text_pdf_extract", _q_text_pdf_extract, _TEXT_PDF_ORACLE),
    _Q("text_fix_mojibake", _q_text_fix_mojibake, _TEXT_MOJIBAKE_ORACLE),
    _Q("graph_bfs_multi", _q_graph_bfs_multi, _BFS_MULTI_ORACLE),
    _Q("fts_batch_topk", _q_fts_batch_topk, partial(
        oracle.fts_batch_oracle_sql, _FTS_BATCH_QUERIES, limit=15, rank_digits=9,
    )),
    # --- deterministic sketches (operators/sketches.py): monoid
    # summaries whose shuffle width is the sketch size, not the data;
    # hashed with the shared md5 idiom so DuckDB re-derives them exactly
    _Q("events_heavy_hitters", lambda s, d: sk.cms_heavy_hitters(_events(s, d)),
       oracle.cms_heavy_hitters_sql),
    _Q("stats_hll_distinct", lambda s, d: sk.hll_distinct(_events(s, d)),
       oracle.hll_distinct_sql),
    _Q("stats_exact_quantiles", lambda s, d: sk.exact_quantiles(_events(s, d)),
       oracle.exact_quantiles_sql),
    _Q("stream_quantiles", _q_stream_quantiles, oracle.exact_quantiles_sql),
    _Q("layout_zorder", _q_layout_zorder, oracle.zorder_bucket_stats_sql),
    # the bloom prefilter never drops a matching row (no false
    # negatives), so the oracle is the join WITHOUT the bloom stage
    _Q("join_bloom_prefilter", _q_join_bloom_prefilter, """
        SELECT l_returnflag,
               count(*) AS n_lines,
               count(DISTINCT l_orderkey) AS n_orders,
               CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 100)
                             AS BIGINT)) AS BIGINT) AS revenue_e2
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        WHERE o_orderpriority = '1-URGENT'
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """),
    # sqrt-temperature corpus balancing (alpha=0.5), integer quotas
    _Q("corpus_temperature_mix", lambda s, d: corpus_mod.temperature_mix(_docs(s, d)),
       oracle.temperature_mix_sql),
    # power-of-two sequence-length buckets with padding-waste accounting
    # (training batch-scheduling layout); integer bit arithmetic so the
    # capacities are exact in both engines
    _Q("corpus_length_buckets", lambda s, d: corpus_mod.length_buckets(
        ts.token_stats(_docs(s, d)).select("doc_id", "n_tokens")
    ), oracle.length_buckets_sql),
    _Q("stream_length_buckets", _q_stream_length_buckets, oracle.length_buckets_sql),
    # SemDeDup-style topic balancing: replayable k-means topics over
    # the embedding column + md5-ranked per-cluster quota
    _Q("corpus_cluster_balance", lambda s, d: corpus_mod.cluster_balance(
        _registry(s, d).table("embeddings"), n_clusters=16, per_cluster=25
    ), _Replayed(oracle.cluster_balance_sql, n_clusters=16, per_cluster=25)),
    # stream-maintained CMS cells merged across micro-batches == the
    # one-shot batch sketch
    _Q("stream_heavy_hitters", _q_stream_heavy_hitters, oracle.cms_heavy_hitters_sql),
    # KMV bottom-k sketch: pairwise source-overlap (Jaccard) estimates
    _Q("stats_kmv_overlap", lambda s, d: sk.kmv_pair_overlap(_events(s, d)),
       oracle.kmv_pair_overlap_sql),
    # stream-maintained HLL registers merged across micro-batches ==
    # the one-shot batch registers
    _Q("stream_hll_distinct", _q_stream_hll_distinct, oracle.hll_distinct_sql),
    # equi-depth histogram + winsorized robust stats: the two-pass rank
    # machinery applied to planner stats and outlier-tolerant monitoring
    _Q("stats_equidepth_histogram", lambda s, d: sk.equidepth_histogram(_events(s, d)),
       oracle.equidepth_histogram_sql),
    _Q("events_winsorized", lambda s, d: sk.winsorized_stats(_events(s, d)),
       oracle.winsorized_stats_sql),
    # single-pass higher moments (skew/kurtosis drift monitoring):
    # exact e4-integer power sums, both engines finalize identically
    _Q("events_moments", lambda s, d: sk.moment_stats(_events(s, d)),
       oracle.moment_stats_sql),
    # the stream maintains the identical power-sum monoid
    _Q("stream_moments", _q_stream_moments, oracle.moment_stats_sql),
    # per-source unigram KL divergence vs the whole corpus
    _Q("text_source_divergence", lambda s, d: ts.source_divergence(_docs(s, d)),
       oracle.source_divergence_sql),
    # synchronous label-propagation communities over the co-purchase
    # edge list — deterministic min-tie-break variant, CTE-replayable
    _Q("graph_communities_lpa", lambda s, d: graph_mod.communities_lpa(
        _copurchase(s, d)
    ), oracle.communities_lpa_sql),
    _Q("dedup_keep_best", _q_dedup_keep_best, oracle.dedup_keep_best_sql),
    # stream-maintained (source, term) counts merged across micro-
    # batches == the one-shot batch postings
    _Q("stream_source_divergence", _q_stream_source_divergence,
       oracle.source_divergence_sql),
    # DSIR-style data selection: per-doc target/source unigram LM
    # log-likelihood ratio, integer-scaled
    _Q("text_dsir_importance", lambda s, d: ts.dsir_importance(_docs(s, d)),
       oracle.dsir_importance_sql),
    # stream-maintained distinct membership merged across micro-batches
    # == the one-shot batch membership
    _Q("stream_kmv_overlap", _q_stream_kmv_overlap, oracle.kmv_pair_overlap_sql),
    # fixed-window rate limiting: per-(user, day) cap, arrival order
    # (daily window + limit 5: the cap binds on the fixture's busiest
    # producers at every SF, so the audit view is non-empty)
    _Q("events_throttle", lambda s, d: ev.throttle(
        _events(s, d), minutes=1440, limit=5
    ), _THROTTLE_ORACLE),
    # stream-maintained (user, window) counts merged across micro-
    # batches == the one-shot batch counts
    _Q("stream_throttle", _q_stream_throttle, _THROTTLE_ORACLE),
)


# ---------------------------------------------------------------------------
# contract functions
# ---------------------------------------------------------------------------


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: revenue by nation through a
    3-table join + aggregation, compiled from the JSON DSL."""
    return _REVENUE_BY_NATION(
        spark, "/root/testdata/sf0.001"
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every build function, gate plan first. Builds no oracle."""
    return _prioritize({q.name: q.build for q in _QUERIES})


# The correctness gate checks the first 50 keys of queries(), so this list
# is the gate plan: queries never gated first, then those whose newest gate
# result is oldest. The rest follow in table order, and every query still
# runs locally through scripts/check_entry.py.
_GATE_FIRST = [
    "dedup_semantic",
    "stream_dedup_semantic",
    "stream_ks_drift",
    "stream_psi_drift",
    "dsl_window_topn",
    "dsl_window_running",
    "events_cusum",
    "stream_cusum",
    "events_mad_outliers",
    "events_autocorr",
    "events_holt",
    "stream_autocorr",
    "stream_holt",
    "graph_closeness",
    "corpus_mix",
    "dedup_embedding_cosine",
    "dedup_simhash",
    "dsl_agg_full",
    "dsl_agg_having",
    "dsl_between_dates",
    "dsl_filter_bool_tree",
    "dsl_in",
    "dsl_join_full",
    "dsl_join_inner",
    "dsl_join_left",
    "dsl_join_right",
    "dsl_like",
    "dsl_null_checks",
    "dsl_order_limit_offset",
    "dsl_revenue_by_nation",
    "dsl_tpch_q5",
    "events_top_users",
    "fts_prefix",
    "fts_term",
    "graph_callees_d3",
    "graph_dependents",
    "graph_type_usages",
    "join_range",
    "knn_topk_filtered",
    "events_seasonal",
    "events_seasonal_outliers",
    "dedup_edit_distance",
    "stream_edit_distance",
    "events_ttest_drift",
    "stream_ttest_drift",
    "graph_betweenness",
    "stream_quantiles",
    "stream_seasonal",
    "pipeline_parse_multilang",
    "search_lexical_recall",
]


def _prioritize(
    out: dict[str, Callable[[SparkSession, str], DataFrame]],
) -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    ordered = {k: out[k] for k in _GATE_FIRST if k in out}
    ordered.update({k: v for k, v in out.items() if k not in ordered})
    return ordered


def oracle_sql() -> dict[str, str]:
    """The DuckDB oracle of every query that has one, built once each."""
    out: dict[str, str] = {}
    built: dict[int, str | Exception] = {}
    for name, _build, spec in _QUERIES:
        if callable(spec):
            if id(spec) not in built:
                try:
                    built[id(spec)] = spec()
                except Exception as exc:
                    if not isinstance(spec, _Replayed):
                        raise
                    built[id(spec)] = exc
            spec = built[id(spec)]
        if isinstance(spec, Exception):
            print(f"oracle_sql: dropped {name}: replayed-trainer load failed: "
                  f"{spec!r}", file=sys.stderr)
        elif spec is not None:
            out[name] = spec
    return out
