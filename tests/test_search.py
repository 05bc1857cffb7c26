"""cortex_search composite: tag rewrite, filters, asymmetric embedding."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from project_cortex_spark.operators import search as srch


@pytest.fixture(scope="module")
def index(registry):
    return srch.build_search_index(registry.table("documents"), dim=32).cache()


def test_self_retrieval(index, registry):
    """Querying with a chunk's own text ranks that chunk first (hash
    embeddings are bag-of-tokens, so exact text = max cosine)."""
    row = index.filter(F.col("chunk_type") == "data").first()
    got = srch.semantic_search(index, row["chunk_text"], limit=5, dim=32)
    top = got.first()
    assert top["doc_id"] == row["doc_id"]
    assert top["score"] >= got.collect()[-1]["score"]


def test_chunk_type_or_filter(index):
    got = srch.semantic_search(
        index, "key agg row", limit=20, chunk_types=["symbols", "data"], dim=32
    )
    kinds = {r["chunk_type"] for r in got.collect()}
    assert kinds <= {"symbols", "data"}


def test_tag_and_filter(index):
    got = srch.semantic_search(
        index, "key agg row", limit=20, tags=["en", "code"], dim=32
    )
    rows = got.collect()
    assert rows, "tag filter should still match English code chunks"
    assert all(r["language"] == "en" for r in rows)
    assert all(r["chunk_type"] != "documentation" for r in rows)


def test_min_score_cut(index):
    all_rows = srch.semantic_search(index, "key agg row", limit=50, dim=32).collect()
    cut = (all_rows[0]["score"] + all_rows[-1]["score"]) / 2
    kept = srch.semantic_search(
        index, "key agg row", limit=50, min_score=cut, dim=32
    ).collect()
    assert kept and len(kept) < len(all_rows)
    assert all(r["score"] >= cut for r in kept)


def test_query_mode_is_asymmetric(index):
    """Query-mode embedding differs from passage-mode: querying the exact
    passage text still wins (bag overlap), but scores are not 1.0."""
    row = index.first()
    got = srch.semantic_search(index, row["chunk_text"], limit=1, dim=32).first()
    assert got["score"] < 1.0


# ---------------------------------------------------------------------------
# Lexical (random-indexing) provider: real distributional behavior
# ---------------------------------------------------------------------------


def test_lexical_provider_deterministic_unit_norm():
    import numpy as np
    import pandas as pd

    from project_cortex_spark.pipeline.embed import lexical_embed_series

    texts = pd.Series(["select key from table", "", "SELECT key FROM table"])
    a = lexical_embed_series(texts, dim=32)
    b = lexical_embed_series(texts, dim=32)
    for va, vb in zip(a, b):
        assert np.allclose(va, vb)
        assert abs(np.linalg.norm(va) - 1.0) < 1e-5
    # case-insensitive tokenization: same tokens -> same vector
    assert np.allclose(a[0], a[2])


def test_lexical_cosine_tracks_token_overlap():
    """The point of the provider: sharing more tokens -> higher cosine.
    (The hash provider cannot promise this — bucket collisions are
    structureless.)"""
    import numpy as np
    import pandas as pd

    from project_cortex_spark.pipeline.embed import lexical_embed_series

    vecs = lexical_embed_series(
        pd.Series(
            [
                "the quick brown fox jumps over the lazy dog",
                "the quick brown fox sleeps all day",
                "orbital mechanics of jupiter trojan asteroids",
            ]
        ),
        dim=64,
    )
    base, related, unrelated = (np.asarray(v, dtype=float) for v in vecs)
    assert float(base @ related) > float(base @ unrelated) + 0.1


def test_lexical_semantic_search_end_to_end(spark, registry):
    """cortex_search through the lexical provider retrieves the chunk whose
    text the query was drawn from."""
    docs = registry.table("documents")
    index = srch.build_search_index(docs, dim=32, provider="lexical")
    row = index.first()
    got = srch.semantic_search(
        index, row["chunk_text"], limit=5, dim=32, provider="lexical"
    ).first()
    assert got["doc_id"] == row["doc_id"]


def test_lexical_retrieval_top1_self_retrieves(spark, registry):
    """The driver-gated retrieval contract: query-mode embedding of a
    document's own text finds that document as the top-1 cosine hit —
    recall@1 == 1 against the noiseless token-overlap ranking (the
    DuckDB oracle twin computes the same ranking in SQL)."""
    docs = registry.table("documents")
    out = srch.lexical_retrieval_top1(docs, dim=64, every=25).collect()
    assert len(out) > 0
    assert all(r["query_doc_id"] == r["top_doc_id"] for r in out)


def test_hybrid_rrf_matches_oracle(spark, registry, duck):
    from project_cortex_spark import oracle
    from project_cortex_spark.operators.fts import build_fts_index

    from .conftest import assert_matches_oracle

    docs = registry.table("documents")
    idx = build_fts_index(docs, id_col="doc_id", text_col="text")
    vecs = srch.build_doc_vectors(docs, dim=32)
    df = srch.hybrid_search_rrf(
        idx, vecs, "key OR agg OR row OR scan", "key agg row scan",
        k=15, n_per_list=50, rrf_k=60, dim=32,
    )
    assert_matches_oracle(
        df,
        duck,
        oracle.hybrid_rrf_oracle_sql(
            "key OR agg OR row OR scan", "key agg row scan",
            k=15, n_per_list=50, rrf_k=60, dim=32,
        ),
        ordered=True,
    )


def test_hybrid_rrf_fusion_semantics(spark, registry):
    """A doc in BOTH lists outranks docs at comparable single-list
    ranks, and single-list docs carry a NULL rank for the missing
    side."""
    from project_cortex_spark.operators.fts import build_fts_index

    docs = registry.table("documents")
    idx = build_fts_index(docs, id_col="doc_id", text_col="text")
    vecs = srch.build_doc_vectors(docs, dim=32)
    rows = srch.hybrid_search_rrf(
        idx, vecs, "key OR agg OR row OR scan", "key agg row scan",
        k=50, n_per_list=50, rrf_k=60, dim=32,
    ).collect()
    both = [r for r in rows if r.lex_rank is not None and r.sem_rank is not None]
    single = [r for r in rows if r.lex_rank is None or r.sem_rank is None]
    assert both, "expected overlap between the lexical and semantic lists"
    assert single, "expected docs present in only one list"
    # every row's fused score is exactly Σ 1/(60+rank) over present ranks
    for r in rows:
        expect = sum(
            1.0 / (60.0 + rank)
            for rank in (r.lex_rank, r.sem_rank)
            if rank is not None
        )
        assert r.rrf_score == round(expect, 6)
    # output is ordered by fused score desc with the doc_id tie-break
    for a, b in zip(rows, rows[1:]):
        assert a.rrf_score > b.rrf_score or (
            a.rrf_score == b.rrf_score and a.doc_id < b.doc_id
        )


def test_hybrid_weighted_matches_oracle(spark, registry, duck):
    from project_cortex_spark import oracle
    from project_cortex_spark.operators.fts import build_fts_index

    from .conftest import assert_matches_oracle

    docs = registry.table("documents")
    idx = build_fts_index(docs, id_col="doc_id", text_col="text")
    vecs = srch.build_doc_vectors(docs, dim=32)
    df = srch.hybrid_search_weighted(
        idx, vecs, "key OR agg OR row OR scan", "key agg row scan",
        k=15, n_per_list=50, w_lex=0.4, w_sem=0.6, dim=32,
    )
    assert_matches_oracle(
        df,
        duck,
        oracle.hybrid_weighted_oracle_sql(
            "key OR agg OR row OR scan", "key agg row scan",
            k=15, n_per_list=50, w_lex=0.4, w_sem=0.6, dim=32,
        ),
        ordered=True,
    )


def test_hybrid_weighted_norm_contract(spark, registry):
    """Norms live in [0,1]; the per-list max normalizes to exactly 1 and
    the min to exactly 0 (unless degenerate); fused = 0.4*lex+0.6*sem."""
    from project_cortex_spark.operators.fts import build_fts_index

    docs = registry.table("documents")
    idx = build_fts_index(docs, id_col="doc_id", text_col="text")
    vecs = srch.build_doc_vectors(docs, dim=32)
    rows = srch.hybrid_search_weighted(
        idx, vecs, "key OR agg OR row OR scan", "key agg row scan",
        k=50, n_per_list=50, dim=32,
    ).collect()
    for r in rows:
        for v in (r.lex_norm, r.sem_norm):
            assert v is None or 0.0 <= v <= 1.0
        expect = 0.4 * (r.lex_norm or 0.0) + 0.6 * (r.sem_norm or 0.0)
        assert abs(r.wsum_score - expect) < 2e-6
    assert any(r.sem_norm == 1.0 for r in rows)  # the sem top-1 made top-k


def test_retrieval_requests_build_in_few_round_trips(spark, registry, tmp_path):
    """The retrieval surfaces build each request from SQL text, so its
    Py4J cost does not grow with the vector or the query: building
    knn_topk takes at most 60 round trips and fts_search at most 100,
    hybrid_search_rrf end to end (both lists' jobs, the fusion and the
    collect) at most 200, and fts_search on a stored index runs at most
    3 Spark jobs (the aggregate's shuffle, the payload side, the top-k).
    Built node by node through the Column API these were ~740, ~500 and
    ~1,900 round trips and 5 jobs. Round trips are counted on the
    calling thread: py4j's finalizer thread releases proxies of earlier
    requests in its own time."""
    import threading

    from project_cortex_spark.operators.fts import (
        build_fts_index, fts_search, load_fts_index, store_fts_index,
    )
    from project_cortex_spark.operators.knn import knn_topk

    docs = registry.table("documents")
    path = str(tmp_path / "fts")
    store_fts_index(build_fts_index(docs, id_col="doc_id", text_col="text"), path)
    idx = load_fts_index(spark, path, docs, id_col="doc_id", text_col="text")
    vecs_path = str(tmp_path / "vecs")
    srch.build_doc_vectors(docs, dim=64).write.parquet(vecs_path)
    vecs = spark.read.parquet(vecs_path)
    qv = [((i * 37) % 11 - 5) / 7.0 for i in range(64)]
    lex, sem = '(key OR agg) "row scan" NOT zebra sor*', "key agg row scan"

    client = spark.sparkContext._gateway._gateway_client
    send, me, calls = client.send_command, threading.get_ident(), [0]

    def counting(*args, **kwargs):
        calls[0] += threading.get_ident() == me
        return send(*args, **kwargs)

    def round_trips(fn) -> int:
        fn()  # warm: first use of a JVM class costs extra lookups
        calls[0] = 0
        client.send_command = counting
        try:
            fn()
        finally:
            del client.send_command
        return calls[0]

    assert round_trips(lambda: knn_topk(vecs, qv, id_col="doc_id", k=15)) <= 60
    assert round_trips(lambda: fts_search(idx, lex, limit=15, rank_digits=9)) <= 100
    assert round_trips(lambda: srch.hybrid_search_rrf(
        idx, vecs, lex, sem, k=15, n_per_list=50, dim=64).collect()) <= 200

    sc = spark.sparkContext
    group = "test_retrieval_requests_build_in_few_round_trips"
    sc.setJobGroup(group, group)
    try:
        rows = fts_search(idx, lex, limit=15).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 3
