"""The ``cortex_search`` composite: semantic search end to end.

Reference pipeline (internal/mcp/search_sqlite.go:52-212): embed(query,
mode=query) -> vec0 KNN k=2*limit -> join chunks+files payload ->
chunk_type OR-filter, tag AND-filter -> score = 1 - dist/2 -> min_score
-> limit. Tags rewrite to column predicates (search_sqlite.go:104-127):
a language tag becomes ``files.language = tag``; 'code' becomes
``chunk_type != 'documentation'``; 'documentation' the equality.

Spark-first differences (SURVEY §3.2): filters are plain SQL
predicates that Catalyst pushes BELOW the scoring projection, so the
reference's 2x over-fetch headroom (it must post-filter after vec0
returns) disappears — we score only surviving rows and take an exact
top-k (TakeOrderedAndProject).

Scale notes: the index frame is chunk rows with an ``array<float>``
embedding column — scored with a narrow codegen projection; the only
wide edge is the final top-k, which is a driver-side heap merge of
per-partition partial top-ks, not a sort.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from project_cortex_spark.functions.sql import ident, literal
from project_cortex_spark.operators.knn import knn_topk
from project_cortex_spark.pipeline.chunks import assemble_code_chunks
from project_cortex_spark.pipeline.embed import DEFAULT_DIM, PROVIDERS, embed_chunks
from project_cortex_spark.session import local_frame


def build_search_index(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    dim: int = DEFAULT_DIM,
    provider: str = "hash",
) -> DataFrame:
    """Chunk + embed + payload join — the build side that ``cortex_index``
    maintains and ``cortex_search`` reads (chunks ⋈ files, J2)."""
    chunks = assemble_code_chunks(docs, id_col=id_col, text_col=text_col)
    payload = docs.select(id_col, F.col(lang_col).alias("language"))
    embedded = embed_chunks(
        chunks, text_col="chunk_text", dim=dim, mode="passage", provider=provider
    )
    return embedded.join(payload, id_col)


def tag_predicate(tag: str) -> str:
    """P9 tag -> column predicate rewrite (search_sqlite.go:235-276), as
    SQL text."""
    if tag == "code":
        return "chunk_type != 'documentation'"
    if tag == "documentation":
        return "chunk_type = 'documentation'"
    return f"language = {literal(tag)}"


def lexical_retrieval_top1(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = DEFAULT_DIM,
    every: int = 25,
    provider: str = "lexical",
) -> DataFrame:
    """Retrieval-quality contract for the lexical provider (D7): every
    ``every``-th document, embedded in QUERY mode from its own text, must
    retrieve itself from the passage-embedded corpus as the top-1 cosine
    hit — the driver-gradable form of "cosine tracks weighted token
    overlap".

    The oracle twin computes the noiseless ranking (what cosine converges
    to as dim→∞, since E[dir_i·dir_j] = δ_ij for the crc32-seeded random
    directions): weighted-overlap cosine Σ w_q(t)·w_d(t) / (‖w_q‖·‖w_d‖)
    with w = 1 + ln(tf) and the virtual mode token contributing only to
    the norms. A provider whose cosine stopped tracking token overlap
    (broken tokenization, non-deterministic directions, normalization
    bugs) diverges from that ranking and reds the gate.

    Returns (query_doc_id, top_doc_id), ties broken by doc id — exact
    token-multiset duplicates embed identically on both sides, so the
    tie-break agrees.

    Physical shape: the query side (n/every rows) broadcasts against the
    corpus scan; the window top-1 runs map-side partial before the
    shuffle on query_doc_id — same plan family as :func:`knn_join`.
    """
    from project_cortex_spark.functions.vector import similarity_score

    base = docs.select(id_col, text_col)
    passages = embed_chunks(
        base, text_col=text_col, out_col="p_vec", dim=dim, mode="passage",
        provider=provider,
    ).select(F.col(id_col).alias("top_doc_id"), "p_vec")
    queries = embed_chunks(
        base.filter(F.col(id_col) % every == 0),
        text_col=text_col, out_col="q_vec", dim=dim, mode="query",
        provider=provider,
    ).select(F.col(id_col).alias("query_doc_id"), "q_vec")
    from pyspark.sql import Window

    scored = passages.crossJoin(F.broadcast(queries)).withColumn(
        "score", similarity_score("p_vec", "q_vec")
    )
    w = Window.partitionBy("query_doc_id").orderBy(
        F.col("score").desc(), F.col("top_doc_id").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_doc_id", "top_doc_id")
    )


def _query_vector(semantic_query: str, dim: int, provider: str) -> list[float]:
    embedder = PROVIDERS[provider]
    return [
        float(x)
        for x in embedder(pd.Series([semantic_query]), dim=dim, mode="query")[0]
    ]


def semantic_search(
    index: DataFrame,
    query: str,
    *,
    limit: int = 15,
    chunk_types: list[str] | None = None,
    tags: list[str] | None = None,
    min_score: float | None = None,
    dim: int = DEFAULT_DIM,
    provider: str = "hash",
) -> DataFrame:
    """Embed the query (query mode, asymmetric to passages) and return the
    top ``limit`` chunks with payload: (chunk_id, doc_id, chunk_type,
    language, score). chunk_types OR together; tags AND together.
    ``provider`` must match the one the index was built with."""
    where = [f"chunk_type IN ({', '.join(map(literal, chunk_types))})"] if chunk_types else []
    where += [f"({tag_predicate(tag)})" for tag in tags or []]
    return knn_topk(
        index,
        _query_vector(query, dim, provider),
        vec_col="embedding",
        id_col="chunk_id",
        k=limit,
        min_score=min_score,
        where=F.expr(" AND ".join(where)) if where else None,
        payload_cols=["doc_id", "chunk_type", "language"],
    )


def build_doc_vectors(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = DEFAULT_DIM,
    provider: str = "hash",
) -> DataFrame:
    """Document-level embedding side of hybrid retrieval: one passage
    vector per document (no chunking), ``(id, embedding)``. A narrow
    Arrow-batched map like every embed stage — no shuffle."""
    return embed_chunks(
        docs.select(id_col, text_col),
        text_col=text_col,
        dim=dim,
        mode="passage",
        provider=provider,
    ).select(id_col, "embedding")


def _fuse(
    lex: DataFrame,
    sem: DataFrame,
    id_col: str,
    k: int,
    value,
    combine,
    value_type: str,
    out: list[str],
) -> DataFrame:
    """Fuse two ranked top-N lists on the driver — the one fusion step
    both hybrid operators share.

    Each list is already cut to ≤N rows in (score desc, id asc) order, so
    it is collected as is. ``value(rows)`` maps one list's rows
    ``(id, score)`` to ``{id: value}`` (a rank, a normalized score);
    ``combine(a, b)`` turns a doc's two values — None where the doc is
    missing from a list — into its fused score ``_f``. The top ``k``
    docs by (``_f`` desc, id asc) come back through ``local_frame`` as
    ``(id, _f, _a, _b)`` in that order, projected by the SQL ``out``
    expressions, which Spark evaluates (its ``round`` is the contract's).
    """
    a, b = value(lex.collect()), value(sem.collect())
    ids = list(dict.fromkeys([*a, *b]))
    rows = sorted(
        ((i, combine(a.get(i), b.get(i)), a.get(i), b.get(i)) for i in ids),
        key=lambda r: (-r[1], r[0]),
    )[:k]
    id_type = lex.schema[id_col].dataType.simpleString()
    schema = f"{ident(id_col)} {id_type}, _f double, _a {value_type}, _b {value_type}"
    return local_frame(lex.sparkSession, rows, schema).selectExpr(ident(id_col), *out)


def hybrid_search_rrf(
    fts_index,
    doc_vectors: DataFrame,
    lexical_query: str,
    semantic_query: str,
    *,
    k: int = 15,
    n_per_list: int = 50,
    rrf_k: int = 60,
    dim: int = DEFAULT_DIM,
    provider: str = "hash",
    id_col: str = "doc_id",
    rank_digits: int = 9,
) -> DataFrame:
    """Hybrid retrieval with reciprocal-rank fusion: BM25 top-N and
    cosine top-N fused by ``Σ 1/(rrf_k + rank)`` (Cormack et al.'s RRF,
    the standard model-free fusion every production retrieval stack
    runs ahead of the reranker). The reference serves ``cortex_exact``
    and ``cortex_search`` as separate tools (internal/mcp/
    exact_sqlite.go, search_sqlite.go); fusing them is the beyond-parity
    step a retrieval user expects.

    Output: (id, rrf_score, lex_rank, sem_rank) — NULL rank for a doc
    present in only one list (its contribution is 0), ordered by fused
    score desc with the id tie-break. Ranks are BIGINT so the schema
    matches the SQL replay's ``row_number()``.

    Physical shape: each list is an independent distributed top-N
    (BM25 posting aggregate / TakeOrderedAndProject scoring scan); the
    call collects the two ≤N-row lists and fuses them on the driver
    (:func:`_fuse`), returning the ≤k fused rows as a local relation —
    the lists' jobs run inside the call, and the returned frame runs
    none. Because ranks are integers, the fused score is a
    deterministic double in BOTH engines — the whole composite is
    hash-gateable (oracle.hybrid_rrf_oracle_sql).
    """
    from project_cortex_spark.operators.fts import fts_search

    # rank_digits quantizes both lists' scores before the cut and the
    # ranks: a replicated corpus holds packs of truly-equal scores that
    # reassociate to ±1-ulp differences — unquantized, those rank in
    # engine-/partitioning-dependent order (measured at the sf1 replica
    # harness: adjacent lexical ranks flipped between Spark and the SQL
    # replay); at 9 dp the packs collapse onto the id tie-break.
    lex = fts_search(
        fts_index,
        lexical_query,
        limit=n_per_list,
        rank_digits=rank_digits,
    )
    sem = knn_topk(
        doc_vectors,
        _query_vector(semantic_query, dim, provider),
        vec_col="embedding",
        id_col=id_col,
        k=n_per_list,
        rank_digits=rank_digits,
    )

    def contrib(rank: int | None) -> float:
        return 0.0 if rank is None else 1.0 / (float(rrf_k) + rank)

    return _fuse(
        lex,
        sem,
        id_col,
        k,
        lambda rows: {r[0]: i for i, r in enumerate(rows, 1)},
        lambda a, b: contrib(a) + contrib(b),
        "bigint",
        ["round(_f, 6) AS rrf_score", "_a AS lex_rank", "_b AS sem_rank"],
    )


def hybrid_search_weighted(
    fts_index,
    doc_vectors: DataFrame,
    lexical_query: str,
    semantic_query: str,
    *,
    k: int = 15,
    n_per_list: int = 50,
    w_lex: float = 0.4,
    w_sem: float = 0.6,
    dim: int = DEFAULT_DIM,
    provider: str = "hash",
    id_col: str = "doc_id",
    rank_digits: int = 9,
) -> DataFrame:
    """The other standard fusion: min-max normalize each list's scores
    to [0, 1] and take a weighted sum (convex combination) — the
    score-aware alternative to RRF when list score scales are trusted.
    A degenerate list (all scores equal) normalizes to 1.0 everywhere
    by convention; a doc missing from a list contributes 0.

    Same physical shape as :func:`hybrid_search_rrf`: two independent
    distributed top-N lists, fused on the driver by :func:`_fuse`. The
    normalization inputs are the 9 dp rank-quantized scores, so every
    downstream double is a pure function of identical inputs in both
    engines — hash-gateable end to end.
    """
    from project_cortex_spark.operators.fts import fts_search

    lex = fts_search(
        fts_index, lexical_query, limit=n_per_list, rank_digits=rank_digits
    )
    sem = knn_topk(
        doc_vectors,
        _query_vector(semantic_query, dim, provider),
        vec_col="embedding",
        id_col=id_col,
        k=n_per_list,
        rank_digits=rank_digits,
    )

    def normed(rows) -> dict:
        # SQL min/max skip NULL scores; hi == lo gives 1.0 to every row
        scores = [r[1] for r in rows if r[1] is not None]
        lo, hi = (min(scores), max(scores)) if scores else (None, None)
        return {
            r[0]: 1.0 if lo is not None and hi == lo
            else None if r[1] is None or lo is None
            else (r[1] - lo) / (hi - lo)
            for r in rows
        }

    def weighted(a: float | None, b: float | None) -> float:
        return w_lex * (0.0 if a is None else a) + w_sem * (0.0 if b is None else b)

    return _fuse(
        lex,
        sem,
        id_col,
        k,
        normed,
        weighted,
        "double",
        [
            "round(_f, 6) AS wsum_score",
            "round(_a, 6) AS lex_norm",
            "round(_b, 6) AS sem_norm",
        ],
    )
