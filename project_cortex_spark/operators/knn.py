"""KNN vector similarity search (``cortex_search`` parity) + similarity join.

Reference pipeline (/root/reference/internal/mcp/search_sqlite.go:52-212):
embed(query) -> vec0 KNN k=2*limit cosine -> join payload -> chunk_type/
tag filters -> score = 1 - dist/2 -> min_score -> limit.

Spark-first differences:
  * Filters are plain predicates pushed BEFORE the distance sort by
    Catalyst, so the reference's 2x over-fetch headroom trick
    (search_sqlite.go:79-82) is unnecessary — we score only surviving
    rows and take an exact top-k (TakeOrderedAndProject).
  * Exact brute-force scoring is a single narrow scan + per-row double
    math in codegen; at 100 TB this is the batch-scoring path. For
    interactive latencies, `knn_join_lsh` buckets by random-hyperplane
    signatures so each query only scores its candidate buckets.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..functions.sql import ident, literal
from ..functions.vector import double_array, hyperplane_signature, similarity_score
from ..session import local_frame


def knn_topk(
    corpus: DataFrame,
    query_vec: list[float],
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 15,
    min_score: float | None = None,
    where: Column | None = None,
    payload_cols: list[str] | None = None,
    rank_digits: int | None = None,
) -> DataFrame:
    """Exact top-k cosine neighbors of one query vector.

    Returns (id, score) + payload columns, ordered by score desc with the
    id as the deterministic tie-break (the reference orders by distance
    then applies LIMIT: vector_index.go:133-171; deterministic tie-order
    per searcher_sql.go:425).

    ``rank_digits`` quantizes the score before the cut/ordering so
    truly-tied vectors (exact duplicates, replicated corpora) rank by
    the id tie-break instead of by ±1-ulp reassociation noise — set by
    rank-consumers like hybrid RRF; plain search keeps the raw score.

    The request is built from SQL text — the query vector is one array
    literal inside one ``F.expr`` — so it costs a few dozen Py4J round
    trips whatever the vector's dimension.
    """
    df = corpus
    if where is not None:
        df = df.filter(where)
    df = df.withColumn(
        "score", similarity_score(ident(vec_col), double_array(query_vec))
    )
    if rank_digits is not None:
        df = df.withColumn("score", F.expr(f"round(score, {int(rank_digits)})"))
    if min_score is not None:
        df = df.filter(f"score >= {literal(min_score)}")
    cols = [ident(c) for c in [id_col, "score"] + (payload_cols or [])]
    return df.selectExpr(*cols).orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    k: int = 10,
    max_query_batch: int = 10_000,
) -> DataFrame:
    """Brute-force k-nearest-neighbors join: for every query row, the top-k
    corpus rows by cosine score (score desc, corpus_id asc tie-break;
    reference ordering per vector_index.go:133-171).

    Physical shape (r5): the query side IS a bounded batch by contract
    (enforced <= ``max_query_batch``, same bound as the sanctioned ANN
    training collects) and ships to executors as a plain matrix; each
    Arrow batch of the corpus computes its (batch, m) cosine block in
    ONE matmul and emits only its LOCAL top-k rows per query — map-side
    partial top-k, the multi-query analogue of TakeOrderedAndProject.
    The final window ranks ~(partitions x m x k) rows instead of
    shuffling all n x m scored rows, which is the difference between a
    k-sized and an n-sized exchange at 100 TB. (The previous
    crossJoin+window form shuffled every scored row; measured 2.4x
    slower on the 100-query batch at sf0.1.)

    Float-parity note: the matmul reduction order differs from a
    sequential fold at the ~1 ulp level; scores are compared to the
    oracle after round(6), and a rank flip would need two DISTINCT
    vectors within ~1e-13 of each other (bit-identical vectors produce
    bit-identical scores and fall to the id tie-break). Zero-norm,
    NULL, and wrong-dimension embeddings score NULL (never a fake
    mid-range value) and rank last, matching SQL division semantics on
    both engines.
    """
    qrows = queries.select(query_id, query_vec).collect()
    if len(qrows) > max_query_batch:
        raise ValueError(
            f"knn_join query side has {len(qrows)} rows; the query batch "
            f"contract is <= {max_query_batch} (chunk the batch or raise "
            f"max_query_batch explicitly)"
        )
    qid_dt = dict(queries.dtypes)[query_id]
    cid_dt = dict(corpus.dtypes)[corpus_id]
    schema = f"{query_id} {qid_dt}, {corpus_id} {cid_dt}, score double"
    if not qrows:
        return local_frame(corpus.sparkSession, [], schema + ", rank int")
    bad_q = [r[0] for r in qrows if r[1] is None]
    if bad_q:
        # corpus-side NULL vectors score NULL; a NULL QUERY vector is a
        # caller error (there is nothing to rank against) — name it
        # instead of letting np.array raise an opaque TypeError
        raise ValueError(
            f"knn_join: NULL {query_vec} for query ids {bad_q[:5]}"
            f"{'...' if len(bad_q) > 5 else ''}; filter or fill the "
            f"query side before joining"
        )
    qids = [r[0] for r in qrows]
    qmat = np.array([list(r[1]) for r in qrows], dtype=np.float64)  # (m, d)
    qnorm = np.linalg.norm(qmat, axis=1)
    dim = qmat.shape[1]

    def local_topk(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            # NULL / wrong-dimension embeddings score NULL (the SQL
            # contract: a 0/0 or null-element dot product is NULL on
            # both engines), rank last under desc NULLS LAST — they
            # must not crash the task or score a fake 0.5
            raw = list(pdf[corpus_vec])
            bad = np.array(
                [v is None or len(v) != dim for v in raw], dtype=bool
            )
            cmat = np.array(
                [[0.0] * dim if b else list(v) for v, b in zip(raw, bad)],
                dtype=np.float64,
            )
            cnorm = np.linalg.norm(cmat, axis=1)
            denom = np.outer(cnorm, qnorm)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = (cmat @ qmat.T) / denom
            score = 1.0 - (1.0 - cos) / 2.0  # (batch, m)
            score[denom == 0.0] = np.nan
            score[bad, :] = np.nan
            ids = pdf[corpus_id].to_numpy()
            take = min(k, len(ids))
            # NaN sorts as -inf for the local cut so null-score rows
            # survive into the top-k only when fewer than k scored rows
            # exist in the batch — mirroring NULLS LAST
            key = np.where(np.isnan(score), -np.inf, score)
            out_q, out_c, out_s = [], [], []
            for j in range(score.shape[1]):
                order = np.lexsort((ids, -key[:, j]))[:take]
                out_q.extend([qids[j]] * take)
                out_c.extend(ids[order])
                out_s.extend(
                    None if np.isnan(x) else float(x)
                    for x in score[order, j]
                )
            yield pd.DataFrame(
                {
                    query_id: out_q,
                    corpus_id: out_c,
                    "score": pd.array(out_s, dtype="Float64"),
                }
            )

    scored = corpus.select(corpus_id, corpus_vec).mapInPandas(local_topk, schema)
    w = Window.partitionBy(query_id).orderBy(
        F.col("score").desc(), F.col(corpus_id).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "score", "rank")
    )


def _hyperplane(dim: int, seed: int) -> list[float]:
    """Deterministic pseudo-random unit hyperplane (pure Python, driver
    side, tiny) — golden-ratio hashing keeps it library-free and stable
    across engines for tests."""
    import math

    out = []
    x = float(seed) + 0.5
    for i in range(dim):
        x = math.fmod(x * 1.618033988749895 + 0.31830988618, 1.0)
        out.append(x * 2.0 - 1.0)
    return out


def knn_join_lsh(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Approximate KNN join via random-hyperplane (sign) LSH.

    Both sides get an ``n_planes``-bit signature; candidates are pairs
    agreeing on the full signature (one equi-join, shuffle on the bucket
    key instead of a cross product). Recall < 1 by design — the scale
    path when brute force is too expensive; `knn_join` is the exact
    baseline the oracle checks.

    Pass ``dim`` (the vector dimensionality) when known — it is schema
    metadata in any real deployment; the ``.first()`` probe is only a
    convenience fallback for ad-hoc use.
    """
    if dim is None:
        dim = int(corpus.select(F.size(F.col(corpus_vec)).alias("d")).first()["d"])
    planes = [_hyperplane(dim, seed + p) for p in range(n_planes)]

    c = corpus.withColumn("bucket", hyperplane_signature(ident(corpus_vec), planes))
    q = queries.withColumn("bucket", hyperplane_signature(ident(query_vec), planes))
    cand = c.join(F.broadcast(q), "bucket").withColumn(
        "score", similarity_score(ident(corpus_vec), ident(query_vec))
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("score").desc(), F.col(corpus_id).asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "score", "rank")
    )


def quantize_embeddings(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Int8-quantize the embedding column (see functions.vector.
    quantize_int8 for the storage rationale). Output per vector:
    (id, dim, scale_e9, qnorm_sq, recon_err) where scale_e9 =
    floor(scale*1e9) and qnorm_sq = Σ q_i² are exact integers (the
    hash-proof part of the contract) and recon_err is the L2
    reconstruction error, round 6.

    Scale: one narrow projection, zero shuffle, all codegen — runs at
    parquet-scan bandwidth, which is the point: re-encoding 100 TB of
    float32 embeddings down to int8 is a single pass.
    """
    from ..functions.vector import dequantize_error, int8_max_abs, quantize_int8

    # materialize max|a_i| as its own projection column: referenced
    # inside the per-element quantize lambda, the inlined array_max
    # re-evaluates per element (O(dim²) per row — guide §1.2 per-task
    # work; see quantize_int8's max_abs note)
    scale, q = quantize_int8(F.col(vec_col), max_abs=F.col("_amax"))
    return corpus.withColumn("_amax", int8_max_abs(F.col(vec_col))).select(
        F.col(id_col).alias("vec_id"),
        F.size(F.col(vec_col)).alias("dim"),
        F.floor(scale * F.lit(1e9)).cast("bigint").alias("scale_e9"),
        F.aggregate(
            q, F.lit(0).cast("bigint"), lambda acc, x: acc + x.cast("bigint") * x
        ).alias("qnorm_sq"),
        F.round(dequantize_error(F.col(vec_col), scale, q), 6).alias("recon_err"),
    )


def ann_recall(
    approx: DataFrame,
    exact: DataFrame,
    *,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
) -> DataFrame:
    """Recall@k of an ANN result against the exact top-k: the
    self-measurement every approximate index needs before it replaces
    the brute-force path at scale.

    Output (query_id, n_exact, n_hit, recall_e4) — recall as an exact
    scaled integer. One equi-join on (query, neighbor) + one aggregate;
    both inputs are top-k frames (tiny relative to the corpus), so this
    costs nothing next to the searches it grades.
    """
    e = exact.select(
        F.col(query_id).alias("query_id"), F.col(corpus_id).alias("nbr")
    )
    a = approx.select(
        F.col(query_id).alias("query_id"),
        F.col(corpus_id).alias("nbr"),
        F.lit(1).alias("_hit"),
    )
    return (
        e.join(a, ["query_id", "nbr"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_exact"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("bigint").alias("n_hit"),
        )
        .withColumn(
            "recall_e4",
            F.floor(F.lit(10_000) * F.col("n_hit") / F.col("n_exact")).cast("bigint"),
        )
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: the partition-pruning scale path
# ---------------------------------------------------------------------------


def _kmeans_deterministic(sample, n_centroids: int, iters: int):
    """First-k-init Lloyd k-means in float64 — REPLAYABLE: given the
    same rows in the same order it is bit-reproducible, so an oracle
    builder that loads the identical vectors (e.g. via pyarrow/DuckDB,
    ordered by id) derives the identical centroids to inline as SQL
    literals (the same trick as the LSH hyperplanes). No RNG: init is
    the first ``n_centroids`` normalized sample vectors."""
    sample = np.asarray(sample, dtype=np.float64)
    norms = np.linalg.norm(sample, axis=1, keepdims=True)
    sample = sample / np.clip(norms, 1e-12, None)
    cent = sample[: min(n_centroids, len(sample))].copy()
    for _ in range(iters):
        assign = np.argmax(sample @ cent.T, axis=1)
        for c in range(len(cent)):
            members = sample[assign == c]
            if len(members):
                v = members.mean(axis=0)
                n = np.linalg.norm(v)
                if n > 0:
                    cent[c] = v / n
    return cent


def train_centroids_ordered(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    sample_rows: int = 10_000,
    iters: int = 8,
):
    """Deterministic-by-construction centroid training: the sample is
    the first ``sample_rows`` vectors ORDERED BY ``id_col`` (not
    whatever limit() surfaces), fed to :func:`_kmeans_deterministic`.
    Same bounded-sample scale posture as :func:`train_centroids`; the
    explicit order is what makes the result independently recomputable
    by the oracle side."""
    rows = (
        corpus.orderBy(id_col).limit(sample_rows).select(vec_col).collect()
    )
    return _kmeans_deterministic(
        [list(r[0]) for r in rows], n_centroids, iters
    )


def train_centroids(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    n_centroids: int = 16,
    sample_rows: int = 10_000,
    iters: int = 8,
    seed: int = 42,
):
    """K-means centroids trained on a bounded sample (standard IVF
    practice — at 100 TB you train on a few hundred thousand sampled
    vectors, never the corpus). Deterministic: seeded init, fixed
    iteration count, Lloyd updates in float64. Returns a unit-normalized
    (n_centroids, dim) numpy array; assignment by max dot product ==
    max cosine.
    """
    frac_limit = corpus.select(vec_col).limit(sample_rows)
    sample = np.array([r[0] for r in frac_limit.collect()], dtype=np.float64)
    norms = np.linalg.norm(sample, axis=1, keepdims=True)
    sample = sample / np.clip(norms, 1e-12, None)

    rng = np.random.RandomState(seed)
    idx = rng.choice(len(sample), size=min(n_centroids, len(sample)), replace=False)
    cent = sample[idx].copy()
    for _ in range(iters):
        assign = np.argmax(sample @ cent.T, axis=1)
        for c in range(len(cent)):
            members = sample[assign == c]
            if len(members):
                v = members.mean(axis=0)
                n = np.linalg.norm(v)
                if n > 0:
                    cent[c] = v / n
    return cent


def assign_clusters(
    corpus: DataFrame,
    centroids,
    *,
    vec_col: str = "embedding",
) -> DataFrame:
    """Append ``cluster_id`` = argmax cosine(centroid, vec). Arrow-batched
    numpy matmul per batch; at scale, write the output partitioned/
    bucketed BY cluster_id so probes prune file listings, not just rows."""
    from pyspark.sql.functions import pandas_udf

    cent = centroids  # captured, broadcast with the serialized udf

    @pandas_udf("int")
    def nearest(vecs: pd.Series) -> pd.Series:
        mat = np.array(list(vecs), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        mat = mat / np.clip(norms, 1e-12, None)
        return pd.Series(np.argmax(mat @ cent.T, axis=1).astype("int32"))

    return corpus.withColumn("cluster_id", nearest(F.col(vec_col)))


def knn_join_ivf(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    k: int = 10,
    n_centroids: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    centroids=None,
    assigned: DataFrame | None = None,
) -> DataFrame:
    """IVF ANN join: score each query only against the ``nprobe`` nearest
    centroids' clusters. ``assigned`` supplies a corpus that already
    carries ``cluster_id`` (a persisted/incrementally-maintained
    assignment store — streaming/vec_index.py) so the probe skips
    re-assignment; assignments are deterministic given the centroids,
    so stored and recomputed probes are identical (tested).

    Plan shape: corpus scored rows = |corpus| * nprobe / n_centroids
    instead of |corpus| — the candidate join is an equi-join on
    cluster_id with the (tiny, exploded) query->probe frame broadcast.
    With nprobe == n_centroids this degrades to the exact join (tested),
    which is the recall knob: probes trade compute for recall
    continuously. At 100 TB: persist `assign_clusters` output partitioned
    by cluster_id once, and every query batch prunes partitions.
    """
    from pyspark.sql.functions import pandas_udf

    if centroids is None:
        centroids = train_centroids(
            corpus, vec_col=corpus_vec, n_centroids=n_centroids, seed=seed
        )
    cent = centroids
    nprobe = min(nprobe, len(cent))

    c = (
        assigned
        if assigned is not None
        else assign_clusters(corpus, cent, vec_col=corpus_vec)
    )

    @pandas_udf("array<int>")
    def probes(vecs: pd.Series) -> pd.Series:
        mat = np.array(list(vecs), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        mat = mat / np.clip(norms, 1e-12, None)
        order = np.argsort(-(mat @ cent.T), axis=1)[:, :nprobe]
        return pd.Series([row.astype("int32") for row in order])

    q = queries.withColumn("cluster_id", F.explode(probes(F.col(query_vec))))
    cand = c.join(F.broadcast(q), "cluster_id").withColumn(
        "score", similarity_score(ident(corpus_vec), ident(query_vec))
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("score").desc(), F.col(corpus_id).asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, "score", "rank")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): the memory-compression scale path
# ---------------------------------------------------------------------------


def _pq_lloyd_deterministic(sample, n_subspaces: int, n_codes: int, iters: int):
    """Per-subspace L2 Lloyd with first-k init — REPLAYABLE the same way
    as :func:`_kmeans_deterministic`: no RNG, so given the same rows in
    the same order the codebooks are bit-reproducible and an oracle
    builder can re-derive them from the same parquet (ordered by id)
    and inline them as SQL literals."""
    sample = np.asarray(sample, dtype=np.float64)
    dim = sample.shape[1]
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")
    sample = sample / np.clip(
        np.linalg.norm(sample, axis=1, keepdims=True), 1e-12, None
    )
    dsub = dim // n_subspaces
    books = np.empty((n_subspaces, n_codes, dsub), dtype=np.float64)
    for j in range(n_subspaces):
        block = sample[:, j * dsub : (j + 1) * dsub]
        cent = block[: min(n_codes, len(block))].copy()
        for _ in range(iters):
            # argmin of ||x-c||^2 == argmin of ||c||^2 - 2 x.c (the
            # ||x||^2 term is constant per row): one BLAS matmul
            # instead of an (n, k, dsub) broadcast-subtract temporary.
            # 4.4x on the 10k x 64-code config; bit-identical books on
            # every gated fixture (test_pq_lloyd_blas_equivalence),
            # and the oracle imports THIS function so engine and
            # oracle move in lockstep by construction.
            d2 = (cent * cent).sum(axis=1)[None, :] - 2.0 * (block @ cent.T)
            assign = np.argmin(d2, axis=1)
            for c in range(len(cent)):
                members = block[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books[j, : len(cent)] = cent
        if len(cent) < n_codes:  # degenerate tiny sample: pad by repeat
            books[j, len(cent) :] = cent[0]
    return books


def train_pq_codebooks_ordered(
    corpus: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_subspaces: int = 8,
    n_codes: int = 16,
    sample_rows: int = 10_000,
    iters: int = 8,
):
    """Deterministic-by-construction PQ training: the sample is the
    first ``sample_rows`` vectors ORDERED BY ``id_col``, fed to
    :func:`_pq_lloyd_deterministic` — the PQ analogue of
    :func:`train_centroids_ordered`, and what lets the recall
    self-measurements be hash-gated end to end."""
    rows = (
        corpus.orderBy(id_col).limit(sample_rows).select(vec_col).collect()
    )
    return _pq_lloyd_deterministic(
        [list(r[0]) for r in rows], n_subspaces, n_codes, iters
    )


def train_pq_codebooks(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    n_subspaces: int = 8,
    n_codes: int = 16,
    sample_rows: int = 10_000,
    iters: int = 8,
    seed: int = 42,
):
    """Per-subspace L2 k-means codebooks (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search") trained on a bounded
    sample — same sanctioned driver-side collect contract as
    :func:`train_centroids`. Vectors are unit-normalized first so
    L2-ADC ranking agrees with the cosine ranking the exact path uses.

    Returns a (n_subspaces, n_codes, dim // n_subspaces) float64 array.
    With uint8-sized codes a 384-d float32 vector compresses 1536 B →
    n_subspaces bytes — the reason PQ is the 100 TB in-memory index
    format while raw vectors stay in parquet.
    """
    sample = np.array(
        [r[0] for r in corpus.select(vec_col).limit(sample_rows).collect()],
        dtype=np.float64,
    )
    dim = sample.shape[1]
    if dim % n_subspaces:
        raise ValueError(f"dim {dim} not divisible by n_subspaces {n_subspaces}")
    sample /= np.clip(np.linalg.norm(sample, axis=1, keepdims=True), 1e-12, None)
    dsub = dim // n_subspaces
    rng = np.random.RandomState(seed)
    books = np.empty((n_subspaces, n_codes, dsub), dtype=np.float64)
    for j in range(n_subspaces):
        block = sample[:, j * dsub : (j + 1) * dsub]
        idx = rng.choice(len(block), size=min(n_codes, len(block)), replace=False)
        cent = block[idx].copy()
        for _ in range(iters):
            d2 = ((block[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(len(cent)):
                members = block[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books[j, : len(cent)] = cent
        if len(cent) < n_codes:  # degenerate tiny sample: pad by repeat
            books[j, len(cent) :] = cent[0]
    return books


def pq_encode(
    corpus: DataFrame,
    codebooks,
    *,
    vec_col: str = "embedding",
) -> DataFrame:
    """Append ``pq_codes`` (array<int>, one code per subspace): nearest
    codeword per unit-normalized block. Arrow-batched; each batch is one
    (rows × n_codes) distance matrix per subspace — no per-row Python.
    At scale, persist this projection once (codes + id only) and run all
    ADC scans against it; the float vectors never leave parquet."""
    from pyspark.sql.functions import pandas_udf

    books = codebooks
    m, n_codes, dsub = books.shape

    @pandas_udf("array<int>")
    def encode(vecs: pd.Series) -> pd.Series:
        mat = np.array(list(vecs), dtype=np.float64)
        mat /= np.clip(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12, None)
        codes = np.empty((len(mat), m), dtype=np.int32)
        for j in range(m):
            block = mat[:, j * dsub : (j + 1) * dsub]
            # ||b - c||^2 = ||b||^2 - 2 b.c + ||c||^2; ||b||^2 constant per row
            d2 = -2.0 * (block @ books[j].T) + (books[j] ** 2).sum(axis=1)[None, :]
            codes[:, j] = np.argmin(d2, axis=1)
        return pd.Series(list(codes))

    return corpus.withColumn("pq_codes", encode(F.col(vec_col)))


def knn_join_pq(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    k: int = 10,
    n_subspaces: int = 8,
    n_codes: int = 16,
    seed: int = 42,
    codebooks=None,
    coded: DataFrame | None = None,
) -> DataFrame:
    """ADC (asymmetric distance computation) top-k: corpus vectors are
    PQ codes, queries stay full-precision; each query precomputes an
    (n_subspaces × n_codes) distance table and a document's approximate
    distance is the table-gather sum over its codes.

    ``coded`` supplies a PRE-ENCODED (corpus_id, pq_codes) projection —
    the persisted-index path (streaming/vec_index.py): codes encoded
    incrementally against the stored codebooks scan identically to a
    one-shot encode because the encoder is deterministic given the
    books. When provided, ``codebooks`` must be the matrix those codes
    were encoded with.

    Plan shape: the query→distance-table frame (tiny) broadcasts into a
    cross join against the code projection — the same broadcast-scan
    shape as the exact :func:`knn_join`, but each corpus row costs an
    m-element gather instead of a dim-element dot product, over a
    m-byte row instead of a 4·dim-byte one: at 100 TB that is the
    difference between scanning 100 TB and scanning ~800 GB. Ranking
    by ascending ADC distance (doc id tiebreak), row_number per query.
    """
    from pyspark.sql.functions import pandas_udf

    if coded is not None and codebooks is None:
        # pre-encoded codes are only meaningful against the books they
        # were encoded with; training fresh books here would gather ADC
        # distances from a table the codes never saw — plausible but
        # wrong top-k, so refuse instead
        raise ValueError(
            "knn_join_pq: `coded` requires the `codebooks` those codes "
            "were encoded with"
        )
    if codebooks is None:
        codebooks = train_pq_codebooks(
            corpus,
            vec_col=corpus_vec,
            n_subspaces=n_subspaces,
            n_codes=n_codes,
            seed=seed,
        )
    books = codebooks
    m, n_codes, dsub = books.shape

    if coded is None:
        coded = pq_encode(corpus, books, vec_col=corpus_vec).select(
            corpus_id, "pq_codes"
        )
    else:
        coded = coded.select(corpus_id, "pq_codes")

    @pandas_udf("array<double>")
    def dist_table(vecs: pd.Series) -> pd.Series:
        mat = np.array(list(vecs), dtype=np.float64)
        mat /= np.clip(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12, None)
        out = np.empty((len(mat), m * n_codes), dtype=np.float64)
        for j in range(m):
            block = mat[:, j * dsub : (j + 1) * dsub]
            d2 = (
                (block**2).sum(axis=1)[:, None]
                - 2.0 * (block @ books[j].T)
                + (books[j] ** 2).sum(axis=1)[None, :]
            )
            out[:, j * n_codes : (j + 1) * n_codes] = d2
        return pd.Series(list(out))

    q = queries.select(
        query_id, dist_table(F.col(query_vec)).alias("_dtab")
    )

    @pandas_udf("double")
    def adc(codes: pd.Series, dtabs: pd.Series) -> pd.Series:
        cmat = np.array(list(codes), dtype=np.int64)
        dmat = np.array(list(dtabs), dtype=np.float64)
        offs = np.arange(m, dtype=np.int64) * n_codes
        return pd.Series(
            np.take_along_axis(dmat, cmat + offs[None, :], axis=1).sum(axis=1)
        )

    # rank quantization (r9): adc_dist is rounded to 12 digits BEFORE
    # the ranking — exact-duplicate corpus vectors (the sf1 replica
    # harness) produce bit-identical gather sums within ONE engine, but
    # the oracle's SQL SUM accumulates the m terms in arbitrary
    # aggregate order, so cross-engine the tied pack differs at 1 ulp
    # and the top-k cut lands on different replicas. 12 digits is ~1e3x
    # above the ulp noise and ~1e9 below any real ADC gap; ties then
    # fall to the deterministic id tie-break on both engines (the BM25
    # rank_digits idiom).
    cand = coded.crossJoin(F.broadcast(q)).withColumn(
        "adc_dist", F.round(adc(F.col("pq_codes"), F.col("_dtab")), 12)
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("adc_dist").asc(), F.col(corpus_id).asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, F.round("adc_dist", 6).alias("adc_dist"), "rank")
    )


def knn_join_pq_refined(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    k: int = 10,
    refine_factor: int = 10,
    n_subspaces: int = 8,
    n_codes: int = 16,
    seed: int = 42,
    codebooks=None,
) -> DataFrame:
    """Two-stage retrieval — the production ANN shape: the PQ/ADC scan
    nominates ``k * refine_factor`` candidates per query from the
    compressed codes, then ONLY those rows fetch their full vectors for
    exact cosine re-ranking. Recall approaches exact as refine_factor
    grows (with candidates >= |corpus| it IS the exact join — tested),
    while the full-precision reads stay k*refine per query instead of
    |corpus|: at 100 TB the raw vectors are touched for ~0.01% of rows.

    Plan shape: stage 1 is :func:`knn_join_pq` (broadcast distance
    tables over the code projection); stage 2 is an equi-join of the
    (tiny) candidate list back to the corpus on ``corpus_id`` —
    broadcast-able — plus the same JVM cosine + row_number as
    :func:`knn_join`.
    """
    cand = knn_join_pq(
        queries,
        corpus,
        query_id=query_id,
        query_vec=query_vec,
        corpus_id=corpus_id,
        corpus_vec=corpus_vec,
        k=k * refine_factor,
        n_subspaces=n_subspaces,
        n_codes=n_codes,
        seed=seed,
        codebooks=codebooks,
    ).select(query_id, corpus_id)
    exact_rows = cand.join(
        corpus.select(corpus_id, corpus_vec), corpus_id
    ).join(
        F.broadcast(queries.select(query_id, query_vec)), query_id
    ).withColumn("score", similarity_score(ident(corpus_vec), ident(query_vec)))
    w = Window.partitionBy(query_id).orderBy(
        F.col("score").desc(), F.col(corpus_id).asc()
    )
    return (
        exact_rows.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, F.round("score", 6).alias("score"), "rank")
    )


def mmr_rerank(
    corpus: DataFrame,
    query_vec: list[float],
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 10,
    n_candidates: int = 40,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal-marginal-relevance diversified top-k: greedily pick the
    candidate maximizing ``lam*relevance - (1-lam)*max_sim_to_selected``
    (Carbonell & Goldstein 1998), the standard de-redundancy re-rank for
    retrieval results the reference's plain KNN surface lacks.

    Spark-first shape: relevance scoring + candidate cut is the exact
    :func:`knn_topk` (distributed TakeOrderedAndProject over the full
    corpus); the greedy selection is inherently sequential but runs over
    only ``n_candidates`` rows, so it executes as ONE ``applyInPandas``
    group on an executor — the corpus is never collected and the O(k*n)
    pairwise loop touches a constant-sized frame. At 100 TB the scan
    dominates and stays fully parallel; the rerank cost is independent of
    corpus size.

    Determinism contract (mirrored by the unrolled-CTE oracle in
    oracle.py): relevance and pairwise similarity are rounded to 6
    decimals before the objective, the objective is rounded to 6
    decimals, and ties break on the smaller id.
    """
    cands = knn_topk(
        corpus, query_vec, vec_col=vec_col, id_col=id_col, k=n_candidates,
        payload_cols=[vec_col],
    ).withColumn("score", F.round("score", 6))

    lam_f = float(lam)
    k_f = int(k)

    def _rnd6(x: np.ndarray) -> np.ndarray:
        # half-away-from-zero to match Spark's F.round / DuckDB round()
        return np.sign(x) * np.floor(np.abs(x) * 1e6 + 0.5) / 1e6

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        ids = pdf[id_col].to_numpy()
        rel = pdf["score"].to_numpy(dtype=np.float64)
        V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        norms = np.sqrt((V * V).sum(axis=1))
        norms[norms == 0.0] = 1.0
        cos = (V @ V.T) / np.outer(norms, norms)
        sims = _rnd6((1.0 + cos) / 2.0)  # same (1+cos)/2 map as relevance
        avail = np.ones(n, dtype=bool)
        maxsim = np.zeros(n, dtype=np.float64)
        out = []
        for step in range(min(k_f, n)):
            obj = _rnd6(lam_f * rel - (1.0 - lam_f) * maxsim)
            obj[~avail] = -np.inf
            tied = np.flatnonzero(obj == obj.max())
            pick = int(tied[np.argmin(ids[tied])])
            out.append((step + 1, int(ids[pick]), float(rel[pick]), float(obj[pick])))
            avail[pick] = False
            maxsim = np.maximum(maxsim, sims[:, pick])
        return pd.DataFrame(out, columns=["rank", id_col, "score", "mmr_obj"])

    schema = f"rank int, {id_col} long, score double, mmr_obj double"
    return (
        cands.groupBy(F.lit(1).alias("_g"))
        .applyInPandas(greedy, schema)
        .orderBy("rank")
    )


def knn_topk_int8(
    corpus: DataFrame,
    query_vec: list[float],
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 15,
) -> DataFrame:
    """Exact top-k cosine search over the int8-QUANTIZED corpus — the
    production storage layout (quantize_int8: 4 bytes -> 1 byte per
    dimension) queried directly: vectors dequantize on the fly
    (q_i * scale, a codegen projection) and score like :func:`knn_topk`.

    Because the quantizer is engine-exact by construction
    (functions/vector.py: floor(x/scale + 0.5) — bit-identical in Spark
    and DuckDB), the whole quantize→dequantize→score→top-k chain is
    ORACLE-gated, unlike LSH/IVF/PQ whose randomized structures admit
    only recall self-measurement. This pins quantized-search quality
    exactly: any Spark-side change to the quantizer or scorer breaks
    the hash.
    """
    from ..functions.vector import int8_max_abs, quantize_int8

    # max|a_i| hoisted to a projection column — inlined it re-evaluates
    # per element inside both quantize lambdas (O(dim²) per row; the
    # r09 before-plan showed two array_max(transform(...)) per element)
    scale, qv = quantize_int8(F.col(vec_col), max_abs=F.col("_amax"))
    deq = F.transform(qv, lambda qi: qi.cast("double") * scale)
    return (
        corpus.withColumn("_amax", int8_max_abs(F.col(vec_col)))
        .withColumn("_deq", deq)
        .select(
            id_col,
            similarity_score("_deq", double_array(query_vec)).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


# ---------------------------------------------------------------------------
# Binary (1-bit) quantization: sign codes + Hamming search + exact rerank
# ---------------------------------------------------------------------------


def binarize_embeddings(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    keep_vec: bool = False,
) -> DataFrame:
    """Sign-bit codes for a 64-d embedding column: (id, bits_lo, bits_hi),
    bit j of half h set iff ``vec[32*h + j] > 0``.

    This is the most aggressive storage tier below int8
    (:func:`quantize_embeddings`): 256 B of float32 → 8 B of plain
    integers per vector (32×), and candidate generation degrades from
    64 fused multiply-adds to XOR+popcount. At 100 TB the binary codes
    for the full corpus fit where the floats never could — scan the
    codes everywhere, touch float vectors only for the rerank tail
    (:func:`knn_topk_binary_rerank`).

    The code construction is engine-exact (functions/vector.py:
    binary_code_half), so unlike LSH/IVF/PQ the binary search path is
    fully ORACLE-gated, not just recall-measured.
    """
    from ..functions.vector import binary_code_half

    cols = [
        F.col(id_col),
        binary_code_half(F.col(vec_col), 0).alias("bits_lo"),
        binary_code_half(F.col(vec_col), 32).alias("bits_hi"),
    ]
    if keep_vec:
        cols.append(F.col(vec_col))
    return corpus.select(*cols)


def _query_code(query_vec: list[float]) -> tuple[int, int]:
    if len(query_vec) != 64:
        # the half-word packing is fixed at 2×32 dims; a silent
        # partial pack would Hamming-compare garbage
        raise ValueError(
            f"binary codes require 64-d vectors, got {len(query_vec)}"
        )
    lo = sum(1 << j for j in range(32) if query_vec[j] > 0)
    hi = sum(1 << j for j in range(32) if query_vec[32 + j] > 0)
    return lo, hi


def knn_topk_binary(
    corpus: DataFrame,
    query_vec: list[float],
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 15,
) -> DataFrame:
    """Top-k by Hamming distance over the sign-bit codes — the pure
    binary tier: (id, hamming), ascending distance, id tie-break.

    The plan is a narrow integer projection + TakeOrderedAndProject;
    nothing wider than 24 bytes/row leaves the scan. Ties are dense
    (64 distinct distances at best), so the deterministic id tie-break
    is what makes the result — and the oracle hash — stable.
    """
    qlo, qhi = _query_code(query_vec)
    from ..functions.vector import hamming_distance_halves

    codes = binarize_embeddings(corpus, vec_col=vec_col, id_col=id_col)
    return (
        codes.select(
            id_col,
            hamming_distance_halves(
                F.col("bits_lo"),
                F.col("bits_hi"),
                F.lit(qlo).cast("long"),
                F.lit(qhi).cast("long"),
            ).alias("hamming"),
        )
        .orderBy(F.col("hamming").asc(), F.col(id_col).asc())
        .limit(k)
    )


def knn_topk_binary_rerank(
    corpus: DataFrame,
    query_vec: list[float],
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    k: int = 15,
    n_candidates: int = 64,
) -> DataFrame:
    """Two-stage search: Hamming over the binary codes picks
    ``n_candidates`` (deterministic (distance, id) order), exact cosine
    reranks just those — the production shape for binary indexes, same
    refine pattern as PQ two-stage but with an engine-exact first stage,
    so the END-TO-END output is oracle-gated.

    With n_candidates == |corpus| this IS :func:`knn_topk` (unit-tested
    equivalence); at scale n_candidates/|corpus| is the fraction of
    float vectors ever read.
    """
    qlo, qhi = _query_code(query_vec)
    from ..functions.vector import hamming_distance_halves

    codes = binarize_embeddings(
        corpus, vec_col=vec_col, id_col=id_col, keep_vec=True
    )
    cands = (
        codes.withColumn(
            "_ham",
            hamming_distance_halves(
                F.col("bits_lo"),
                F.col("bits_hi"),
                F.lit(qlo).cast("long"),
                F.lit(qhi).cast("long"),
            ),
        )
        .orderBy(F.col("_ham").asc(), F.col(id_col).asc())
        .limit(n_candidates)
    )
    return (
        cands.select(
            id_col,
            similarity_score(ident(vec_col), double_array(query_vec)).alias("score"),
        )
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(k)
    )


def knn_join_binary(
    queries: DataFrame,
    corpus: DataFrame,
    *,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """Batched Hamming top-k over the sign-bit codes: every query row
    answered in one job — (query_id, vec_id, hamming), k rows per
    query, (distance, id) deterministic order.

    Physical shape: both sides reduce to 2×32-bit integer codes; the
    tiny query-code frame BROADCASTS against the corpus-code scan and
    each candidate pair costs three integer ops, so the batched join is
    exactly the full-corpus binary scan you'd run at 100 TB — the float
    vectors never leave storage (compose with
    :func:`knn_topk_binary_rerank`'s exact stage per query for the
    refined variant).
    """
    from ..functions.vector import hamming_distance_halves

    ccodes = binarize_embeddings(corpus, vec_col=vec_col, id_col=id_col)
    qcodes = binarize_embeddings(
        queries, vec_col=query_vec, id_col=query_id
    ).select(
        query_id,
        F.col("bits_lo").alias("q_lo"),
        F.col("bits_hi").alias("q_hi"),
    )
    paired = ccodes.crossJoin(F.broadcast(qcodes)).select(
        query_id,
        id_col,
        hamming_distance_halves(
            F.col("bits_lo"), F.col("bits_hi"), F.col("q_lo"), F.col("q_hi")
        ).alias("hamming"),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("hamming").asc(), F.col(id_col).asc()
    )
    return (
        paired.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )
