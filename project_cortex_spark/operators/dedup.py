"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's surface (BASELINE.json north star): exact dedup,
MinHash+LSH near-dup, n-gram Jaccard, SimHash, and embedding-cosine
near-dup — the standard modalities for 100 TB corpus cleaning.

Scale design:
  * Exact: one hash-groupBy — map-side partial agg, single shuffle.
  * MinHash: signatures are K min-aggregations over exploded shingles
    (one shuffle keyed on doc_id); LSH banding turns the O(n^2) pair
    space into an equi-join on band keys, so only same-bucket docs meet.
    Verification (true Jaccard) runs only on surviving candidates.
  * SimHash: one fingerprint per doc (bit-wise weighted sums in a single
    groupBy); candidate pairing can reuse LSH-style banding on fingerprint
    chunks — the all-pairs form here is the exact baseline.
  * Embedding: exact self-join baseline; `knn.knn_join_lsh` is the
    sub-quadratic scale path.

Determinism contract: every hash is md5 over explicit strings, so the
DuckDB oracle (oracle.py builders) reproduces results bit-for-bit.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import shingles, tokens
from ..functions.vector import similarity_score
from .graph import _iterate

# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def content_hash(text: Column, *, normalize: bool = True) -> Column:
    """md5 of (optionally whitespace/case-normalized) content."""
    if normalize:
        text = F.concat_ws(" ", tokens(text))
    return F.md5(text)


def exact_duplicate_groups(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text",
    normalize: bool = True,
) -> DataFrame:
    """(doc_id, content_hash, group_size, keep) for docs whose hash
    collides; keep = doc is the canonical (minimum-id) member."""
    h = docs.select(
        F.col(id_col).alias("doc_id"),
        content_hash(F.col(text_col), normalize=normalize).alias("chash"),
    )
    groups = h.groupBy("chash").agg(
        F.count(F.lit(1)).alias("group_size"), F.min("doc_id").alias("canonical")
    )
    return (
        h.join(groups, "chash")
        .filter(F.col("group_size") > 1)
        .select(
            "doc_id",
            "chash",
            "group_size",
            (F.col("doc_id") == F.col("canonical")).alias("keep"),
        )
    )


def dedup_exact(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text",
    normalize: bool = True,
) -> DataFrame:
    """Corpus with one (minimum-id) row kept per distinct content hash."""
    h = docs.withColumn("_chash", content_hash(F.col(text_col), normalize=normalize))
    keep = h.groupBy("_chash").agg(F.min(id_col).alias(id_col))
    return h.join(keep, [ "_chash", id_col]).drop("_chash")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Repartition up to the session's parallelism when the input arrives
    under-split (one small file = one task) — a no-op at real scale,
    where the scan itself is well-partitioned. Streaming frames pass
    through untouched (no .rdd on a streaming plan; micro-batch
    parallelism is the source's concern)."""
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def shingle_frame(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """(doc_id, sh) exploded shingle set — the shared input for MinHash
    signatures AND Jaccard verification. Compute once, persist, reuse:
    at corpus scale the explode is the dominant cost of the pipeline.

    Under-partitioned inputs (one small parquet file = one task) are
    repartitioned up to the session's parallelism first, so the CPU-bound
    tokenize+shingle projection uses every core; at real scale the scan
    arrives well-split and this is a no-op.
    """
    docs = ensure_parallelism(docs)
    sh = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles(F.col(text_col), shingle_n)).alias("sh"),
    )
    return sh.distinct() if distinct else sh


def _shingles(docs: DataFrame, shingles_df: DataFrame | None, **kw) -> DataFrame:
    """The caller's precomputed ``shingles_df``, else ``shingle_frame(docs, **kw)``."""
    return shingles_df if shingles_df is not None else shingle_frame(docs, **kw)


def minhash_signatures(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    shingle_n: int = 3,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, h0..h{K-1}): K independent min-hashes of the shingle set.

    Hash family: md5("{i}:" + shingle) compared as hex strings — engine-
    portable and deterministic. K min-aggs compute in ONE groupBy (one
    shuffle; partial mins map-side). Min over the multiset equals min
    over the set, so a distinct ``shingles_df`` can be shared with the
    Jaccard stage.
    """
    sh = _shingles(
        docs, shingles_df, id_col=id_col, text_col=text_col, shingle_n=shingle_n,
        distinct=False,
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("sh")))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def lsh_candidate_pairs(
    sigs: DataFrame,
    *,
    num_hashes: int = 8,
    bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """(a, b) doc pairs agreeing on at least one LSH band (a < b).

    Bands of r = K/bands consecutive signature components; each band is
    an equi-join key. Probability of candidacy ≈ 1-(1-j^r)^bands.

    ``max_bucket`` is the hot-bucket guard (the embedding-LSH fix,
    :func:`embedding_near_duplicates_lsh`, ported here per VERDICT r6):
    the band self-join is quadratic WITHIN a bucket, so one boilerplate
    band key shared by 1M docs contributes 10^12 candidate pairs from a
    single shuffle key. Buckets with more than ``max_bucket`` members
    leave BOTH join sides before any pair is generated. Occupancy is a
    WINDOW count over (band, bkey) — the same key the self-join
    shuffles on, so the guard rides the join's own exchange (one
    shuffle total, ReuseExchange dedupes the two sides); the first cut
    (aggregate keep-list + join) added two plan arms per consumer and
    measured +1.5 s at sf0.1 on pure plan overhead. Honest recall
    tradeoff: a pair meeting ONLY in dropped buckets is missed; with
    multiple bands a true near-dup pair usually still meets in another
    band's bucket. The DuckDB oracle replays the identical cap.
    """
    r = num_hashes // bands
    assert r * bands == num_hashes, "bands must divide num_hashes"
    # ONE posexplode over the array of band keys instead of a
    # `bands`-way union of per-band projections (r10): identical rows —
    # pos IS the band index and each array element is that band's
    # concatenated key — but the plan carries the signature subtree
    # once instead of `bands` times. The union form re-analyzed the
    # whole sigs subtree per band per consumer; with eager per-round
    # checkpoints in the downstream CC/prune fixpoints that analysis
    # cost was paid again every round (measured: dedup_minhash_lsh
    # spends 0.65 s of its 1.4 s in plan construction alone).
    keys = F.array(
        *[
            F.concat(*[F.col(f"h{b * r + i}") for i in range(r)])
            for b in range(bands)
        ]
    )
    banded = sigs.select(
        "doc_id", F.posexplode(keys).alias("band", "bkey")
    )
    if max_bucket is not None:
        occ = Window.partitionBy("band", "bkey")
        banded = (
            banded.withColumn("_n", F.count(F.lit(1)).over(occ))
            .filter(F.col("_n") <= max_bucket)
            .drop("_n")
        )
    left = banded.alias("x")
    right = banded.alias("y")
    return (
        left.join(
            right,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bkey") == F.col("y.bkey"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .distinct()
    )


def jaccard_for_pairs(
    pairs: DataFrame,
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """(a, b, jaccard): exact shingle-set Jaccard for given pairs.

    Set sizes and intersections via two joins keyed on doc id + one on
    the shingle value — no per-pair recompute of shingle sets.
    """
    sh = _shingles(
        docs, shingles_df, id_col=id_col, text_col=text_col, shingle_n=shingle_n
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a_sh = sh.select(F.col("doc_id").alias("a"), F.col("sh"))
    b_sh = sh.select(F.col("doc_id").alias("b"), F.col("sh"))
    common = (
        pairs.join(a_sh, "a")
        .join(b_sh, ["b", "sh"])
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common.join(sizes.select(F.col("doc_id").alias("a"), F.col("n").alias("na")), "a")
        .join(sizes.select(F.col("doc_id").alias("b"), F.col("n").alias("nb")), "b")
        .select(
            "a",
            "b",
            (
                F.col("common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("common"))
            ).alias("jaccard"),
        )
    )


def minhash_near_duplicates(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_bucket: int | None = None,
) -> DataFrame:
    """Full pipeline: signatures -> LSH candidates -> exact-Jaccard verify
    -> (a, b, jaccard) pairs above threshold.

    The distinct shingle frame is computed ONCE, as a lazy local
    checkpoint — it feeds both the signature aggregation and the
    verification joins (the explode dominates the pipeline cost). The
    first job that reads it stores it, and its blocks go with the
    returned frame, so the call leaves nothing persisted behind.
    ``max_bucket`` caps band-bucket occupancy before the pair fan-out
    (see :func:`lsh_candidate_pairs`) — the guard that keeps
    boilerplate-heavy corpora from going quadratic on one band key.
    """
    sh = shingle_frame(
        docs, id_col=id_col, text_col=text_col, shingle_n=shingle_n
    ).localCheckpoint(eager=False)
    # checkpoint the (tiny: one row per doc) signature frame too — the
    # banded self-join references it on both sides and would otherwise
    # run the min-hash aggregation twice
    sigs = minhash_signatures(
        docs, num_hashes=num_hashes, shingles_df=sh
    ).localCheckpoint(eager=False)
    cand = lsh_candidate_pairs(
        sigs, num_hashes=num_hashes, bands=bands, max_bucket=max_bucket
    )
    j = jaccard_for_pairs(cand, docs, shingles_df=sh)
    return j.filter(F.col("jaccard") >= threshold)


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (no LSH: candidates = pairs sharing any shingle)
# ---------------------------------------------------------------------------


def _capped_shingles(
    docs: DataFrame,
    *,
    id_col: str,
    text_col: str,
    shingle_n: int,
    max_df: int | None,
    max_df_frac: float | None,
    shingles_df: DataFrame | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """The shared front half of every exact pair join: resolve the
    fractional df cap (effective cap = max(max_df, floor(frac *
    n_docs)), the convention every oracle replays), apply the keep
    filter to the (doc_id, sh) frame, and cache the capped universe.
    ``shingles_df`` short-circuits the dominant explode when the caller
    already holds it."""
    if max_df_frac is not None:
        if n_docs is None:
            n_docs = docs.count()
        max_df = max(max_df or 0, int(max_df_frac * n_docs))
    sh = _shingles(
        docs, shingles_df, id_col=id_col, text_col=text_col, shingle_n=shingle_n
    )
    if max_df is not None:
        keep = (
            sh.groupBy("sh")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_df)
            .select("sh")
        )
        sh = sh.join(keep, "sh")
    return sh.cache()


def _cooccurrence_counts(sh: DataFrame) -> DataFrame:
    """The shared back half: (x, y, common, nx, ny) for every unordered
    pair x < y sharing >= 1 shingle in the (already capped, cached)
    universe — one co-occurrence aggregate on the shingle key plus two
    size joins. Jaccard, containment, and the dispatcher all project
    their measure off this one frame, so a fix to the cap convention or
    the join shape lands everywhere at once."""
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = sh.select(F.col("doc_id").alias("x"), "sh")
    b = sh.select(F.col("doc_id").alias("y"), "sh")
    return (
        a.join(b, "sh")
        .filter(F.col("x") < F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("common"))
        .join(
            sizes.select(F.col("doc_id").alias("x"), F.col("n").alias("nx")),
            "x",
        )
        .join(
            sizes.select(F.col("doc_id").alias("y"), F.col("n").alias("ny")),
            "y",
        )
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
    max_df_frac: float | None = None,
    shingles_df: DataFrame | None = None,
    n_docs: int | None = None,
) -> DataFrame:
    """(a, b, jaccard >= threshold) exact over all pairs sharing >=1
    shingle. The shared-shingle join prunes the quadratic pair space to
    co-occurring docs only.

    ``max_df`` is the document-frequency cut that makes this survive
    skew at corpus scale: a stop-shingle shared by 1M docs is a
    quadratic hot key in the co-occurrence join (10^12 pairs from ONE
    key). Shingles appearing in more than ``max_df`` docs are dropped
    from the universe — candidates, intersections, AND set sizes — so
    the jaccard stays a true set similarity over the capped vocabulary.
    The DuckDB oracle applies the identical cut.

    An ABSOLUTE cap silently saturates as the corpus grows (the sf1
    winnowing finding: 10x replication lifted every shared shingle over
    the fixed cap and the pair set collapsed). ``max_df_frac`` scales
    it: effective cap = max(max_df or 0, floor(frac * n_docs)) — one
    bounded count() aggregate, replayed identically in the oracle.

    ``shingles_df``/``n_docs`` let a caller (the auto dispatcher) hand
    in the already-exploded shingle frame and corpus count so the
    dominant explode is computed once, not per arm."""
    sh = _capped_shingles(
        docs,
        id_col=id_col,
        text_col=text_col,
        shingle_n=shingle_n,
        max_df=max_df,
        max_df_frac=max_df_frac,
        shingles_df=shingles_df,
        n_docs=n_docs,
    )
    common = _cooccurrence_counts(sh)
    return (
        common.select(
            F.col("x").alias("a"),
            F.col("y").alias("b"),
            (
                F.col("common").cast("double")
                / (F.col("nx") + F.col("ny") - F.col("common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def duplicated_ngram_stats(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 8,
) -> DataFrame:
    """Per-document duplicated-span signal at word-n-gram granularity:
    for each doc, how many of its distinct ``shingle_n``-grams also
    appear in at least one OTHER document, and the fraction. The
    exact-substring-dedup diagnostic (Lee et al. 2021, "Deduplicating
    Training Data Makes Language Models Better") re-expressed over word
    n-grams — docs with a high fraction are boilerplate/template copies
    that document-level MinHash can miss when the rest of the text
    differs.

    Docs shorter than ``shingle_n`` tokens emit no n-grams and are
    absent from the output (same contract as the MinHash family).

    Scale notes: the shingle explode (dominant cost, cached) feeds a
    document-frequency aggregate and joins straight back on the SAME
    key — the df side arrives pre-partitioned on ``sh``, so the join
    adds no new exchange for it; fan-out is exactly 1:1 (each (doc, sh)
    row meets one df row — a hot boilerplate n-gram inflates its df
    COUNT, never the join output). The final per-doc aggregate is the
    only other shuffle.
    """
    sh = shingle_frame(
        docs, id_col=id_col, text_col=text_col, shingle_n=shingle_n
    ).cache()
    dfc = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("_df"))
    return (
        sh.join(dfc, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_ngrams"),
            F.count(F.when(F.col("_df") >= 2, 1)).alias("n_dup_ngrams"),
        )
        .select(
            "doc_id",
            "n_ngrams",
            "n_dup_ngrams",
            F.round(
                F.col("n_dup_ngrams").cast("double") / F.col("n_ngrams"), 6
            ).alias("dup_fraction"),
        )
    )


def duplicated_char_spans(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 32,
    stride: int = 1,
) -> DataFrame:
    """Char-level exact-substring duplication coverage — the actual
    Lee et al. 2021 signal: for every position, hash the k-char window;
    a position whose window also occurs in ANOTHER document is
    duplicated, and the union of duplicated windows (computed exactly
    via the sorted-position lag-gap formula: each duplicated position
    contributes min(k, gap-to-previous) covered characters) gives the
    fraction of each document's characters lying inside some
    cross-document duplicated span. Word-n-gram :func:`duplicated_ngram_stats`
    is the cheap screen; this is the precise form.

    ``stride`` samples every s-th position for DETECTION (coverage then
    undercounts at most (s-1)/s of span edges) — the honest scale knob:
    at s=1 the position explode is one row per character, which is the
    true cost of exact-substring dedup (the reference algorithm pays it
    in suffix-array form); a 100 TB run uses s≈k/2 for a screen, s=1
    only on the candidate set it returns.

    Scale notes: the explode is the dominant cost and is embarrassingly
    parallel; the df aggregate and the join back land on the same hash
    key (1:1 fan-out per position row — a hot boilerplate window
    inflates its df COUNT, never the join output); the coverage window
    partitions by doc. Docs shorter than k emit nothing and are absent
    from the output (same contract as the n-gram form).
    """
    docs = ensure_parallelism(docs)
    L = F.length(F.col(text_col))
    positions = F.when(
        L >= k, F.sequence(F.lit(1), L - k + 1, F.lit(stride))
    ).otherwise(F.array().cast("array<int>"))
    # the text rides through the explode so each position's window is
    # substring'd in place (a join-back would re-shuffle per position)
    grams = docs.select(
        F.col(id_col).alias("doc_id"),
        L.alias("_len"),
        F.col(text_col).alias("_t"),
        F.explode(positions).alias("p"),
    ).select(
        "doc_id",
        "_len",
        "p",
        F.md5(F.expr(f"substring(_t, p, {k})")).alias("g"),
    )
    dupg = (
        grams.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("_df"))
        .filter(F.col("_df") >= 2)
        .select("g")
    )
    dup_pos = grams.join(dupg, "g").select("doc_id", "_len", "p")
    w = Window.partitionBy("doc_id").orderBy("p")
    covered = F.least(
        F.lit(k), F.col("p") - F.coalesce(F.lag("p").over(w), F.col("p") - k)
    )
    return (
        dup_pos.withColumn("_cov", covered)
        .groupBy("doc_id")
        .agg(
            F.max("_len").alias("n_chars"),
            F.count(F.lit(1)).alias("n_dup_positions"),
            F.sum("_cov").cast("bigint").alias("covered_chars"),
        )
        .select(
            "doc_id",
            "n_chars",
            "n_dup_positions",
            "covered_chars",
            F.round(
                F.col("covered_chars").cast("double") / F.col("n_chars"), 6
            ).alias("dup_char_fraction"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_fingerprints(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
) -> DataFrame:
    """(doc_id, fp): tf-weighted SimHash over tokens.

    Bit j of a token's hash comes from hex digit j//4 of md5(token)
    (value via strpos on the hex alphabet — portable to the SQL oracle),
    sub-bit j%4. Fingerprint bit j = sign of Σ tf * (2*bit - 1).
    One groupBy with `bits` sum-aggregations — single shuffle.
    """
    # (no ensure_parallelism here: the plain token explode is cheap
    # enough that an extra repartition pass costs more than it saves)
    assert bits % 4 == 0 and bits <= 32
    tf = (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.explode(tokens(F.col(text_col))).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    h = F.md5(F.col("term"))
    sums = []
    for j in range(bits):
        c, s = j // 4 + 1, j % 4
        v = F.instr(F.lit("0123456789abcdef"), F.substring(h, c, 1)) - 1
        bit = F.shiftright(v, s).bitwiseAND(F.lit(1))
        sums.append(F.sum(F.col("tf") * (bit * 2 - 1)).alias(f"s{j}"))
    per_doc = tf.groupBy("doc_id").agg(*sums)
    fp = None
    for j in range(bits):
        term = F.when(F.col(f"s{j}") > 0, F.lit(1 << j)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return per_doc.select("doc_id", fp.cast("bigint").alias("fp"))


def simhash_near_duplicates(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
    max_hamming: int = 2,
) -> DataFrame:
    """(a, b, hamming <= max_hamming): all-pairs XOR-popcount over
    fingerprints. EXACT BASELINE ONLY — the pairing is a broadcast
    nested-loop O(n^2); :func:`simhash_near_duplicates_banded` computes
    the identical result with an equi-join and is the production path."""
    fps = simhash_fingerprints(docs, id_col=id_col, text_col=text_col, bits=bits)
    a = fps.select(F.col("doc_id").alias("a"), F.col("fp").alias("fa"))
    b = fps.select(F.col("doc_id").alias("b"), F.col("fp").alias("fb"))
    return (
        a.join(b, F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_band_pairs(
    fps: DataFrame,
    *,
    bits: int = 16,
    max_hamming: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """(a, b, fa, fb) candidate pairs via fingerprint banding.

    Pigeonhole guarantee: split the ``bits``-bit fingerprint into
    ``max_hamming + 1`` disjoint bands — any pair within hamming
    distance ``max_hamming`` has fewer differing bits than bands, so it
    agrees EXACTLY on at least one band. Candidates meet in an equi-join
    on (band, band_value): shuffle keyed on band values instead of the
    all-pairs nested loop, with zero recall loss (this is exact, unlike
    probabilistic LSH).

    ``max_bucket`` (optional) trades that exactness for boundedness:
    (band, bval) buckets above the cap are dropped from both join sides
    before pair generation — same hot-bucket guard as
    :func:`lsh_candidate_pairs`. With the cap, a pair agreeing ONLY on
    dropped bands is missed, so the pigeonhole guarantee narrows to
    pairs meeting in at least one surviving band; boilerplate corpora
    (one band value shared by 1M docs = 10^12 pairs from one shuffle
    key) need it at scale.
    """
    nb = max_hamming + 1
    assert nb <= bits
    widths = [bits // nb + (1 if i < bits % nb else 0) for i in range(nb)]
    parts = []
    off = 0
    for i, wdt in enumerate(widths):
        val = F.shiftright(F.col("fp"), off).bitwiseAND(F.lit((1 << wdt) - 1))
        parts.append(
            fps.select(
                "doc_id", "fp", F.lit(i).alias("band"), val.alias("bval")
            )
        )
        off += wdt
    banded = parts[0]
    for p in parts[1:]:
        banded = banded.unionByName(p)
    if max_bucket is not None:
        # window count on the self-join's own shuffle key — see
        # lsh_candidate_pairs: the aggregate+join form of this guard
        # tripled the plan and cost +1.5 s at sf0.1 in pure overhead
        occ = Window.partitionBy("band", "bval")
        banded = (
            banded.withColumn("_n", F.count(F.lit(1)).over(occ))
            .filter(F.col("_n") <= max_bucket)
            .drop("_n")
        )
    x, y = banded.alias("x"), banded.alias("y")
    return (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.bval") == F.col("y.bval"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("a"),
            F.col("y.doc_id").alias("b"),
            F.col("x.fp").alias("fa"),
            F.col("y.fp").alias("fb"),
        )
        .distinct()
    )


def simhash_near_duplicates_banded(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
    max_hamming: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """Scale path for SimHash near-dup: identical output to
    :func:`simhash_near_duplicates` (same oracle gates both), but the
    pair space is pruned by exact banding instead of an O(n^2) join.
    ``max_bucket`` enables the hot-bucket guard (see
    :func:`simhash_band_pairs`); leave None for the exact contract."""
    fps = simhash_fingerprints(
        docs, id_col=id_col, text_col=text_col, bits=bits
    ).cache()  # one row per doc; referenced max_hamming+1 times
    cand = simhash_band_pairs(
        fps, bits=bits, max_hamming=max_hamming, max_bucket=max_bucket
    )
    return cand.select(
        "a",
        "b",
        F.bit_count(F.col("fa").bitwiseXOR(F.col("fb"))).alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# embedding-cosine near-dup
# ---------------------------------------------------------------------------


def embedding_near_duplicates(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """(a, b, score >= threshold) by the reference's similarity score
    (1 - cosine_dist/2). Exact self-join baseline; use knn.knn_join_lsh
    for the sub-quadratic path at corpus scale."""
    a = emb.select(F.col(id_col).alias("a"), F.col(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("b"), F.col(vec_col).alias("vb"))
    return (
        a.join(b, F.col("a") < F.col("b"))
        .select("a", "b", similarity_score("va", "vb").alias("score"))
        .filter(F.col("score") >= threshold)
    )


def embedding_near_duplicates_lsh(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int | str = 6,
    n_tables: int = 6,
    seed: int = 42,
    max_bucket: int | None = None,
    target_bucket: int = 32,
) -> DataFrame:
    """Sub-quadratic embedding near-dup: multi-table sign-LSH candidates,
    exact cosine verify. The production path at corpus scale — the
    all-pairs :func:`embedding_near_duplicates` is the exact oracle twin.

    ``n_tables`` independent ``n_planes``-bit signatures; a pair is a
    candidate if it collides in ANY table (pairs meet in an equi-join on
    (table, signature) — shuffle keyed on bucket values, never a cross
    product). Every candidate is then exactly verified, so precision is
    1.0; recall ≈ 1-(1-(1-θ/π)^p)^T — at a true near-dup threshold
    (score 0.95 ⇒ cos 0.9 ⇒ per-bit agreement ~0.86) the 6×6 default
    gives ~95% recall. Σ bucket² candidate volume is the scale hazard
    (a FIXED plane count makes candidates grow quadratically in corpus
    size — measured 56x wall-time for 10x rows on the sf1 spot-check,
    SCALE.md r5): two levers bound it.

    * ``n_planes="auto"``: planes = max(6, ceil(log2(n / target_bucket)))
      — each extra plane halves expected bucket population, so average
      occupancy stays ~``target_bucket`` regardless of corpus size.
      Costs one count() job; the gated query pins an explicit count so
      its oracle can inline the hyperplanes as literals.
    * ``max_bucket``: drop (table, signature) buckets with more than
      this many members from candidate generation — the standard LSH
      hot-bucket guard for dense clusters (where one bucket would
      otherwise contribute O(cap-less bucket^2) pairs). Honest recall
      tradeoff: a pair meeting ONLY in dropped buckets is missed; with
      multiple tables, dense-cluster pairs usually still meet in
      another table's finer split.
    """
    from pyspark.sql.functions import pandas_udf

    from .knn import _hyperplane

    if n_planes == "auto":
        n = emb.count()
        n_planes = max(6, math.ceil(math.log2(max(n / target_bucket, 2.0))))
    elif not isinstance(n_planes, int):
        raise ValueError(f"n_planes must be an int or 'auto': {n_planes!r}")

    # ALL table signatures in ONE Arrow pass: a (dim, T*p) matmul per
    # batch instead of T*p interpreted higher-order-function dot products
    # per row per join side (the naive expression form measured ~10x
    # slower at sf0.1 — HOF aggregates don't enter whole-stage codegen)
    pm = np.array(
        [
            _hyperplane(dim, seed + t * n_planes + p)
            for t in range(n_tables)
            for p in range(n_planes)
        ],
        dtype=np.float64,
    ).T  # (dim, T*p)

    @pandas_udf("array<string>")
    def signatures(vecs: pd.Series) -> pd.Series:
        mat = np.array(list(vecs), dtype=np.float64)
        bits = (mat @ pm) >= 0  # (n, T*p)
        chars = np.where(bits, "1", "0")
        return pd.Series(
            [
                ["".join(r[t * n_planes : (t + 1) * n_planes])
                 for t in range(n_tables)]
                for r in chars
            ]
        )

    base = emb.select(F.col(id_col).alias("doc_id"), F.col(vec_col).alias("v"))
    # lazily checkpointed: the self-join references it on both sides —
    # without this the signature UDF and scan run twice
    banded = base.select(
        "doc_id", F.posexplode(signatures(F.col("v"))).alias("tbl", "sig")
    ).localCheckpoint(eager=False)
    if max_bucket is not None:
        # hot-bucket guard: occupancy is one map-side-partial aggregate
        # over the already-checkpointed banded frame; oversize buckets are
        # excluded from BOTH join sides before any pair is generated
        keep = (
            banded.groupBy("tbl", "sig")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_bucket)
            .select("tbl", "sig")
        )
        banded = banded.join(keep, ["tbl", "sig"])
    x, y = banded.alias("x"), banded.alias("y")
    # dedupe (a, b) BEFORE the exact verify: a pair colliding in several
    # tables is verified once, and the distinct shuffles two ids, never
    # vectors — then vectors join back only for surviving candidates
    # (at corpus scale `base` is bucketed by doc_id, so these are
    # co-partitioned joins)
    cand = (
        x.join(
            y,
            (F.col("x.tbl") == F.col("y.tbl"))
            & (F.col("x.sig") == F.col("y.sig"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .distinct()
    )
    # vectorized verify: one Arrow batch matvec per partition instead of
    # an interpreted HOF cosine per pair (at sf0.1 the candidate set is
    # ~10^5-10^6 pairs; HOF verify measured ~7 s vs <1 s vectorized).
    # Same double-precision math as functions.vector.similarity_score.
    pair_scores = pair_scores_udf()

    va = base.select(F.col("doc_id").alias("a"), F.col("v").alias("va"))
    vb = base.select(F.col("doc_id").alias("b"), F.col("v").alias("vb"))
    return (
        cand.join(va, "a")
        .join(vb, "b")
        .select("a", "b", pair_scores(F.col("va"), F.col("vb")).alias("score"))
        .filter(F.col("score") >= threshold)
    )


def embedding_near_duplicates_ivf(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_centroids: int = 16,
    seed: int = 42,
    centroids=None,
) -> DataFrame:
    """Cluster-then-pair near-dup (the SemDeDup shape): k-means-assign
    every vector to a centroid, generate pairs only WITHIN a cluster,
    exact-verify survivors. Complements the sign-LSH path: recall loss
    here is only pairs straddling a cluster boundary, so it improves as
    duplicates get tighter — the opposite trade-off to LSH's per-plane
    angle sensitivity.

    Plan: bounded centroid training (one ≤10k-row sample collect),
    Arrow-batched assignment, pair generation via a self-equi-join on
    cluster_id (shuffle keyed on cluster, never a cross product — at
    corpus scale persist the assignment partitioned by cluster_id and
    the join is partition-local), vectorized verify. Σ cluster² bounds
    candidate volume; grow ``n_centroids`` linearly with corpus size to
    hold cluster populations constant.
    """
    from .knn import assign_clusters, train_centroids

    cent = (
        centroids
        if centroids is not None
        else train_centroids(
            emb, vec_col=vec_col, n_centroids=n_centroids, seed=seed
        )
    )
    # lazily checkpointed: referenced on both sides of the self-join
    assigned = assign_clusters(emb, cent, vec_col=vec_col).select(
        F.col(id_col).alias("doc_id"), F.col(vec_col).alias("v"), "cluster_id"
    ).localCheckpoint(eager=False)
    pair_scores = pair_scores_udf()

    x, y = assigned.alias("x"), assigned.alias("y")
    return (
        x.join(
            y,
            (F.col("x.cluster_id") == F.col("y.cluster_id"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(
            F.col("x.doc_id").alias("a"),
            F.col("y.doc_id").alias("b"),
            pair_scores(F.col("x.v"), F.col("y.v")).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


def assign_with_centroid_sim(
    emb: DataFrame,
    centroids,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(doc_id, v, cluster_id, csim): argmax-cosine cluster assignment
    carrying the winning similarity — the shared front half of
    :func:`semdedup` and its streaming twin. Arrow-batched matmul;
    centroids are unit-norm so dot == cosine after row normalization."""
    from pyspark.sql.functions import pandas_udf

    cent = centroids

    @pandas_udf("struct<cluster_id:int, centroid_sim:double>")
    def nearest(vecs: pd.Series) -> pd.DataFrame:
        mat = np.array(list(vecs), dtype=np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        mat = mat / np.clip(norms, 1e-12, None)
        sims = mat @ cent.T
        cid = np.argmax(sims, axis=1)
        return pd.DataFrame(
            {
                "cluster_id": cid.astype("int32"),
                "centroid_sim": sims[np.arange(len(cid)), cid],
            }
        )

    return emb.select(
        F.col(id_col).alias("doc_id"),
        F.col(vec_col).alias("v"),
        nearest(F.col(vec_col)).alias("_a"),
    ).select(
        "doc_id",
        "v",
        F.col("_a.cluster_id").alias("cluster_id"),
        F.col("_a.centroid_sim").alias("csim"),
    )


def pair_scores_udf():
    """Vectorized reference-similarity scorer for (va, vb) vector pairs:
    ``1 - (1 - cos)/2`` per row, one Arrow matvec per batch — shared by
    the LSH/IVF/SemDeDup verify stages."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def pair_scores(va: pd.Series, vb: pd.Series) -> pd.Series:
        ma = np.array(list(va), dtype=np.float64)
        mb = np.array(list(vb), dtype=np.float64)
        dots = np.einsum("ij,ij->i", ma, mb)
        na = np.linalg.norm(ma, axis=1)
        nb = np.linalg.norm(mb, axis=1)
        cos = dots / np.clip(na * nb, 1e-300, None)
        return pd.Series(1.0 - (1.0 - cos) / 2.0)

    return pair_scores


def semdedup(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_centroids: int = 16,
    seed: int = 42,
    centroids=None,
    max_cluster: int | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: data-efficient learning
    at web-scale through semantic deduplication"): k-means-cluster the
    embeddings, then within each cluster prune every document that is
    semantically duplicated by a HIGHER-PRIORITY one, where priority is
    distance from the centroid — the kept representative of each
    duplicate group is the example with the LOWEST cosine similarity to
    its cluster centroid (the paper's keep rule: boundary examples
    carry more training signal than the cluster's dense core).

    Concretely: rank each cluster's members by (centroid_sim ASC,
    doc_id ASC); a document is pruned iff some LOWER-RANKED member of
    its cell scores ``>= threshold`` against it under the reference
    similarity ``1 - (1 - cos)/2``. Rank 1 (the farthest-out member)
    can never be pruned.

    Scale posture — bucketed, never all-pairs: pairs are generated only
    within a cluster via a self-equi-join keyed on cluster_id, and
    ``max_cluster`` SALTS oversized clusters into ceil(n/max_cluster)
    hash cells (``doc_id % n_sub``) so no cell exceeds ~``max_cluster``
    members in expectation — the same hot-bucket discipline as the
    banded LSH joins. Honest recall tradeoff: a duplicate pair split
    across salt cells is missed; the split is deterministic, so the
    oracle replays it and the output is hash-gated, not rows-only.
    Grow ``n_centroids`` linearly with corpus size (the paper uses 50k
    clusters at web scale) and keep the salt as the guard rail.

    Returns one row PER DOCUMENT: (doc_id, cluster_id, centroid_sim,
    rank, keep) — the decision frame a corpus pipeline joins back to
    the documents (keep=true survivors feed training; the pruned rows
    carry their cluster for audit).
    """
    from .knn import train_centroids

    cent = (
        centroids
        if centroids is not None
        else train_centroids(
            emb, vec_col=vec_col, n_centroids=n_centroids, seed=seed
        )
    )
    assigned = assign_with_centroid_sim(
        emb, cent, id_col=id_col, vec_col=vec_col
    )
    if max_cluster is not None:
        # ceil(n_c / cap) salt cells per cluster; BIGINT/INT division is
        # true float division on both engines, so ceil replays exactly
        n_sub = F.ceil(
            F.count(F.lit(1)).over(Window.partitionBy("cluster_id"))
            / F.lit(max_cluster)
        )
        assigned = assigned.withColumn(
            "salt", F.pmod(F.col("doc_id"), n_sub).cast("int")
        )
    else:
        assigned = assigned.withColumn("salt", F.lit(0))
    # rank quantization (the BM25/ADC idiom): csim is computed per
    # Arrow batch, and a 1-row batch's BLAS path differs from a
    # many-row matmul at the ~1 ulp level, so near-tied members can
    # rank differently across partition layouts (and vs the oracle's
    # SQL expression). Rounding to 12 digits before the rank collapses
    # ulp noise onto the deterministic doc_id tie-break.
    w = Window.partitionBy("cluster_id", "salt").orderBy(
        F.round(F.col("csim"), 12).asc(), F.col("doc_id").asc()
    )
    # lazily checkpointed: the prune self-join references it on both sides
    ranked = assigned.withColumn("rank", F.row_number().over(w)).localCheckpoint(
        eager=False
    )
    pair_scores = pair_scores_udf()
    x, y = ranked.alias("x"), ranked.alias("y")
    pruned = (
        x.join(
            y,
            (F.col("x.cluster_id") == F.col("y.cluster_id"))
            & (F.col("x.salt") == F.col("y.salt"))
            & (F.col("x.rank") < F.col("y.rank")),
        )
        .select(
            F.col("y.doc_id").alias("doc_id"),
            pair_scores(F.col("x.v"), F.col("y.v")).alias("s"),
        )
        .filter(F.col("s") >= threshold)
        .select("doc_id")
        .distinct()
        .withColumn("_pruned", F.lit(True))
    )
    return ranked.join(pruned, "doc_id", "left").select(
        "doc_id",
        "cluster_id",
        F.round("csim", 6).alias("centroid_sim"),
        "rank",
        F.col("_pruned").isNull().alias("keep"),
    )


# ---------------------------------------------------------------------------
# duplicate clustering: pairs -> groups -> canonical selection
# ---------------------------------------------------------------------------


def duplicate_clusters(pairs: DataFrame, *, a: str = "a", b: str = "b") -> DataFrame:
    """Connected components over near-duplicate pairs:
    (doc_id, cluster_id, keep) with cluster_id = the component's minimum
    doc id and keep = canonical membership. A pair with a NULL or equal
    endpoint carries no edge, so it adds no doc to any cluster (the
    contract of :func:`~project_cortex_spark.operators.graph.connected_components`).

    Iterative min-label propagation (each step: every node adopts the
    smallest label among itself and its neighbors) — converges in
    O(component diameter) rounds; near-dup clusters are shallow, and the
    loop exits as soon as a round changes nothing. The rounds run on
    :func:`~project_cortex_spark.operators.graph._iterate`: "nothing
    changed" is the label frame's fingerprint repeating, observed by the
    round's own checkpoint job, so no comparison join runs per round.
    Each round is one shuffle keyed on the node; the edge frame is
    cached once. This is the step that turns pairwise dedup output into
    delete lists at corpus scale (pick one survivor per cluster, drop
    the rest).

    On shallow near-dup clusters this beats the star alternation of
    :func:`~project_cortex_spark.operators.graph.connected_components`
    (interleaved A/B on 4 cores, sf0.1 minhash pairs: 0.71 vs 0.98 s median);
    chain-shaped clusters, where min-label pays one round per hop,
    belong to that kernel.
    """
    # materialize the (possibly expensive) pair pipeline once — the
    # symmetrizing union would otherwise recompute it for each branch.
    # The degenerate-pair filter runs on the materialized pairs, so it
    # never reaches into the pair pipeline's plan.
    p = (
        pairs.select(F.col(a).alias("a"), F.col(b).alias("b"))
        .localCheckpoint(eager=True)
        .filter(F.col("a") != F.col("b"))
    )
    # cached, not checkpointed: the cache's size statistics let each
    # round's joins pick their strategy (a checkpoint carries none)
    sym = (
        p.select(F.col("a").alias("x"), F.col("b").alias("y"))
        .unionByName(p.select(F.col("b").alias("x"), F.col("a").alias("y")))
        .distinct()
        .cache()
    )

    def relax(labels: DataFrame, _) -> DataFrame:
        neighbor_min = (
            sym.join(labels, sym["y"] == labels["node"])
            .groupBy("x")
            .agg(F.min("label").alias("nmin"))
        )
        return labels.join(
            neighbor_min, labels["node"] == neighbor_min["x"], "left"
        ).select(
            "node",
            F.least(
                F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))
            ).alias("label"),
        )

    nodes = sym.select(F.col("x").alias("node")).distinct()
    try:
        labels, _ = _iterate(nodes.withColumn("label", F.col("node")), relax)
    finally:
        sym.unpersist()
    return labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("node") == F.col("label")).alias("keep"),
    )


def dedup_paragraphs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
    min_chars: int = 20,
) -> DataFrame:
    """Cross-corpus paragraph deduplication — the C4/RefinedWeb step
    that removes REPEATED boilerplate (navbars, license blocks, cookie
    banners) while keeping each document's unique content: every
    paragraph of at least ``min_chars`` appears in the output corpus
    exactly once, at its FIRST occurrence in (id, position) order;
    shorter fragments are kept everywhere (deduping "Thanks!" would
    mangle documents for no dedup value — the RefinedWeb rule).

    Returns one row per input document: the reassembled ``cleaned_text``
    (paragraphs rejoined on ``sep`` in original order, '' if everything
    was dropped) plus kept/dropped counts.

    Scale notes: two shuffles — one on the paragraph hash (the
    first-occurrence window; md5 keys keep the exchange narrow — the
    paragraph text itself stays in the row but never becomes a shuffle
    KEY), one on the doc id for reassembly. Both are plain hash
    partitionings over |paragraphs| rows; nothing quadratic, no global
    sort. A boilerplate paragraph repeated a billion times lands in ONE
    window partition — at that skew, pre-aggregate duplicates with a
    (hash → min(id, pos)) map-side-combinable groupBy instead of the
    row_number window; the window form is kept here because it also
    carries the paragraph through to reassembly in the same pass.
    """
    paras = paragraph_rows(docs, id_col=id_col, text_col=text_col, sep=sep)
    w = Window.partitionBy(F.md5(F.col("para"))).orderBy(
        F.col(id_col).asc(), F.col("pos").asc()
    )
    kept = paras.withColumn("_rn", F.row_number().over(w)).filter(
        (F.length("para") < min_chars) | (F.col("_rn") == 1)
    )
    return reassemble_paragraphs(docs, kept, paras, id_col=id_col, sep=sep)


def paragraph_rows(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text",
    sep: str = "\n\n",
) -> DataFrame:
    """(id, pos, para) rows — the split half of :func:`dedup_paragraphs`,
    factored so the streaming twin splits each delivery identically."""
    import re as _re

    pattern = _re.sub(r"([\\.^$|?*+()\[\]{}])", r"\\\1", sep)
    return docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), pattern)).alias("pos", "para"),
    )


def reassemble_paragraphs(
    docs: DataFrame,
    kept: DataFrame,
    paras: DataFrame,
    *,
    id_col: str = "doc_id",
    sep: str = "\n\n",
) -> DataFrame:
    """Rejoin surviving paragraphs in original order, emitting every
    input document (empty text when everything was dropped) — the
    reassembly half of :func:`dedup_paragraphs`, shared with the
    streaming twin so both produce byte-identical documents."""
    reassembled = kept.groupBy(id_col).agg(
        F.concat_ws(
            sep,
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
        ).alias("cleaned_text"),
        F.count(F.lit(1)).alias("n_kept"),
    )
    totals = paras.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_paras"))
    return (
        docs.select(id_col)
        .join(totals, id_col, "left")
        .join(reassembled, id_col, "left")
        .select(
            id_col,
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            (
                F.coalesce("n_paras", F.lit(0)) - F.coalesce("n_kept", F.lit(0))
            ).cast("bigint").alias("n_dropped"),
        )
    )


def unicode_duplicate_groups(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    form: str = "NFC",
) -> DataFrame:
    """Exact dedup over Unicode CANONICAL equivalence: md5 of the
    ``form``-normalized text (NFC by default), same group shape as
    :func:`exact_duplicate_groups` — (doc_id, nhash, group_size, keep).

    Byte-level hashing misses duplicates that differ only in codepoint
    composition (precomposed ``é`` U+00E9 vs ``e``+U+0301) — common in
    web corpora where the same page arrives through different encoders.
    C4/CCNet-class pipelines normalize before hashing for exactly this
    reason; this is that step as a first-class operator.

    The normalization is an Arrow-batched pandas UDF (Python's
    unicodedata — the JVM side has no NFC builtin); everything after is
    the standard hash-groupBy, one shuffle on the hash. DuckDB's
    ``nfc_normalize`` (utf8proc) implements the same Unicode canonical
    composition, so the whole operator is oracle-replayable.
    """
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def nfc(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda s: None if s is None else unicodedata.normalize(form, s)
        )

    h = docs.select(
        F.col(id_col).alias("doc_id"),
        F.md5(nfc(F.col(text_col))).alias("nhash"),
    )
    groups = h.groupBy("nhash").agg(
        F.count(F.lit(1)).alias("group_size"),
        F.min("doc_id").alias("canonical"),
    )
    return (
        h.join(groups, "nhash")
        .filter(F.col("group_size") > 1)
        .select(
            "doc_id",
            "nhash",
            "group_size",
            (F.col("doc_id") == F.col("canonical")).alias("keep"),
        )
    )


def winnowing_fingerprints(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowing fingerprint SETS (Schleimer et al. 2003, the MOSS
    algorithm): hash every character k-gram of the normalized text,
    slide a w-window over the hash sequence, keep each window's minimum
    — the guarantee is that any shared substring of length ≥ k+w−1
    yields at least one shared fingerprint, which single-min or random
    sampling cannot promise. Output (doc_id, fp) with the per-document
    set deduplicated.

    The k-gram hash is the md5-prefix integer (engine-exact: the same
    '0x'||substr(md5,1,8) trick as the embedding oracle), window minima
    are plain integer comparisons — the whole construction replays in
    SQL. Documents shorter than k+w−1 chars degrade to their single
    minimal hash.
    """
    from ..functions.text import char_ngrams, tokens

    norm = F.concat_ws(" ", tokens(F.col(text_col)))
    grams = char_ngrams(norm, k)
    # MATERIALIZE the hash array as a column before windowing: Catalyst
    # does not CSE a lambda-captured subexpression, so referencing an
    # unmaterialized `hs` inside the per-window slice would re-hash the
    # whole document once PER WINDOW — O(n²) md5 calls per doc (measured
    # as a task hang at sf0.01 before this select boundary existed)
    hashed = docs.select(
        F.col(id_col).alias("doc_id"),
        F.transform(
            grams,
            lambda g: F.conv(F.substring(F.md5(g), 1, 8), 16, 10).cast(
                "long"
            ),
        ).alias("hs"),
    )
    hs = F.col("hs")
    windows = F.transform(
        F.sequence(F.lit(1), F.size(hs) - F.lit(w - 1)),
        lambda i: F.array_min(F.slice(hs, i, w)),
    )
    fps = (
        F.when(F.size(hs) >= w, F.array_distinct(windows))
        .when(F.size(hs) > 0, F.array(F.array_min(hs)))
        .otherwise(F.array().cast("array<long>"))
    )
    return hashed.select("doc_id", F.explode(fps).alias("fp"))


def winnowing_near_duplicates(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    threshold: float = 0.5,
    max_df: int = 50,
    max_df_frac: float | None = None,
) -> DataFrame:
    """Near-duplicate pairs by winnowing-fingerprint overlap:
    (doc_a, doc_b, shared, overlap) with overlap = shared /
    min(|A|, |B|) ≥ threshold.

    Scale shape: candidate generation is an equi-join on the
    fingerprint value (bucketed, like every LSH family here) with a
    ``max_df`` hot-fingerprint cap — a fingerprint present in more than
    max_df documents (boilerplate) is dropped BEFORE the pair fan-out,
    the same guard as the shingle-df cap in ngram_jaccard. Everything
    up to the final ratio is exact integer arithmetic.

    An ABSOLUTE cap silently saturates as the corpus grows (a
    legitimately-duplicated passage crosses any fixed df once enough
    copies exist — measured on the sf1 replica harness, where 10×
    replication lifted every shared fingerprint above 50 and the pair
    set collapsed to empty). Set ``max_df_frac`` to scale the cap with
    corpus size: effective cap = max(max_df, frac·n_docs); the count
    is one bounded aggregate.
    """
    if max_df_frac is not None:
        max_df = max(max_df, int(max_df_frac * docs.count()))
    fp = winnowing_fingerprints(
        docs, id_col=id_col, text_col=text_col, k=k, w=w
    ).localCheckpoint(eager=True)
    sizes = fp.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_fp"))
    dfreq = fp.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
    rare = fp.join(
        F.broadcast(dfreq.filter(F.col("df") > max_df)), "fp", "left_anti"
    )
    a = rare.select(F.col("doc_id").alias("doc_a"), "fp")
    b = rare.select(F.col("doc_id").alias("doc_b"), "fp")
    shared = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_fp").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_fp").alias("n_b"))
    return (
        shared.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "overlap",
            F.round(F.col("shared") / F.least("n_a", "n_b"), 6),
        )
        .filter(F.col("overlap") >= threshold)
        .select("doc_a", "doc_b", "shared", "overlap")
    )


def dedup_keep_best(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    priority_col: str = "priority",
    normalize: bool = True,
) -> DataFrame:
    """Exact dedup with a PRECEDENCE rule instead of min-id: within each
    duplicate group keep the row with the smallest ``priority_col``
    (ties by id) — the production pattern "the curated mirror of this
    document beats the crawl copy", which plain min-id dedup gets wrong
    whenever the better copy has the larger id.

    Output is the audit view of the decisions: one row per group that
    HAD duplicates (kept id, kept priority, group size) — collectable
    at any scale; the full kept corpus is the same window filtered to
    rk = 1 without the n_dups > 1 cut.

    Scale: one window over the content hash — high-cardinality
    partition key, no skew beyond duplicate-group size, same envelope
    as exact_duplicate_groups.
    """
    from pyspark.sql import Window

    h = docs.withColumn(
        "_chash", content_hash(F.col(text_col), normalize=normalize)
    )
    win = Window.partitionBy("_chash").orderBy(
        F.col(priority_col).asc(), F.col(id_col).asc()
    )
    ranked = h.select("_chash", id_col, priority_col).withColumn(
        "rk", F.row_number().over(win)
    )
    sizes = ranked.groupBy("_chash").agg(F.count(F.lit(1)).alias("n_dups"))
    return (
        ranked.filter(F.col("rk") == 1)
        .join(sizes, "_chash")
        .filter(F.col("n_dups") > 1)
        .select(
            F.col(id_col).alias("kept_id"),
            F.col(priority_col).alias("kept_priority"),
            "n_dups",
        )
        .orderBy("kept_id")
    )


def exact_substring_rewrite(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 32,
) -> DataFrame:
    """Exact-substring deduplication as a REWRITE (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"): every
    k-char window that also occurs in another document is CUT from all
    documents except the canonical copy (the minimum doc id that
    contains the window); overlapping cut windows merge into spans, and
    each document is reassembled from its surviving segments. One row
    per input document: (doc_id, n_chars, removed_chars, n_cut_spans,
    cleaned_text) — docs shorter than k, and docs with no cross-doc
    duplication, pass through whole.

    :func:`duplicated_char_spans` is the MEASUREMENT form (coverage
    fraction, with a stride knob for screening); this is the rewrite a
    training-data pipeline actually applies. Single-pass semantics: the
    chars adjoining a cut are not re-scanned for new duplication (the
    reference algorithm's behavior as published).

    Scale notes: the position explode (one row per character) is the
    honest cost of exact-substring dedup — embarrassingly parallel and
    linear in corpus bytes. Cross-document detection is min(doc) !=
    max(doc) on the gram aggregate (no countDistinct two-phase expand);
    the dup-gram join lands on the aggregate's own hash key. Interval
    merge is the standard cummax window per doc; reassembly is an
    array_sort + aggregate() fold over each doc's merged spans — pure
    codegen expressions, no Python in the path. The cleaned text is
    rebuilt with substring() on the doc's own row, so full texts are
    never shuffled as join payloads: the only wide exchanges carry
    (md5, doc_id, position) triples.
    """
    docs = ensure_parallelism(docs)
    L = F.length(F.col(text_col))
    d = docs.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("_t"), L.alias("_len")
    )
    positions = F.when(
        F.col("_len") >= k,
        F.sequence(F.lit(1), F.col("_len") - k + 1),
    ).otherwise(F.array().cast("array<int>"))
    # gram key is the md5 DIGEST BYTES (unhex), not the hex string: the
    # key is internal (never output), unhex is injective on md5 hex, so
    # grouping/joining on it is identical — at 16 bytes instead of a
    # 32-char string the g-keyed exchange and aggregate carry half the
    # key bytes (guide §2.3 narrower types; interleaved A/B at sf0.1:
    # 1.67 -> 1.43 s). The frame is cached because BOTH the dup-gram
    # aggregate and the cuts join consume it — uncached, the per-char
    # explode + 10M md5s run twice (guide §5: reused AND expensive;
    # A/B with cache: -> 1.13 s total).
    grams = d.select(
        "doc_id", F.explode(positions).alias("p"),
        F.unhex(F.md5(F.expr(f"substring(_t, p, {k})"))).alias("g"),
    ).cache()
    # cross-document duplicated grams + their canonical (minimum) doc:
    # min != max over doc ids IS the "occurs in >= 2 docs" predicate
    dupg = (
        grams.groupBy("g")
        .agg(F.min("doc_id").alias("_mind"), F.max("doc_id").alias("_maxd"))
        .filter(F.col("_mind") != F.col("_maxd"))
        .select("g", "_mind")
    )
    cuts = (
        grams.join(dupg, "g")
        .filter(F.col("doc_id") != F.col("_mind"))
        .select("doc_id", "p")
        .distinct()  # several dup grams can share a position
    )
    # merge overlapping/adjacent cut windows [p, p+k-1] per doc: a new
    # span starts where p exceeds the running max end of everything
    # before it (+1 merges exact adjacency)
    w = Window.partitionBy("doc_id").orderBy("p")
    prev_end = F.max(F.col("p") + k - 1).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    spans = (
        cuts.withColumn(
            "_new", (prev_end.isNull() | (F.col("p") > prev_end + 1)).cast("int")
        )
        .withColumn("_grp", F.sum("_new").over(w))
        .groupBy("doc_id", "_grp")
        .agg(F.min("p").alias("s"), (F.max("p") + k - 1).alias("e"))
        .groupBy("doc_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("s", "e"))).alias("_ivs")
        )
    )
    # fold the sorted spans into (kept-text, previous-end) state; the
    # finisher appends the tail after the last cut
    cleaned = F.when(F.col("_ivs").isNull(), F.col("_t")).otherwise(
        F.aggregate(
            F.col("_ivs"),
            F.struct(
                F.lit("").alias("acc"), F.lit(0).cast("int").alias("prev")
            ),
            lambda st, iv: F.struct(
                F.concat(
                    st.acc,
                    F.expr("_t").substr(st.prev + 1, iv.s - st.prev - 1),
                ).alias("acc"),
                iv.e.alias("prev"),
            ),
            lambda st: F.concat(
                st.acc, F.expr("_t").substr(st.prev + 1, F.col("_len") - st.prev)
            ),
        )
    )
    return (
        d.join(spans, "doc_id", "left")
        .select(
            "doc_id",
            F.col("_len").alias("n_chars"),
            (F.col("_len") - F.length(cleaned)).alias("removed_chars"),
            F.coalesce(F.size("_ivs"), F.lit(0)).alias("n_cut_spans"),
            cleaned.alias("cleaned_text"),
        )
    )


def ppjoin_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    shingles_df: DataFrame | None = None,
) -> DataFrame:
    """(a, b, jaccard >= threshold) EXACT — the same answer as
    :func:`ngram_jaccard_pairs` with no df cap — via prefix filtering
    (Bayardo et al. 2007 "Scaling Up All Pairs Similarity Search";
    Xiao et al. 2008 PPJoin). This is the cap-free scale path: where
    the shared-shingle join needs a document-frequency cut to survive
    stop-shingles (a shingle in 1M docs is a 10^12-pair hot key),
    prefix filtering joins only each document's RAREST
    ``|d| - ceil(t*|d|) + 1`` shingles under a global
    (ascending-df, shingle) order.

    Why no pair escapes: if J(A,B) >= t then the overlap o satisfies
    o >= ceil(t*|A|) (since |union| >= |A|); let w be the smallest
    common shingle in the global order — at least o-1 common shingles
    sort after w in A, so w sits within A's first |A|-o+1 <=
    |A|-ceil(t*|A|)+1 positions, and symmetrically within B's prefix.
    The prefix equi-join therefore meets every qualifying pair at w (at
    least), candidates are verified with an exact intersection count,
    and the output is provably identical to the unfiltered join — the
    oracle gates it against the algorithm-independent exact form.

    Scale shape: one shingle explode (cached), a df aggregate joined
    back ON ITS OWN KEY (no new exchange), one per-doc window for
    prefix positions, the prefix-only equi-join (plus the size filter
    least(na,nb) >= t*greatest(na,nb), also implied by J >= t), and a
    verification join whose fan-out is candidates x set size. Hot keys
    die by construction: a shingle's join weight is the number of docs
    holding it IN THEIR PREFIX, and high-df shingles sort last, out of
    every prefix.

    When to use which (measured, SCALE.md r7): prefix filtering wins
    when stop-shingle mass makes the co-occurrence join quadratic over
    a SPARSE answer (adversarial A/B: plain DNF at 40k docs, ppjoin
    4.9 s at 50k); the plain :func:`ngram_jaccard_pairs` is ~10x
    cheaper when df is bounded and the near-dup answer is DENSE (sf1
    documents corpus: 26 s vs 286 s, identical 250,600 pairs) — there
    the candidate set cannot shrink below the answer and ppjoin's
    df-join + prefix window + verify re-join are pure overhead.
    """
    sh = _shingles(
        docs, shingles_df, id_col=id_col, text_col=text_col, shingle_n=shingle_n
    ).cache()
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("_df"))
    wpos = Window.partitionBy("doc_id").orderBy("_df", "sh")
    wdoc = Window.partitionBy("doc_id")
    pos = (
        sh.join(dfreq, "sh")
        .withColumn("pos", F.row_number().over(wpos))
        .withColumn("n", F.count(F.lit(1)).over(wdoc))
    )
    # Prefix length n - ceil(t*n) + 1, with the product deflated by a
    # relative 1e-12 before the ceil: double rounding can push t*n just
    # ABOVE the exact rational (t=0.55, n=100 -> 55.000000000000007,
    # ceil 56 not 55), silently shortening the prefix by one and
    # breaking the exactness proof below. The deflation slack (4 orders
    # beyond double's 2^-52 relative error for any realistic n) can only
    # LENGTHEN a prefix by one position at an exact-integer boundary —
    # extra candidates that exact verification removes. Same treatment
    # on the size filter: t*greatest rounding up would reject a
    # boundary subset pair (least == t*greatest exactly) that the
    # verification filter's own double compare accepts.
    _DEFL = 1.0 - 1e-12
    pref = pos.filter(
        F.col("pos")
        <= F.col("n")
        - F.ceil(F.lit(threshold) * F.col("n") * F.lit(_DEFL))
        + 1
    ).select("doc_id", "sh", "n")
    cand = (
        pref.select(F.col("doc_id").alias("a"), "sh", F.col("n").alias("na"))
        .join(
            pref.select(F.col("doc_id").alias("b"), "sh", F.col("n").alias("nb")),
            "sh",
        )
        .filter(F.col("a") < F.col("b"))
        .filter(
            F.least("na", "nb")
            >= F.lit(threshold) * F.greatest("na", "nb") * F.lit(_DEFL)
        )
        .select("a", "b", "na", "nb")
        .distinct()
    )
    common = (
        cand.join(sh.select(F.col("doc_id").alias("a"), "sh"), "a")
        .join(sh.select(F.col("doc_id").alias("b"), "sh"), ["b", "sh"])
        .groupBy("a", "b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    return (
        common.select(
            "a",
            "b",
            (
                F.col("common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("common"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def similar_pairs_choice(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    max_df: int | None = 100,
    max_df_frac: float | None = 0.2,
    stop_mass_frac: float = 0.05,
    shingles_df: DataFrame | None = None,
    n_docs: int | None = None,
) -> str:
    """Cost-based arm selection for :func:`similar_pairs_auto` —
    ``"ppjoin"`` or ``"capped"`` — from ONE document-frequency
    aggregate over the shingle frame (VERDICT r7 item 4; the regimes
    were measured both ways in SCALE.md r7: 10x either direction).

    The decision statistic is the STOP-SHINGLE MASS: the fraction of
    posting rows (doc, shingle) whose shingle's df exceeds the plain
    arm's own cap (``max(max_df, floor(max_df_frac * n_docs))`` — the
    same fractional-cap convention as :func:`ngram_jaccard_pairs`).
    High mass means (a) the uncapped co-occurrence join is quadratic on
    those keys and (b) the capped join would delete a material slice of
    the universe — exactly the regime prefix filtering exists for, so
    dispatch to :func:`ppjoin_pairs`. Low mass means the cap never (or
    barely) binds and the co-occurrence join's hot keys are bounded —
    there the capped join was measured ~10x cheaper than ppjoin's
    df-join + prefix window + verify re-join on a dense answer, so
    dispatch to :func:`ngram_jaccard_pairs`.

    Cost of deciding: one count() over docs plus one aggregate over the
    per-shingle df frame — the same aggregate both arms compute anyway;
    at 100 TB this is one scan-shaped job, paid once, that avoids a
    measured 10x mistake in either direction. The DuckDB oracle replays
    the identical statistic, so the dispatch itself is gated.
    """
    if n_docs is None:
        n_docs = docs.count()
    cap = max(max_df or 0, int((max_df_frac or 0.0) * n_docs))
    sh = _shingles(
        docs, shingles_df, id_col=id_col, text_col=text_col, shingle_n=shingle_n
    )
    row = (
        sh.groupBy("sh")
        .agg(F.count(F.lit(1)).alias("_df"))
        .agg(
            F.sum("_df").alias("postings"),
            F.sum(
                F.when(F.col("_df") > cap, F.col("_df")).otherwise(F.lit(0))
            ).alias("heavy"),
        )
        .collect()[0]
    )
    postings = row["postings"] or 0
    heavy = row["heavy"] or 0
    stop_mass = (heavy / postings) if postings else 0.0
    return "ppjoin" if stop_mass > stop_mass_frac else "capped"


def similar_pairs_auto(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_df: int | None = 100,
    max_df_frac: float | None = 0.2,
    stop_mass_frac: float = 0.05,
) -> DataFrame:
    """(a, b, jaccard >= threshold) via whichever exact-Jaccard pair
    join the corpus shape favors — :func:`ppjoin_pairs` (cap-free,
    stop-shingle-proof) when stop-shingle mass is high,
    :func:`ngram_jaccard_pairs` with the fractional df cap when df is
    bounded. See :func:`similar_pairs_choice` for the one-aggregate
    decision rule and its measured justification. On low-mass corpora
    the two arms' outputs coincide wherever the cap does not bind.

    The dominant shingle explode and the corpus count are computed ONCE
    (cached) and threaded into both the decision and the chosen arm —
    the dispatch adds one df aggregate over the shared frame, nothing
    else."""
    n_docs = docs.count()
    sh = shingle_frame(
        docs, id_col=id_col, text_col=text_col, shingle_n=shingle_n
    ).cache()
    choice = similar_pairs_choice(
        docs,
        id_col=id_col,
        text_col=text_col,
        shingle_n=shingle_n,
        max_df=max_df,
        max_df_frac=max_df_frac,
        stop_mass_frac=stop_mass_frac,
        shingles_df=sh,
        n_docs=n_docs,
    )
    if choice == "ppjoin":
        return ppjoin_pairs(
            docs,
            id_col=id_col,
            text_col=text_col,
            shingle_n=shingle_n,
            threshold=threshold,
            shingles_df=sh,
        )
    return ngram_jaccard_pairs(
        docs,
        id_col=id_col,
        text_col=text_col,
        shingle_n=shingle_n,
        threshold=threshold,
        max_df=max_df,
        max_df_frac=max_df_frac,
        shingles_df=sh,
        n_docs=n_docs,
    )


def containment_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
    max_df_frac: float | None = None,
) -> DataFrame:
    """DIRECTED near-duplication: (a, b, containment) for every ordered
    pair with containment(a in b) = |shingles(a) ∩ shingles(b)| /
    |shingles(a)| >= threshold, a != b. The asymmetric complement of
    :func:`ngram_jaccard_pairs`: a short document quoted whole inside a
    long one has containment ~1.0 but Jaccard ~|A|/|B| — the
    subset/quote duplication class Lee et al. 2021 flag that symmetric
    document-level measures structurally miss. Broder's containment
    sketch (1997) is the classical form; this is its exact join twin.

    Same capped shingle universe and co-occurrence join shape as the
    Jaccard form (``max_df``/``max_df_frac`` replayed identically by
    the oracle): ONE unordered co-occurrence aggregate computes
    |A ∩ B|, then both directed scores are emitted from the same row —
    the directed answer costs exactly the undirected join plus a 2x
    projection, never a second shuffle.
    """
    sh = _capped_shingles(
        docs,
        id_col=id_col,
        text_col=text_col,
        shingle_n=shingle_n,
        max_df=max_df,
        max_df_frac=max_df_frac,
    )
    common = _cooccurrence_counts(sh)
    fwd = common.select(
        F.col("x").alias("a"),
        F.col("y").alias("b"),
        (F.col("common").cast("double") / F.col("nx")).alias("containment"),
    )
    rev = common.select(
        F.col("y").alias("a"),
        F.col("x").alias("b"),
        (F.col("common").cast("double") / F.col("ny")).alias("containment"),
    )
    return fwd.unionByName(rev).filter(F.col("containment") >= threshold)


# ---------------------------------------------------------------------------
# edit-distance similarity join (PassJoin)
# ---------------------------------------------------------------------------


def _passjoin_layout(key_len: int, k: int) -> list[tuple[int, int, int]]:
    """Even (k+1)-way partition of a fixed-width key: (seg_id, start0,
    length), first ``key_len % (k+1)`` segments one char longer."""
    parts = k + 1
    base, rem = divmod(key_len, parts)
    out, pos = [], 0
    for i in range(parts):
        ln = base + (1 if i < rem else 0)
        out.append((i, pos, ln))
        pos += ln
    return out


def edit_distance_pairs(
    docs: DataFrame,
    *,
    k: int = 2,
    key_len: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """All pairs of documents whose fixed-width text key (the lowered
    ``key_len``-char prefix) is within Levenshtein distance ``k`` — the
    edit-distance sibling of the Jaccard/cosine near-dup joins, the
    natural tool for templated or lightly-mutated text (titles, URLs,
    boilerplate headers) where token-set measures are blind to order.

    Candidate generation is PassJoin (Li, Deng, Jiang, Feng 2011,
    "PASS-JOIN: a partition-based method for similarity joins"): each
    DISTINCT key is split into k+1 disjoint segments; by pigeonhole, any
    key within k edits contains at least one segment verbatim, starting
    within +/-k of its home position. So candidates come from an
    equi-join on (seg_id, substring) — (k+1) segment rows vs at most
    (k+1)(2k+1) probe substrings per key — never an all-pairs product,
    and the filter is LOSSLESS: the gate compares against a brute-force
    oracle, so a dropped pair hash-mismatches.

    Scale notes: the join runs on DISTINCT keys, so exact-duplicate
    template prefixes (the worst skew source) collapse before the
    candidate join and re-expand only in the output, which is
    output-bound by definition. Segment selectivity grows with
    key_len/(k+1); at 100 TB raise key_len (or k) together so segments
    stay >= ~8 chars. Verification is one JVM ``levenshtein`` per
    surviving candidate. NULL ids and texts shorter than ``key_len``
    are excluded (mirrored by the oracle).
    """
    keyed = edit_distance_keys(
        docs, key_len=key_len, id_col=id_col, text_col=text_col
    )
    return edit_distance_pairs_on_keys(keyed, k=k, key_len=key_len)


def edit_distance_keys(
    docs: DataFrame,
    *,
    key_len: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, key) fact rows for the ED join: the lowered fixed-width
    prefix, texts shorter than ``key_len`` and NULL ids excluded —
    the per-document projection an incremental store appends."""
    return (
        docs.select(
            F.col(id_col).alias("id"),
            F.lower(F.substring(F.col(text_col), 1, key_len)).alias("key"),
        )
        .filter(F.length(F.col(text_col)) >= key_len)
        .filter(F.col("id").isNotNull())
    )


def edit_distance_pairs_on_keys(
    keyed: DataFrame, *, k: int = 2, key_len: int = 32
) -> DataFrame:
    """The PassJoin core over an (id, key) frame — see
    :func:`edit_distance_pairs`. Split out so the incremental key
    store (streaming/editdist.py) shares the candidate join and
    verification verbatim with the batch operator."""
    if key_len < k + 1:
        raise ValueError("key_len must be >= k+1 for k+1 segments")
    keys = keyed.select("key").distinct()
    layout = _passjoin_layout(key_len, k)
    seg_structs = [
        F.struct(
            F.lit(i).alias("seg_id"),
            F.substring("key", start + 1, ln).alias("seg"),
        )
        for i, start, ln in layout
    ]
    segs = keys.select(
        "key", F.explode(F.array(*seg_structs)).alias("s")
    ).select("key", "s.seg_id", "s.seg")
    probe_structs = []
    seen: set[tuple[int, int]] = set()
    for i, start, ln in layout:
        for off in range(start - k, start + k + 1):
            off = min(max(off, 0), key_len - ln)
            if (i, off) in seen:
                continue
            seen.add((i, off))
            probe_structs.append(
                F.struct(
                    F.lit(i).alias("seg_id"),
                    F.substring("key", off + 1, ln).alias("seg"),
                )
            )
    probes = keys.select(
        F.col("key").alias("pkey"),
        F.explode(F.array(*probe_structs)).alias("p"),
    ).select("pkey", "p.seg_id", "p.seg")
    key_pairs = (
        segs.join(probes, ["seg_id", "seg"])
        .filter(F.col("key") < F.col("pkey"))
        .select("key", "pkey")
        .distinct()
        .withColumn("ed", F.levenshtein("key", "pkey"))
        .filter(F.col("ed") <= k)
    )
    ia = keyed.withColumnRenamed("id", "id_a")
    ib = keyed.select(F.col("key").alias("pkey"), F.col("id").alias("id_b"))
    cross = (
        ia.join(F.broadcast(key_pairs), "key")
        .join(ib, "pkey")
        .select(
            F.least("id_a", "id_b").alias("doc_id_a"),
            F.greatest("id_a", "id_b").alias("doc_id_b"),
            F.col("ed").cast("long").alias("edit_distance"),
        )
    )
    same = (
        keyed.alias("x")
        .join(keyed.alias("y"), "key")
        .filter(F.col("x.id") < F.col("y.id"))
        .select(
            F.col("x.id").alias("doc_id_a"),
            F.col("y.id").alias("doc_id_b"),
            F.lit(0).cast("long").alias("edit_distance"),
        )
    )
    return cross.unionByName(same)
