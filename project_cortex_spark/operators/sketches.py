"""Mergeable statistical sketches, built deterministic so the gate can
hash-compare them against an independent DuckDB replay.

At 100 TB the questions these answer ("who are the heavy hitters",
"how many distinct users", "what is p99") are the ones you cannot
answer with a collect — the sketches here are all MONOIDS (cell counts
sum, registers max, nothing order-dependent), so partial aggregation
happens map-side, the shuffle carries a bounded number of rows
(depth x width cells, or m registers per group — never the data), and
the same merge works across files, partitions, days, or streaming
micro-batches.

Determinism contract (the repo-wide one): every hash is a prefix of
``md5(salt || key)`` converted through the shared hex->bigint idiom,
so the DuckDB oracle re-derives the identical sketch from the raw
tables — these are gated EXACTLY, not tolerance-compared, except for
the one ``ln`` in the HLL small-range correction (rounded, see note).

Reference anchor: the reference keeps per-table row counts and
distinct-term stats for its planner (internal/index/stats.go); these
operators generalize that to the sketch family a training-data
pipeline actually needs at scale.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame


def _h32(prefix: str, col: F.Column) -> F.Column:
    """First 32 bits of md5(prefix || key) as a non-negative BIGINT —
    textually identical to the oracle's ('0x'||substr(md5(..),1,8))::BIGINT."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(prefix), col.cast("string"))), 1, 8),
        16,
        10,
    ).cast("bigint")


def _h60(prefix: str, col: F.Column) -> F.Column:
    """First 60 bits (15 hex chars) — positive, room for p + 52 rho bits."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(prefix), col.cast("string"))), 1, 15),
        16,
        10,
    ).cast("bigint")


def _cms_pos(key: F.Column, depth: int, width: int, salt: str) -> list[F.Column]:
    return [
        (_h32(f"{salt}{r}:", key) % F.lit(width)).alias(f"p{r}")
        for r in range(depth)
    ]


def cms_cells(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    depth: int = 4,
    width: int = 512,
    salt: str = "cms",
) -> DataFrame:
    """The sketch itself: per-(row, cell) counts — a pure algebraic
    aggregate (counts SUM), so the identical expression runs over a
    batch frame or a structured stream in complete mode; micro-batches
    merge by the monoid law, which is what the streaming twin gates."""
    pos = _cms_pos(F.col(key_col), depth, width, salt)
    return (
        events.select(F.posexplode(F.array(*pos)).alias("r", "c"))
        .groupBy("r", "c")
        .agg(F.count(F.lit(1)).alias("cell_n"))
    )


def cms_heavy_hitters(
    events: DataFrame,
    *,
    key_col: str = "user_id",
    depth: int = 4,
    width: int = 512,
    k: int = 20,
    salt: str = "cms",
) -> DataFrame:
    """Count-min-sketch heavy hitters (Cormode & Muthukrishnan 2005):
    ``depth`` hash rows of ``width`` counters; a key's estimate is the
    MIN over its ``depth`` cells, which can only over-count (collisions
    add, never subtract) — the output's ``overestimate`` column is the
    observable witness of that one-sided error bound.

    Shape at scale: the sketch build is one map-side-combined groupBy
    whose output is at most ``depth*width`` cells regardless of input
    size; the estimate join broadcasts those cells against the
    candidate keys. Nothing here is proportional to the event count
    after the first partial aggregation. The exact counts emitted next
    to the estimates are for the gate and the error columns — a
    production run at 100 TB would keep only the sketch.
    """
    cells = cms_cells(
        events, key_col=key_col, depth=depth, width=width, salt=salt
    )
    return cms_estimate_on_cells(
        cells, events, key_col=key_col, depth=depth, width=width, k=k, salt=salt
    )


def cms_estimate_on_cells(
    cells: DataFrame,
    events: DataFrame,
    *,
    key_col: str = "user_id",
    depth: int = 4,
    width: int = 512,
    k: int = 20,
    salt: str = "cms",
) -> DataFrame:
    """Merge-on-read finisher: min-over-rows estimates for the candidate
    keys against an already-built (possibly stream-maintained) cell
    frame, plus the exact-count audit columns."""
    key = F.col(key_col)
    pos = _cms_pos(key, depth, width, salt)
    exact = events.groupBy(key_col).agg(F.count(F.lit(1)).alias("exact_n"))
    cand = exact.select(
        key_col,
        "exact_n",
        F.posexplode(F.array(*pos)).alias("r", "c"),
    )
    est = (
        cand.join(F.broadcast(cells), ["r", "c"])
        .groupBy(key_col, "exact_n")
        .agg(F.min("cell_n").alias("est_n"))
    )
    return (
        est.select(
            key_col,
            "est_n",
            "exact_n",
            (F.col("est_n") - F.col("exact_n")).alias("overestimate"),
        )
        .orderBy(F.col("est_n").desc(), F.col(key_col).asc())
        .limit(k)
    )


# HLL bias-correction constant for m >= 128 (Flajolet et al. 2007 §4).
def _hll_alpha(m: int) -> float:
    return 0.7213 / (1.0 + 1.079 / m)


def hll_registers(
    events: DataFrame,
    *,
    group_col: str = "event_type",
    key_col: str = "user_id",
    p: int = 8,
    salt: str = "hll",
) -> DataFrame:
    """The HLL state: max leading-zero rank per (group, bucket). MAX is
    algebraic, so the identical expression is a streaming aggregate in
    complete mode and registers from any partitioning of the data merge
    losslessly — the property the streaming twin gates."""
    m = 1 << p
    wbits = 60 - p
    h = _h60(f"{salt}:", F.col(key_col))
    bucket = h % F.lit(m)
    # integer shift, NOT division: h is 60-bit and a double round-trip
    # would corrupt the low bits above 2^53
    w = F.shiftright(h, p)
    rho = F.when(w == 0, F.lit(wbits + 1)).otherwise(
        F.lit(wbits + 1) - F.length(F.bin(w))
    )
    return (
        events.select(F.col(group_col), bucket.alias("bucket"), rho.alias("rho"))
        .groupBy(group_col, "bucket")
        .agg(F.max("rho").alias("reg"))
    )


def hll_estimate_on_registers(
    regs: DataFrame,
    events: DataFrame,
    *,
    group_col: str = "event_type",
    key_col: str = "user_id",
    p: int = 8,
) -> DataFrame:
    """Merge-on-read finisher: the estimate formula over an already-
    built (possibly stream-maintained) register frame, plus the exact
    audit columns. See :func:`hll_distinct` for the integer-sum trick."""
    m = 1 << p
    wbits = 60 - p
    scale = 1 << (wbits + 1)
    alpha = _hll_alpha(m)
    per_group = regs.groupBy(group_col).agg(
        F.sum(
            F.expr(f"shiftleft(cast(1 as bigint), {wbits + 1} - reg)")
        ).alias("s_present"),
        F.count(F.lit(1)).alias("n_buckets"),
    )
    zeros = F.lit(m) - F.col("n_buckets")
    s_int = F.col("s_present") + zeros * F.lit(scale)
    e_raw = F.lit(alpha * m * m * float(scale)) / s_int.cast("double")
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(e_raw)
    exact = events.groupBy(group_col).agg(
        F.countDistinct(key_col).alias("exact_distinct")
    )
    out = per_group.select(group_col, F.round(est, 4).alias("est_distinct")).join(
        exact, group_col
    )
    return out.select(
        group_col,
        "est_distinct",
        "exact_distinct",
        F.round(
            F.abs(F.col("est_distinct") - F.col("exact_distinct"))
            / F.col("exact_distinct").cast("double"),
            6,
        ).alias("rel_err"),
    ).orderBy(group_col)


def hll_distinct(
    events: DataFrame,
    *,
    group_col: str = "event_type",
    key_col: str = "user_id",
    p: int = 8,
    salt: str = "hll",
) -> DataFrame:
    """HyperLogLog distinct-count per group (Flajolet et al. 2007):
    bucket = low ``p`` bits of a 60-bit hash, register = max leading-
    zero rank of the remaining 52 bits, estimate = alpha*m^2 / sum of
    2^-register with the small-range linear-counting correction.

    Exactness trick: the harmonic sum is computed as an INTEGER —
    sum(2^(52+1-M)) scaled by 2^53 — so the only float ops are one
    division, one multiply by the alpha literal, and (small-range only)
    one ``ln``; everything else is exact and reassociation-free, which
    is what lets a 256-register ESTIMATOR hash-match a different engine.
    The ``ln`` result is rounded to 4 dp on both sides (libm last-ulp
    margin ~1e-13 of the value; 4 dp is 9 orders above it).

    Monoid: registers merge by MAX — the same groupBy merges files,
    partitions, or streaming micro-batches; shuffle width is m rows per
    group, never the key count.
    """
    regs = hll_registers(
        events, group_col=group_col, key_col=key_col, p=p, salt=salt
    )
    return hll_estimate_on_registers(
        regs, events, group_col=group_col, key_col=key_col, p=p
    )


def value_count_cells(
    events: DataFrame,
    *,
    group_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """(group, distinct value) -> count cells: the streaming state
    monoid for exact quantiles (complete-mode aggregate; micro-batches
    merge by summing) and the batch form's first stage. State size is
    the distinct-value cardinality per group, not the row count —
    quantize the value upstream if its domain is unbounded (the
    :func:`~project_cortex_spark.operators.events.ks_drift_cells`
    contract). NULL values carry no rank (SQL percentile semantics)
    and the engines disagree on their sort position (NULLS FIRST vs
    LAST), so they are excluded on both sides."""
    return (
        events.filter(F.col(value_col).isNotNull())
        .groupBy(group_col, F.col(value_col).alias("value"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def quantiles_on_cells(
    cells: DataFrame,
    *,
    group_col: str = "event_type",
    qs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95, 0.99),
) -> DataFrame:
    """Finalize (group, value, cnt) cells into exact percentile_disc
    quantiles: the value at 1-indexed rank ceil(q*n) of the ascending
    sort is the SMALLEST value whose cumulative count reaches the
    rank — ties are already merged into one cell, so the cumulative
    step function is exactly the sorted row ranks. Merge-on-read
    (duplicate cells sum first), so batch and streaming twins share
    this finisher AND the brute-force row_number oracle.

    Both engines evaluate ceil(q*n) from the SAME double literal, so
    the rank — and therefore the picked value — is identical even
    where q*n rounds surprisingly (0.95*20 = 19.000000000000004).
    """
    merged = cells.groupBy(group_col, "value").agg(
        F.sum("cnt").alias("cnt")
    )
    spark = cells.sparkSession
    qdf = local_frame(spark, [(float(q),) for q in qs], "q double")
    counts = merged.groupBy(group_col).agg(F.sum("cnt").alias("n"))
    # the targets side re-reads the same cells lineage as `stepped`;
    # rename its group key so the self-join resolves unambiguously
    # (the memory-sink view of the streaming twin otherwise trips
    # "Conflicting attributes" in analysis)
    targets = counts.crossJoin(F.broadcast(qdf)).select(
        F.col(group_col).alias("_tgrp"),
        "n",
        "q",
        F.ceil(F.col("q") * F.col("n").cast("double"))
        .cast("bigint")
        .alias("rn"),
    )
    w_run = (
        Window.partitionBy(group_col)
        .orderBy("value")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    stepped = merged.select(
        group_col, "value", F.sum("cnt").over(w_run).alias("cum")
    )
    return (
        stepped.join(
            F.broadcast(targets), stepped[group_col] == targets["_tgrp"]
        )
        .filter(F.col("cum") >= F.col("rn"))
        .groupBy(group_col, "q", "n")
        .agg(F.min("value").alias("value"))
        .select(group_col, "q", "n", "value")
        .orderBy(group_col, "q")
    )


def exact_quantiles(
    events: DataFrame,
    *,
    group_col: str = "event_type",
    value_col: str = "value",
    qs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.95, 0.99),
) -> DataFrame:
    """EXACT per-group quantiles (percentile_disc semantics: the value
    at 1-indexed rank ceil(q*n) of the ascending sort), composed from
    the (group, distinct value) count cells (:func:`value_count_cells`)
    and the cumulative-step finisher (:func:`quantiles_on_cells`).

    This shape sorts DISTINCT-VALUE CELLS, not rows — on a 100 TB
    value column with bounded precision the window input collapses by
    the tie multiplicity (the r9 restructure; the previous form ranked
    every raw row). The oracle stays the algorithm-independent
    brute-force row_number pick, so the collapse is proven lossless.
    NULL values are excluded on both engines (SQL percentile
    semantics); the skew note from sample_per_key applies to giant
    all-distinct groups.
    """
    cells = value_count_cells(
        events, group_col=group_col, value_col=value_col
    )
    return quantiles_on_cells(cells, group_col=group_col, qs=qs)


def kmv_pair_overlap(
    events: DataFrame,
    *,
    group_col: str = "event_type",
    key_col: str = "user_id",
    k: int = 256,
    salt: str = "kmv",
) -> DataFrame:
    """Cross-group overlap via a KMV (bottom-k minimum values) sketch
    (Bar-Yossef et al. 2002): for every pair of groups, the k smallest
    member hashes of the UNION are a uniform without-replacement sample
    of it, so the fraction of them belonging to BOTH groups estimates
    the Jaccard similarity — the "how much do these two corpus slices
    overlap" question behind decontamination and source-mix audits,
    answered without materializing the intersection.

    Deterministic end to end: the sample is "k smallest md5 values,
    ties on key", the estimate is the exact rational cnt/k — nothing to
    tolerance-compare. The exact Jaccard is emitted as the audit
    column.

    Scale shape (r7 restructure, VERDICT r6 item 5): one distinct per
    (group, key), then a PER-GROUP bottom-k sketch (one window, G*k
    rows total) BEFORE any pair logic — the pair stage's input is the
    sketch frame joined twice against the broadcast pair frame, k*G^2
    rows at most, never |keys|*G^2 (the old membership-x-pairs fan-out
    that expanded every corpus key by every group pair). The merged
    bottom-k of two group sketches IS the bottom-k of the true union
    (bottom-k(A∪B) ⊆ sketch(A) ∪ sketch(B)), and a merged-sample key
    that belongs to group B is necessarily in sketch(B) (its hash is
    among the union's k smallest, hence among B's k smallest) — so the
    output is bit-identical to sampling the union directly and the
    DuckDB oracle is unchanged. The exact-Jaccard audit column runs as
    a sparse key self-join (the intersection multiset itself — the
    information floor for an exact answer) instead of riding the dense
    fan-out.
    """
    du = events.select(group_col, key_col).distinct()
    return kmv_overlap_on_distinct(
        du, group_col=group_col, key_col=key_col, k=k, salt=salt
    )


def kmv_distinct_pairs(
    events: DataFrame,
    *,
    group_col: str = "event_type",
    key_col: str = "user_id",
) -> DataFrame:
    """The state behind :func:`kmv_pair_overlap`: the distinct
    (group, key) membership pairs — expressed as a count aggregate so
    the identical plan runs as a streaming aggregate in complete mode
    (set union is the count monoid's support; the count itself is
    discarded on read)."""
    return (
        events.groupBy(group_col, key_col)
        .agg(F.count(F.lit(1)).alias("_n"))
        .drop("_n")
    )


def kmv_overlap_on_distinct(
    du: DataFrame,
    *,
    group_col: str = "event_type",
    key_col: str = "user_id",
    k: int = 256,
    salt: str = "kmv",
) -> DataFrame:
    """Merge-on-read finisher over an already-built (possibly stream-
    maintained) distinct (group, key) frame; see
    :func:`kmv_pair_overlap` for the estimator contract."""
    h = _h60(f"{salt}:", F.col(key_col))
    # per-group bottom-k sketch: ONE window over the distinct frame,
    # G*k rows out — everything pairwise happens on this, not the corpus
    gwin = Window.partitionBy(group_col).orderBy(
        F.col("h").asc(), F.col(key_col).asc()
    )
    sketch = (
        du.select(group_col, key_col)
        .withColumn("h", h)
        .withColumn("_grk", F.row_number().over(gwin))
        .filter(F.col("_grk") <= k)
        .drop("_grk")
    )
    groups = du.select(group_col).distinct()
    pairs = (
        groups.alias("l")
        .crossJoin(groups.alias("r"))
        .filter(F.expr(f"l.{group_col} < r.{group_col}"))
        .select(
            F.col(f"l.{group_col}").alias("ga"),
            F.col(f"r.{group_col}").alias("gb"),
        )
    )
    # pair-stage input: sketch (G*k rows) equi-joined twice against the
    # broadcast pair frame — at most k*G^2 rows, independent of |keys|
    t_a = sketch.join(F.broadcast(pairs), F.col(group_col) == F.col("ga"))
    t_b = sketch.join(F.broadcast(pairs), F.col(group_col) == F.col("gb"))
    tagged = t_a.unionByName(t_b).select("ga", "gb", key_col, "h")
    # ONE window + ONE aggregate, both on (ga, gb): a key present in
    # both sketches contributes two rows with the IDENTICAL (h, key),
    # so dense_rank gives both rows the same rank — dr <= k selects
    # exactly the merged bottom-k distinct keys, countDistinct(key) is
    # the sample size, and count(*) - countDistinct(key) counts the
    # duplicated keys = keys in BOTH groups (a merged-sample key in
    # group B is necessarily in sketch B, see docstring). The aggregate
    # reuses the window's partitioning — no extra exchange.
    win = Window.partitionBy("ga", "gb").orderBy(
        F.col("h").asc(), F.col(key_col).asc()
    )
    sample = tagged.withColumn("dr", F.dense_rank().over(win)).filter(
        F.col("dr") <= k
    )
    est = sample.groupBy("ga", "gb").agg(
        F.countDistinct(key_col).alias("n_sample"),
        (F.count(F.lit(1)) - F.countDistinct(key_col)).alias("n_both"),
    )
    # exact audit: sparse — only ACTUAL co-memberships materialize
    sizes = du.groupBy(group_col).agg(F.count(F.lit(1)).alias("n"))
    inter = (
        du.select(F.col(group_col).alias("ga"), F.col(key_col).alias("_k"))
        .join(
            du.select(F.col(group_col).alias("gb"), F.col(key_col).alias("_k")),
            "_k",
        )
        .filter(F.col("ga") < F.col("gb"))
        .groupBy("ga", "gb")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    exact = (
        pairs.join(
            F.broadcast(sizes.select(F.col(group_col).alias("ga"), F.col("n").alias("na"))),
            "ga",
        )
        .join(
            F.broadcast(sizes.select(F.col(group_col).alias("gb"), F.col("n").alias("nb"))),
            "gb",
        )
        .join(inter, ["ga", "gb"], "left")
        .select(
            "ga",
            "gb",
            F.coalesce("n_inter", F.lit(0)).alias("n_inter"),
            (F.col("na") + F.col("nb") - F.coalesce("n_inter", F.lit(0))).alias(
                "n_union"
            ),
        )
    )
    return (
        est.join(exact, ["ga", "gb"])
        .select(
            "ga",
            "gb",
            "n_sample",
            F.round(
                F.col("n_both").cast("double") / F.col("n_sample").cast("double"), 6
            ).alias("est_jaccard"),
            F.round(
                F.col("n_inter").cast("double") / F.col("n_union").cast("double"), 6
            ).alias("exact_jaccard"),
        )
        .orderBy("ga", "gb")
    )


def equidepth_histogram(
    events: DataFrame,
    *,
    group_col: str = "event_type",
    value_col: str = "value",
    n_buckets: int = 8,
) -> DataFrame:
    """Equi-depth (equi-height) histogram per group — the planner/
    monitoring structure optimizers build from exactly this two-pass
    shape: bucket b holds the rows ranked in ((b*n) div B, ((b+1)*n)
    div B], so counts differ by at most 1 and the per-bucket value
    envelope IS the quantile boundary set.

    Bucket assignment is the integer formula ((rn-1) * B) div n — no
    float quantile lookup, so the histogram is hash-exact across
    engines. Equal values straddling a boundary are interchangeable:
    the per-bucket count, min and max are deterministic even though the
    tie order is not.

    Scale: one count aggregate + one ranked window (range-partitioned
    sort per group) + one bounded groupBy — same envelope as
    :func:`exact_quantiles`.
    """
    counts = events.groupBy(group_col).agg(F.count(F.lit(1)).alias("n"))
    win = Window.partitionBy(group_col).orderBy(F.col(value_col).asc())
    ranked = (
        events.select(group_col, F.col(value_col).alias("value"))
        .withColumn("rn", F.row_number().over(win).cast("bigint"))
        .join(F.broadcast(counts), group_col)
        .withColumn("bucket", F.expr(f"((rn - 1) * {n_buckets}) div n"))
    )
    return (
        ranked.groupBy(group_col, "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
        .orderBy(group_col, "bucket")
    )


def winsorized_stats(
    events: DataFrame,
    *,
    group_col: str = "event_type",
    value_col: str = "value",
    lo_q: float = 0.05,
    hi_q: float = 0.95,
) -> DataFrame:
    """Winsorized (clipped) robust statistics per group: clamp values
    at the exact lo/hi quantiles, then aggregate — the outlier-tolerant
    mean a monitoring pipeline wants when a single poisoned value
    would otherwise swing the average.

    The clip bounds come from the same ceil(q*n) rank selection as
    :func:`exact_quantiles`; the clipped sum is an e4 scaled-int sum
    (round each clamped value to 4 dp, cast, sum BIGINTs), so nothing
    float-reassociates — the repo's standard sum-determinism contract.
    """
    counts = events.groupBy(group_col).agg(F.count(F.lit(1)).alias("n"))
    win = Window.partitionBy(group_col).orderBy(F.col(value_col).asc())
    ranked = (
        events.select(group_col, F.col(value_col).alias("value"))
        .withColumn("rn", F.row_number().over(win).cast("bigint"))
        .join(F.broadcast(counts), group_col)
    )
    bounds = (
        ranked.filter(
            (F.col("rn") == F.expr(f"cast(ceil({lo_q!r} * n) as bigint)"))
            | (F.col("rn") == F.expr(f"cast(ceil({hi_q!r} * n) as bigint)"))
        )
        .groupBy(group_col)
        .agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    )
    clipped = ranked.join(F.broadcast(bounds), group_col).select(
        group_col,
        "lo",
        "hi",
        F.greatest(F.col("lo"), F.least(F.col("hi"), F.col("value"))).alias("cv"),
    )
    return (
        clipped.groupBy(group_col, "lo", "hi")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.round(F.col("cv") * 10000).cast("bigint")).alias(
                "sum_clipped_e4"
            ),
        )
        .orderBy(group_col)
    )


def moment_partials(
    events: DataFrame,
    *,
    group_col: str = "event_type",
    value_col: str = "value",
    max_abs_value: float = 3.1e5,
) -> DataFrame:
    """Raw power sums per group — the single-pass distributed state for
    mean/variance/skewness/kurtosis. SUM/COUNT are algebraic, so the
    identical expression is a streaming aggregate in complete mode and
    partials from any partitioning merge losslessly (the same monoid
    contract as :func:`hll_registers` / :func:`cms_cells`).

    Exactness: the fixture's value column carries <= 4 decimals, so
    v = round(value*1e4) is a lossless integer and the power sums are
    EXACT decimal(38,0) integers (v^4 <= ~1e27 per row; DuckDB mirrors
    with HUGEINT) — both engines then derive the float moments from
    identical integers, the _sum6 discipline extended to 4th powers.

    Operator-level exactness bound (not just the fixture's property):
    each row's v^4 = (round(value*1e4))^4 must itself fit
    decimal(38,0), i.e. |value| <= ~3.16e5 — beyond that, non-ANSI
    decimal multiplication yields NULL and the s4 sum silently drops
    rows. A per-row guard RAISES on |value| > ``max_abs_value``
    (default just under the hard per-row bound) rather than returning
    garbled moments. The SUM additionally stays exact while
    n * (max|v|*1e4)^4 < 1e38 — at the fixture's |value| <= ~1e3 that
    is exact past 1e10 rows; callers with wider ranges should rescale
    or pass a tighter ``max_abs_value`` sized to their row count.
    """
    # NULL values are transparent to the guard (coalesce -> true): SUM
    # skips them exactly as the oracle's HUGEINT SUM does, and
    # assert_true(NULL) would otherwise RAISE (with a NULL message)
    # where both engines previously just excluded the row
    ok = F.coalesce(
        F.abs(F.col(value_col).cast("double"))
        <= F.lit(float(max_abs_value)),
        F.lit(True),
    )
    guard = F.assert_true(
        ok,
        F.concat(
            F.lit(
                "moment_partials: |value| exceeds the exact decimal(38,0)"
                " range (max_abs_value="
            ),
            F.lit(str(max_abs_value)),
            F.lit("): "),
            F.col(value_col).cast("string"),
        ),
    )
    v = F.round(F.col(value_col) * 10000).cast("decimal(38,0)")
    # assert_true is NULL whenever it does not raise; routing v through
    # the when() forces the per-row check into the same projection
    v = F.when(guard.isNull(), v)
    src = events.select(F.col(group_col).alias("grp"), v.alias("v"))
    v2 = (F.col("v") * F.col("v")).alias("v2")
    src = src.select("grp", "v", v2)
    return src.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("s1"),
        F.sum("v2").alias("s2"),
        F.sum(F.col("v2") * F.col("v")).alias("s3"),
        F.sum(F.col("v2") * F.col("v2")).alias("s4"),
    )


def moment_stats_on_partials(partials: DataFrame, *, group_col: str = "event_type") -> DataFrame:
    """Finalize (n, s1..s4) into population mean/variance/skewness/
    kurtosis. Skew and kurtosis are scale-invariant, so the e4 scaling
    cancels; mean and variance are descaled. Expression structure is
    mirrored verbatim by the SQL oracle (m2*sqrt(m2) instead of
    pow(m2,1.5): sqrt is correctly rounded IEEE in both engines, pow's
    last ulp is library-dependent)."""
    n = F.col("n").cast("double")
    m = F.col("s1").cast("double") / n
    q2 = F.col("s2").cast("double") / n
    q3 = F.col("s3").cast("double") / n
    q4 = F.col("s4").cast("double") / n
    m2 = q2 - m * m
    m3 = q3 - 3 * m * q2 + 2 * m * m * m
    m4 = q4 - 4 * m * q3 + 6 * m * m * q2 - 3 * m * m * m * m
    return partials.select(
        F.col("grp").alias(group_col),
        "n",
        F.round(m / 10000.0, 6).alias("mean"),
        F.round(m2 / 100000000.0, 6).alias("variance"),
        F.when(m2 > 0, F.round(m3 / (m2 * F.sqrt(m2)), 6)).alias("skewness"),
        F.when(m2 > 0, F.round(m4 / (m2 * m2), 6)).alias("kurtosis"),
    )


def moment_stats(
    events: DataFrame,
    *,
    group_col: str = "event_type",
    value_col: str = "value",
) -> DataFrame:
    """Per-group higher moments in ONE pass (one hash aggregate with
    map-side partial combine — at 100 TB this is a scan plus a single
    exchange keyed on the group): distribution-shape monitoring
    (drifting skew/kurtosis) without a second variance pass."""
    return moment_stats_on_partials(
        moment_partials(events, group_col=group_col, value_col=value_col),
        group_col=group_col,
    )
