"""Text-analysis operators for training-data pipelines: token counting,
quality scoring, language ID, document fingerprinting.

All formulas are pinned, engine-portable expressions (no UDFs): every
operator runs fully inside whole-stage codegen and has a DuckDB oracle
builder in oracle.py. At 100 TB each of these is a single narrow
projection over the documents scan — no shuffle at all.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text import char_ngrams, estimate_llm_tokens, tokens
from .dedup import ensure_parallelism
from .graph import _checkpoint

# Marker stopwords per language: deliberately small, pinned lists (the
# language-ID heuristic is n-gram/marker based, not a trained model).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "is", "in", "that", "it", "for"),
    "es": ("el", "la", "de", "que", "y", "los", "las", "un", "una", "es"),
    "fr": ("le", "la", "les", "de", "et", "un", "une", "est", "que", "pour"),
    "de": ("der", "die", "das", "und", "ist", "ein", "eine", "zu", "den", "von"),
}

EN_STOPWORDS = LANG_MARKERS["en"] + ("was", "on", "with", "as", "at", "by")


def token_stats(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_chars, n_tokens, n_unique_tokens, avg_token_len,
    est_llm_tokens) — est_llm_tokens is the reference's len/4 heuristic
    (internal/indexer/chunker.go:330-333)."""
    toks = tokens(F.col(text_col))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.length(F.col(text_col)).alias("n_chars"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_unique_tokens"),
        F.round(
            F.aggregate(
                toks, F.lit(0.0), lambda acc, t: acc + F.length(t)
            )
            / F.greatest(F.size(toks), F.lit(1)),
            6,
        ).alias("avg_token_len"),
        estimate_llm_tokens(F.col(text_col)).alias("est_llm_tokens"),
    )


def _ratio(part: Column, whole: Column) -> Column:
    return part.cast("double") / F.greatest(whole, F.lit(1)).cast("double")


def quality_scores(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, stopword_ratio, alpha_ratio, unique_ratio, quality).

    quality = 0.4*stopword_ratio + 0.3*alpha_ratio + 0.3*unique_ratio,
    a pinned heuristic: prose-like text has stopwords, mostly letters,
    and non-degenerate vocabulary. Deterministic double math both engines.
    """
    text = F.col(text_col)
    toks = tokens(text)
    stop_hits = F.size(F.filter(toks, lambda t: t.isin(*EN_STOPWORDS)))
    alpha_chars = F.length(F.regexp_replace(F.lower(text), "[^a-z]", ""))
    stopword_ratio = _ratio(stop_hits, F.size(toks))
    alpha_ratio = _ratio(alpha_chars, F.length(text))
    unique_ratio = _ratio(F.size(F.array_distinct(toks)), F.size(toks))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.round(stopword_ratio, 6).alias("stopword_ratio"),
        F.round(alpha_ratio, 6).alias("alpha_ratio"),
        F.round(unique_ratio, 6).alias("unique_ratio"),
        F.round(
            0.4 * stopword_ratio + 0.3 * alpha_ratio + 0.3 * unique_ratio, 6
        ).alias("quality"),
    )


def gopher_repetition(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher's duplicate-LINE / duplicate-PARAGRAPH repetition signals
    (Rae et al. 2021 Appendix A1.1) — the structural complement to
    :func:`repetition_stats`' token/bigram metrics.

    A unit occurring k times contributes k-1 duplicate occurrences and
    (k-1)*len(unit) duplicate characters (the standard formulation in
    published reimplementations). Lines split on newline, paragraphs on
    blank-line runs; empty units are dropped; fractions are over
    non-empty unit counts / their total characters.

    Scale notes: zero shuffle — per-row collection folds like
    char_entropy; cost O(distinct_units × n_units) per document, small
    for natural text. At petabyte scale with pathological unit counts,
    the explode → count → join formulation of repetition_stats is the
    fallback; the zero-shuffle form wins while units-per-doc stays in
    the hundreds.
    """

    def unit_stats(units: Column, prefix: str) -> list[Column]:
        n = F.size(units)
        dist = F.array_distinct(units)
        n_dup = n - F.size(dist)
        total_chars = F.aggregate(
            units, F.lit(0), lambda acc, u: acc + F.length(u)
        )
        dup_chars = F.aggregate(
            dist,
            F.lit(0),
            lambda acc, d: acc
            + (F.size(F.filter(units, lambda u: u == d)) - 1) * F.length(d),
        )
        denom_n = F.greatest(n, F.lit(1)).cast("double")
        denom_c = F.greatest(total_chars, F.lit(1)).cast("double")
        return [
            n.cast("long").alias(f"n_{prefix}s"),
            F.round(n_dup / denom_n, 6).alias(f"dup_{prefix}_frac"),
            F.round(dup_chars / denom_c, 6).alias(f"dup_{prefix}_char_frac"),
        ]

    text = F.col(text_col)
    lines = F.filter(F.split(text, "\n"), lambda u: u != F.lit(""))
    paras = F.filter(
        F.transform(F.split(text, "\n{2,}"), F.trim),
        lambda u: u != F.lit(""),
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        *unit_stats(lines, "line"),
        *unit_stats(paras, "para"),
    )


GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_rules(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_line_ratio: float = 0.9,
    max_ellipsis_line_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_stop_hits: int = 2,
) -> DataFrame:
    """The Gopher quality-filter rules (Rae et al. 2021, "Scaling
    Language Models", Appendix A) as one narrow projection — per-doc
    rule features plus the combined ``keep`` verdict. Defaults are the
    paper's published thresholds.

    Words are whitespace-split (the paper's unit); lines split on
    newline with ratios over ALL lines. Symbol ratios count ``#`` and
    ellipsis (``...`` non-overlapping left-to-right, plus ``…``) per
    word. ``n_stop_hits`` counts how many DISTINCT members of the
    paper's 8-word required-stopword list occur.

    Scale notes: pure collection expressions over the documents scan —
    zero shuffle, whole-stage codegen, no UDF; per-row cost linear in
    document length. At 100 TB this runs at scan bandwidth and composes
    with `corpus` filters as a pushed-down predicate on ``keep``.
    """
    text = F.col(text_col)
    words = F.filter(F.split(text, r"\s+"), lambda w: w != F.lit(""))
    n_words = F.size(words)
    wdenom = F.greatest(n_words, F.lit(1)).cast("double")
    mean_word_len = (
        F.aggregate(words, F.lit(0.0), lambda acc, w: acc + F.length(w))
        / wdenom
    )
    n_hash = F.length(text) - F.length(F.regexp_replace(text, "#", ""))
    n_ellipsis = (
        (F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit(""))))
        / F.lit(3)
        + F.length(text)
        - F.length(F.regexp_replace(text, "…", ""))
    )
    lines = F.split(text, "\n")
    ldenom = F.greatest(F.size(lines), F.lit(1)).cast("double")
    n_bullet = F.size(
        F.filter(
            lines,
            lambda line: F.substring(F.ltrim(line), 1, 1).isin("•", "-", "*"),
        )
    )
    n_ell_end = F.size(
        F.filter(
            lines,
            lambda line: F.rtrim(line).endswith("...")
            | F.rtrim(line).endswith("…"),
        )
    )
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    words_lower = F.transform(words, F.lower)
    n_stops = sum(
        F.array_contains(words_lower, s).cast("int") for s in GOPHER_STOPS
    )

    hash_ratio = n_hash / wdenom
    ellipsis_ratio = n_ellipsis / wdenom
    bullet_line_ratio = n_bullet / ldenom
    ellipsis_line_ratio = n_ell_end / ldenom
    alpha_word_ratio = n_alpha / wdenom
    keep = (
        (n_words >= min_words)
        & (n_words <= max_words)
        & (mean_word_len >= min_mean_word_len)
        & (mean_word_len <= max_mean_word_len)
        & (hash_ratio <= max_symbol_ratio)
        & (ellipsis_ratio <= max_symbol_ratio)
        & (bullet_line_ratio <= max_bullet_line_ratio)
        & (ellipsis_line_ratio <= max_ellipsis_line_ratio)
        & (alpha_word_ratio >= min_alpha_word_ratio)
        & (n_stops >= min_stop_hits)
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_words.cast("long").alias("n_words"),
        F.round(mean_word_len, 6).alias("mean_word_len"),
        F.round(hash_ratio, 6).alias("hash_ratio"),
        F.round(ellipsis_ratio, 6).alias("ellipsis_ratio"),
        F.round(bullet_line_ratio, 6).alias("bullet_line_ratio"),
        F.round(ellipsis_line_ratio, 6).alias("ellipsis_line_ratio"),
        F.round(alpha_word_ratio, 6).alias("alpha_word_ratio"),
        n_stops.cast("long").alias("n_stop_hits"),
        keep.alias("keep"),
    )


def char_entropy(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, n_chars, n_distinct_chars, char_entropy): Shannon entropy
    of the character distribution in bits — the machine-generated /
    low-diversity text signal (near-zero for repeated-char spam, ~4.2
    for English prose; a standard quality-filter feature alongside the
    Gopher/C4 rules).

    Scale notes: zero shuffle — everything is per-row collection
    expressions (split → array_distinct → per-char counts via a
    transform+filter HOF, entropy via one aggregate fold), so it runs at
    scan bandwidth in codegen like token_stats. Per-row cost is
    O(distinct_chars × n_chars); on natural text distinct chars is a
    small constant.
    """
    text = F.col(text_col)
    chars = F.filter(F.split(text, ""), lambda c: c != "")
    n = F.size(chars)
    dist = F.array_distinct(chars)
    probs = F.transform(
        dist,
        lambda c: F.size(F.filter(chars, lambda x: x == c)).cast("double")
        / n.cast("double"),
    )
    ent = -F.aggregate(
        probs, F.lit(0.0), lambda acc, p: acc + p * F.log2(p)
    )
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n.cast("long").alias("n_chars"),
        F.size(dist).cast("long").alias("n_distinct_chars"),
        F.round(F.when(n > 0, ent).otherwise(F.lit(0.0)), 6).alias("char_entropy"),
    )


def language_id(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, lang_pred, lang_hits): marker-word vote; argmax with
    alphabetical tie-break; 'und' when no marker hits."""
    toks = tokens(F.col(text_col))
    hit_cols = [
        F.size(F.filter(toks, lambda t: t.isin(*markers))).alias(f"_{lang}")
        for lang, markers in sorted(LANG_MARKERS.items())
    ]
    with_hits = docs.select(F.col(id_col).alias("doc_id"), *hit_cols)
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"_{l}") for l in langs])
    pred = F.lit("und")
    # alphabetical tie-break: first lang reaching the max wins
    for lang in reversed(langs):
        pred = F.when(
            (best > 0) & (F.col(f"_{lang}") == best), F.lit(lang)
        ).otherwise(pred)
    return with_hits.select(
        "doc_id", pred.alias("lang_pred"), best.alias("lang_hits")
    )


def repetition_stats(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition signals per document (Rae et al. 2021,
    "Scaling Language Models", Appendix A1.1: repetitious documents are
    low-quality training data).

    (doc_id, n_tokens, n_dup_tokens, top_bigram_count, dup_token_frac_e4,
    top_bigram_frac_e4) — fractions as floor(1e4*x) ints so the contract
    hash is precision-proof.

    Scale: token-level metrics are collection expressions over one row
    (no shuffle). The top-bigram multiplicity is explode → two hash
    aggregates keyed on doc_id — all whole-stage codegen, with map-side
    partial aggregation so the shuffle carries (doc, bigram, count)
    partials, not raw tokens. (A zero-shuffle array_sort+aggregate fold
    computes the same number but HOF folds never enter codegen and
    measure ~20× slower per row; at petabyte scale, hash the bigram to
    xxhash64 before the shuffle to move 8-byte keys instead of strings.)
    """
    toks = tokens(F.col(text_col))
    n_tok = F.size(toks)
    # zip_with over two slices, NOT transform+element_at: element_at(toks, i)
    # inlines the whole tokenizer expression into the lambda body, which
    # interpreted HOF evaluation re-runs PER ELEMENT — an O(n²-regex-splits)
    # blowup. zip_with's lambda touches only its own arguments, so the
    # tokenizer runs O(1) times per row.
    n_bg = F.greatest(n_tok - 1, F.lit(0))
    bigrams = F.zip_with(
        F.slice(toks, 1, n_bg),
        F.slice(toks, 2, n_bg),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    base = docs.select(
        F.col(id_col).alias("doc_id"),
        n_tok.alias("n_tokens"),
        (n_tok - F.size(F.array_distinct(toks))).alias("n_dup_tokens"),
        bigrams.alias("_bgs"),
    )
    tops = (
        base.select("doc_id", F.explode("_bgs").alias("_g"))
        .groupBy("doc_id", "_g")
        .count()
        .groupBy("doc_id")
        .agg(F.max("count").alias("_top"))
    )
    top = F.coalesce(F.col("_top"), F.lit(0))
    return (
        base.join(tops, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "n_dup_tokens",
            top.cast("bigint").alias("top_bigram_count"),
            F.floor(
                F.lit(10_000) * F.col("n_dup_tokens")
                / F.greatest(F.col("n_tokens"), F.lit(1))
            )
            .cast("bigint")
            .alias("dup_token_frac_e4"),
            F.floor(
                F.lit(10_000) * top / F.greatest(F.size("_bgs"), F.lit(1))
            )
            .cast("bigint")
            .alias("top_bigram_frac_e4"),
        )
    )


# PII patterns: applied IN ORDER (SSN before phone — both are digit runs
# with dashes; email before IP so user@10.0.0.1-style hosts redact as one
# email). Each regex parses identically in Java regex (Spark) and RE2
# (DuckDB): character classes, bounded repetition, and \b only.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}-\d{3}-\d{4}\b", "<PHONE>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
)


def redact_pii(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Redact emails / SSNs / phone numbers / IPv4s; count each kind.

    (doc_id, n_email, n_ssn, n_phone, n_ip, redacted) — counts are taken
    against the text as it stands when that pattern is applied (pattern
    order is part of the contract), so overlapping matches are never
    double-counted.

    Scale: a chain of regexp_count/regexp_replace over one column —
    narrow, zero-shuffle, whole-stage codegen; the standard first pass of
    any web-scale training-data scrub.
    """
    text = F.col(text_col)
    counts = []
    for name, pat, repl in PII_PATTERNS:
        counts.append(
            F.size(F.regexp_extract_all(text, F.lit(pat), F.lit(0))).alias(
                f"n_{name}"
            )
        )
        text = F.regexp_replace(text, pat, repl)
    return docs.select(
        F.col(id_col).alias("doc_id"), *counts, text.alias("redacted")
    )


def _bigram_frame(
    docs: DataFrame, *, id_col: str, text_col: str
) -> DataFrame:
    """(doc_id, w1, w2) — one row per adjacent token pair. Same zip_with
    slicing as repetition_stats (see the O(n²) note there)."""
    toks = tokens(F.col(text_col))
    n_bg = F.greatest(F.size(toks) - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice(toks, 1, n_bg),
        F.slice(toks, 2, n_bg),
        lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
    )
    # CPU-bound tokenize+pair projection: fan out an under-split local
    # scan first (no-op on well-partitioned scans; the output feeds a
    # shuffle anyway, so the extra exchange is marginal)
    return ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"), F.explode(pairs).alias("_p")
    ).select("doc_id", "_p.w1", "_p.w2")


def bigram_lm_score(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score every document under a bigram language model trained on the
    corpus itself — the classic perplexity-style quality filter (CCNet /
    Wenzek et al. 2020 use a KenLM for this; a self-trained bigram model
    is the engine-portable, dependency-free form of the same signal).
    Low avg log-probability ⇒ text unlike the rest of the corpus
    (boilerplate, garbled encodings, word salad).

    Model: add-one-smoothed bigram MLE.
      P(w2 | w1) = (c(w1,w2) + 1) / (c(w1,·) + V)
    with V = corpus vocabulary size. Output (doc_id, n_bigrams,
    avg_logprob) where avg_logprob = round(avg ln P, 6), 0.0 for docs
    with fewer than two tokens.

    Scale: bigram explode (held once, a lazy
    :func:`~project_cortex_spark.operators.graph._checkpoint` — it
    feeds the count aggregate AND the scoring join) → one hash
    aggregate for c(w1,w2) (map-side partials), a second over w1 for
    c(w1,·), V as a 1-row broadcast.
    The model is then FULLY assembled on the distinct-bigram table —
    ln P per (w1, w2) — before touching the doc bigrams again, so the
    occurrence-scale frame is shuffled ONCE for the scoring join and
    once for the doc aggregate instead of riding a second bigram-scale
    shuffle on w1 (guide §2.3: join the big side against the smallest
    possible prepared table; the per-pair ln P is the same double the
    per-occurrence expression produced, so the avg's addend multiset
    is unchanged). At 100 TB, df-cap the count tables (drop hapax
    bigrams) to shrink the join's build side by ~half with no visible
    score shift.
    """
    bg = _bigram_frame(docs, id_col=id_col, text_col=text_col)
    bg, _ = _checkpoint(bg, lazy=True)
    pair_counts = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    prefix_counts = pair_counts.groupBy("w1").agg(F.sum("c2").alias("c1"))
    vocab = (
        docs.select(F.explode(tokens(F.col(text_col))).alias("t"))
        .agg(F.countDistinct("t").alias("v"))
    )
    logp = (
        pair_counts.join(prefix_counts, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w1",
            "w2",
            F.log(
                (F.col("c2") + F.lit(1.0))
                / (F.col("c1") + F.col("v").cast("double"))
            ).alias("_lp"),
        )
    )
    scored = (
        bg.join(logp, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.round(F.avg("_lp"), 6).alias("avg_logprob"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
            F.coalesce("avg_logprob", F.lit(0.0)).alias("avg_logprob"),
        )
    )


def tfidf_top_terms(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Per-document top-``k`` keywords by TF-IDF (the per-doc complement
    of the corpus-level text_top_terms vocabulary view).

    score = tf * ln(1 + N/df)  (smooth idf, pinned), ties broken by term
    ascending. Output (doc_id, term, tf, score, rank).

    Scale: postings aggregate (map-side partials) → df aggregate (one row
    per distinct term) equi-joined back on term → per-doc window top-k
    partitioned on doc_id. The term join reuses the postings exchange;
    N is a 1-row broadcast; the window partitions on high-cardinality
    doc_id so no skew.
    """
    from pyspark.sql import Window

    toks = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    postings = toks.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfreq = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("term").asc()
    )
    return (
        postings.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.round(
                F.col("tf")
                * F.log(F.lit(1.0) + F.col("n") / F.col("df").cast("double")),
                6,
            ),
        )
        .withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "term", "tf", "score", "rank")
    )


# GPT-2-style pre-tokenization pattern (Radford et al. 2019 — the
# published regex, simplified to the RE2-compatible subset so Spark
# (java.util.regex) and DuckDB (RE2) parse it identically: no lookahead,
# no \s inside classes mixed with unicode properties). Pieces are
# contractions, space-prefixed letter runs, digit runs, punctuation
# runs, and whitespace runs; whitespace pieces are excluded from the
# count, matching how BPE vocabularies absorb the leading space.
BPE_PIECE_RE = (
    r"'(?:s|t|re|ve|m|ll|d)"
    r"| ?\p{L}+"
    r"| ?\p{N}+"
    r"| ?[^ \p{L}\p{N}]+"
    r"| +"
)


def bpe_token_stats(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Pre-tokenizer piece counts: the sizing signal actual LLM training
    uses (a BPE vocab merges WITHIN these pieces, so the piece count is
    a tight lower bound on the real token count, where len/4 is only a
    calibration heuristic).

    (doc_id, n_bpe_pieces, est_llm_tokens, pieces_per_est_e4) — all
    exact integers. Scale: one regexp_extract_all projection, zero
    shuffle, codegen.
    """
    text = F.lower(F.col(text_col))
    pieces = F.regexp_extract_all(text, F.lit(BPE_PIECE_RE), F.lit(0))
    n_pieces = F.size(F.filter(pieces, lambda p: ~p.rlike(r"^ +$")))
    est = estimate_llm_tokens(F.col(text_col))
    return docs.select(
        F.col(id_col).alias("doc_id"),
        n_pieces.cast("bigint").alias("n_bpe_pieces"),
        est.alias("est_llm_tokens"),
        F.floor(
            F.lit(10_000) * n_pieces / F.greatest(est, F.lit(1))
        ).cast("bigint").alias("pieces_per_est_e4"),
    )


# C4-style line filters (Raffel et al. 2020 §2.2, "Colossal Clean
# Crawled Corpus"): pinned, engine-portable forms of the published
# rules. A line survives iff it ends in terminal punctuation, has >=
# MIN_LINE_WORDS words, and matches no blocklist phrase; a document
# survives iff >= MIN_KEPT_LINES lines survive. (The original also
# drops pages with "{" — kept here as a line rule so code-bearing docs
# lose the code lines, not the prose.)
C4_MIN_LINE_WORDS = 4
C4_MIN_KEPT_LINES = 2
C4_TERMINAL_RE = r'[.!?"]$'
C4_BLOCKLIST: tuple[str, ...] = ("javascript", "cookie", "lorem ipsum", "{")


def c4_clean(
    docs: DataFrame, *, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """C4-style heuristic cleaning: per-line keep/drop + document gate.

    Output (doc_id, n_lines, n_kept, kept, cleaned) — ``kept`` is the
    document-level verdict, ``cleaned`` the surviving lines re-joined
    (empty string when the document is dropped, so the column is
    non-null and hash-stable).

    Scale: pure line-level collection expressions over one column —
    zero shuffle, whole-stage codegen; this is the first pass of a
    web-corpus scrub and must run at scan bandwidth, which it does
    (same plan family as redact_pii).
    """
    lines = F.split(F.col(text_col), "\n")

    def line_ok(line: Column) -> Column:
        trimmed = F.trim(line)
        lower = F.lower(trimmed)
        n_words = F.size(F.filter(F.split(trimmed, " +"), lambda w: w != ""))
        ok = trimmed.rlike(C4_TERMINAL_RE) & (n_words >= C4_MIN_LINE_WORDS)
        for phrase in C4_BLOCKLIST:
            ok = ok & ~lower.contains(phrase)
        return ok

    kept_lines = F.filter(lines, line_ok)
    n_kept = F.size(kept_lines)
    kept = n_kept >= C4_MIN_KEPT_LINES
    return docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(lines).alias("n_lines"),
        n_kept.alias("n_kept"),
        kept.alias("kept"),
        F.when(kept, F.array_join(kept_lines, "\n"))
        .otherwise(F.lit(""))
        .alias("cleaned"),
    )


def fingerprints(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 8,
) -> DataFrame:
    """(doc_id, fingerprint): min-hash of character n-grams of the
    normalized text — a winnowing-style rolling fingerprint that is
    stable under small edits outside the minimal window."""
    norm = F.concat_ws(" ", tokens(F.col(text_col)))
    grams = char_ngrams(norm, ngram)
    fp = F.array_min(F.transform(grams, lambda g: F.md5(g)))
    return docs.select(F.col(id_col).alias("doc_id"), fp.alias("fingerprint"))


def source_divergence(
    docs: DataFrame,
    *,
    group_col: str = "source",
    text_col: str = "text",
    min_count: int = 2,
) -> DataFrame:
    """Per-source corpus drift: KL(source unigram distribution || whole-
    corpus distribution) — the "which slice no longer looks like the
    corpus" diagnostic behind mix rebalancing and contamination triage.
    Only terms the source actually contains contribute (p=0 terms add
    nothing); rare terms below ``min_count`` per source are dropped so
    a single typo cannot dominate a small slice.

    Determinism: p and q are exact integer ratios evaluated identically
    as doubles; each term's contribution p*ln(p/q) is rounded to a
    scaled BIGINT (e12) BEFORE summation, so the cross-source sum is an
    integer fold — the repo's standard defense against float
    reassociation (ln's last-ulp drift is ~1e-16 of a term, four orders
    below the e12 step).

    Scale: two postings aggregates (map-side combined: (source, term)
    and (term)), a broadcast of the per-source and corpus totals, one
    equi-join on term — no window, no all-pairs.
    """
    counts = source_term_counts(docs, group_col=group_col, text_col=text_col)
    return divergence_on_counts(counts, min_count=min_count)


def source_term_counts(
    docs: DataFrame,
    *,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """The state behind :func:`source_divergence`: unfiltered per-
    (source, term) token counts — a SUM monoid, so the identical
    expression is a streaming aggregate in complete mode and counts
    from any partitioning of the corpus merge losslessly (the property
    the streaming twin gates)."""
    toks = ensure_parallelism(docs).select(
        F.col(group_col).alias("src"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    return toks.groupBy("src", "term").agg(F.count(F.lit(1)).alias("c_st"))


def divergence_on_counts(counts: DataFrame, *, min_count: int = 2) -> DataFrame:
    """Merge-on-read finisher over an already-built (possibly stream-
    maintained) (src, term, c_st) count frame; see
    :func:`source_divergence` for the determinism contract."""
    src_counts = counts.filter(F.col("c_st") >= min_count)
    term_counts = counts.groupBy("term").agg(F.sum("c_st").alias("c_t"))
    src_totals = src_counts.groupBy("src").agg(F.sum("c_st").alias("n_s"))
    corpus_total = term_counts.agg(F.sum("c_t").alias("n"))
    contrib = (
        src_counts.join(term_counts, "term")
        .join(F.broadcast(src_totals), "src")
        .crossJoin(F.broadcast(corpus_total))
        .select(
            "src",
            F.expr(
                "cast(round((c_st / cast(n_s as double)) * "
                "ln((c_st / cast(n_s as double)) / (c_t / cast(n as double))) "
                "* 1e12) as bigint)"
            ).alias("kl_e12"),
        )
    )
    return (
        contrib.groupBy("src")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.sum("kl_e12").alias("kl_e12"),
        )
        .orderBy("src")
    )


def dsir_importance(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    target_col: str = "lang",
    target_value: str = "en",
    k: int = 25,
) -> DataFrame:
    """Data selection via importance resampling (DSIR, Xie et al. 2023),
    unigram instantiation: score every document by the log-likelihood
    ratio of a TARGET language model (trained on the slice matching
    ``target_col = target_value``) against the SOURCE model (the whole
    corpus) — the standard "find me more data that looks like my
    curated set" selector. Add-one smoothing over the shared corpus
    vocabulary keeps unseen-in-target terms finite.

    Determinism: each term's log-ratio is rounded to a scaled BIGINT
    (e9) once, then weighted by the integer term frequency and summed
    as integers — the same reassociation defense as source_divergence;
    p_T and p_S are exact-integer ratios evaluated identically from the
    same literals.

    Scale: one postings aggregate, two term-count aggregates joined on
    the term key, broadcast scalar totals, one per-doc sum — every
    stage map-side combinable, nothing pairwise. The top-k cut is
    TakeOrdered; production keeps the full scored corpus for the
    resampling step instead.
    """
    base = ensure_parallelism(docs).select(
        F.col(id_col).alias("doc_id"),
        (F.col(target_col) == target_value).cast("int").alias("is_target"),
        F.explode(tokens(F.col(text_col))).alias("term"),
    )
    postings = base.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    term_stats = base.groupBy("term").agg(
        F.count(F.lit(1)).alias("c_s"),
        F.sum("is_target").alias("c_t"),
    )
    totals = term_stats.agg(
        F.sum("c_s").alias("n_s"),
        F.sum("c_t").alias("n_t"),
        F.count(F.lit(1)).alias("v"),
    )
    llr = term_stats.crossJoin(F.broadcast(totals)).select(
        "term",
        F.expr(
            "cast(round(ln(((c_t + 1) / cast(n_t + v as double)) / "
            "((c_s + 1) / cast(n_s + v as double))) * 1e9) as bigint)"
        ).alias("llr_e9"),
    )
    scored = (
        postings.join(llr, "term")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("tf") * F.col("llr_e9")).alias("importance_e9"),
            F.sum("tf").alias("n_tokens"),
        )
    )
    return scored.orderBy(
        F.col("importance_e9").desc(), F.col("doc_id").asc()
    ).limit(k)
