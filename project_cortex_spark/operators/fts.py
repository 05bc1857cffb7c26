"""Full-text search: inverted index, BM25 ranking, FTS5-style query
strings, snippet highlighting (``cortex_exact`` parity).

Reference pipeline (/root/reference/internal/mcp/exact_sqlite.go:43-162):
FTS5 MATCH on files_fts -> join files -> language/path filters -> ORDER BY
bm25 rank -> snippet highlights -> score = -rank. Query syntax: implicit
AND, OR, NOT, "phrase", prefix* , grouping (CLAUDE.md:196-209).

Spark-first design:
  * The "index" is a derived postings DataFrame (term, doc_id, tf) plus
    doc-length stats — recomputed incrementally from changed docs rather
    than trigger-synced (schema.go:378-422). At 100 TB the postings table
    is partitioned by term-hash; a query touches only its terms'
    partitions (partition pruning on an equi-filter), and the per-term
    scoring aggregates shuffle on doc_id with map-side partials.
  * BM25 formula is pinned (k1=1.2, b=0.75, Lucene-style non-negative
    idf = ln(1 + (N - df + .5)/(df + .5))) because FTS5's exact rank
    constant differs; ordering — not absolute scores — is the parity
    contract (SURVEY §7 "genuinely hard" (b)).
  * Boolean structure compiles to ONE postings aggregate: every leaf
    (term, prefix, phrase word) gets a bit, one filtered scan
    ``groupBy(doc_id)`` sums the BM25 contributions of the positive
    leaves and ORs the leaf bits into per-doc masks, and AND / OR / NOT
    become a predicate over the masks (phrases add their adjacency
    regex, evaluated in the payload join). The request is built as SQL
    text (functions/sql.py), so its Py4J cost does not grow with the
    query.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.sql import ident, literal
from ..functions.text import SEP_PY, SEP_RE, tokens
from ..session import local_frame

K1 = 1.2
B = 0.75


# ---------------------------------------------------------------------------
# index build
# ---------------------------------------------------------------------------


@dataclass
class FtsIndex:
    """Derived index DataFrames (the Spark analogue of files_fts).

    Corpus stats (``n_docs``/``avg_dl``) are LAZY: nothing runs a Spark
    job at index-construction time. They resolve on first access — once
    per index, memoized — or can be supplied up front (a persisted index
    at scale stores them as table properties alongside the postings).
    """

    postings: DataFrame  # term, doc_id, tf
    doc_stats: DataFrame  # doc_id, dl (token count)
    docs: DataFrame  # original doc frame (payload joins)
    id_col: str
    text_col: str
    _n_docs: int | None = None
    _avg_dl: float | None = None
    # (term, df) — stored indexes carry it (FTS5 keeps df in its own
    # table); None on a freshly built index, where scorers derive df
    # from postings
    term_df: DataFrame | None = None

    def _resolve_stats(self) -> None:
        stats = self.doc_stats.agg(
            F.count(F.lit(1)).alias("n"), F.avg("dl").alias("avg_dl")
        ).first()
        self._n_docs = int(stats["n"])
        self._avg_dl = float(stats["avg_dl"])

    @property
    def n_docs(self) -> int:
        if self._n_docs is None:
            self._resolve_stats()
        return self._n_docs

    @property
    def avg_dl(self) -> float:
        if self._avg_dl is None:
            self._resolve_stats()
        return self._avg_dl


def build_fts_index(
    docs: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n_docs: int | None = None,
    avg_dl: float | None = None,
) -> FtsIndex:
    """Tokenize + aggregate postings. One shuffle (groupBy term, doc_id);
    tf computed map-side by exploding pre-counted token arrays.

    Deliberately NOT ``.cache()``d: a query filters postings on its few
    terms, and Catalyst pushes that filter below the shuffle — the
    repeated subplan is then deduped by ReuseExchange, so every consumer
    reads the tiny filtered shuffle output. A cached full posting list
    would force each consumer to scan all of it instead (measured ~2x
    slower per query). The persistent-index analogue of files_fts at
    100 TB is a posting table bucketed/sorted by term — file-skipping
    does the term filter — not an executor-memory cache."""
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(F.col(text_col))).alias("term")
    )
    postings = toks.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    doc_stats = docs.select(
        F.col(id_col).alias("doc_id"), F.size(tokens(F.col(text_col))).alias("dl")
    )
    return FtsIndex(
        postings=postings,
        doc_stats=doc_stats,
        docs=docs,
        id_col=id_col,
        text_col=text_col,
        _n_docs=n_docs,
        _avg_dl=avg_dl,
    )


# ---------------------------------------------------------------------------
# FTS5 query-string parser (CLAUDE.md:196-209 syntax)
# ---------------------------------------------------------------------------


@dataclass
class Term:
    text: str
    prefix: bool = False


@dataclass
class Phrase:
    terms: list[str]


@dataclass
class And:
    left: "Node"
    right: "Node"


@dataclass
class Or:
    left: "Node"
    right: "Node"


@dataclass
class Not:
    left: "Node"
    right: "Node"  # FTS5 NOT is binary: a NOT b = a minus b


Node = object

_TOKEN_RE = re.compile(
    r"""\s*(?:(?P<lparen>\()|(?P<rparen>\))|(?P<phrase>"[^"]*")|(?P<word>[^\s()"]+))"""
)


class FtsQueryError(ValueError):
    pass


def parse_fts_query(q: str) -> Node:
    """Recursive descent over: OR < (implicit AND / NOT) < unary.

    FTS5 precedence: NOT > AND > OR, all left-associative; implicit
    adjacency is AND. Prefix queries are ``tok*``; phrases are quoted.
    """
    toks: list[str] = []
    pos = 0
    while pos < len(q):
        m = _TOKEN_RE.match(q, pos)
        if not m:
            # nothing lexable at pos (e.g. an unterminated quote): FTS5
            # errors rather than silently truncating the query
            if q[pos:].strip():
                raise FtsQueryError(f"cannot lex {q[pos:]!r} in {q!r}")
            break
        pos = m.end()
        toks.append(m.group(0).strip())
    toks = [t for t in toks if t]

    i = 0

    def peek() -> str | None:
        return toks[i] if i < len(toks) else None

    def advance() -> str:
        nonlocal i
        t = toks[i]
        i += 1
        return t

    def parse_or() -> Node:
        node = parse_and()
        while peek() == "OR":
            advance()
            node = Or(node, parse_and())
        return node

    def parse_and() -> Node:
        node = parse_not()
        while peek() is not None and peek() not in (")", "OR"):
            if peek() == "AND":
                advance()
            node = And(node, parse_not())
        return node

    def parse_not() -> Node:
        node = parse_primary()
        while peek() == "NOT":
            advance()
            node = Not(node, parse_primary())
        return node

    def parse_primary() -> Node:
        t = peek()
        if t is None:
            raise FtsQueryError(f"unexpected end of query: {q!r}")
        if t in ("AND", "OR", "NOT"):
            # an operator where a term is required (leading/doubled
            # operator) is a syntax error in FTS5, not a literal term
            raise FtsQueryError(f"misplaced operator {t} in {q!r}")
        if t == "(":
            advance()
            node = parse_or()
            if peek() != ")":
                raise FtsQueryError(f"unbalanced parens in {q!r}")
            advance()
            return node
        advance()
        if t.startswith('"'):
            words = [w.lower() for w in re.split(SEP_PY, t.strip('"')) if w]
            if not words:
                raise FtsQueryError(f"empty phrase in {q!r}")
            if len(words) == 1:
                return Term(words[0])
            return Phrase(words)
        if t.endswith("*") and len(t) > 1:
            return Term(t[:-1].lower(), prefix=True)
        return Term(t.lower())

    node = parse_or()
    if peek() is not None:
        raise FtsQueryError(f"trailing tokens in {q!r}")
    return node


def query_terms(node: Node, *, positive_only: bool = True) -> list[Term | Phrase]:
    """Scoreable literals (FTS5 ranks positive terms; NOT's right side
    filters but doesn't score)."""
    out: list[Term | Phrase] = []

    def walk(n: Node, positive: bool):
        if isinstance(n, (And, Or)):
            walk(n.left, positive)
            walk(n.right, positive)
        elif isinstance(n, Not):
            walk(n.left, positive)
            walk(n.right, False)
        elif positive or not positive_only:
            out.append(n)

    walk(node, True)
    return out


# ---------------------------------------------------------------------------
# the compiler: boolean tree -> one postings aggregate + a mask predicate
# ---------------------------------------------------------------------------


def _phrase_regex(words: list[str]) -> str:
    """Separator-aware adjacency regex; anchors on non-token boundaries."""
    body = SEP_RE.join(re.escape(w) for w in words)
    return rf"(^|{SEP_RE}){body}($|{SEP_RE})"


def _bm25_sql(n_docs: int, avg_dl: float) -> str:
    """BM25 contribution of one posting row (columns ``tf``, ``dl``,
    ``df``) as SQL text. Both scorers use it; the tree is the one the
    Column form built, so scores are bit-identical to it."""
    idf = f"ln(1.0D + ({literal(float(n_docs))} - df + 0.5D) / (df + 0.5D))"
    return (
        f"{idf} * (tf * {literal(K1 + 1)}) / (tf + (dl * {literal(B)}"
        f" / {literal(float(avg_dl))} + {literal(1 - B)}) * {literal(K1)})"
    )


def _with_stats(index: FtsIndex, hits: DataFrame, terms: str) -> DataFrame:
    """``hits`` (posting rows) with their ``dl`` and ``df`` columns. A
    stored index carries both IN the posting row (no join at all); a
    stored index of the older generation reads df from its term_df table
    (one tiny filtered scan); a live index aggregates df from the
    postings matching ``terms`` and joins dl from doc_stats."""
    if "df" in index.postings.columns:
        dfreq = None
    elif index.term_df is not None:
        dfreq = index.term_df.filter(terms)
    else:
        dfreq = (
            index.postings.filter(terms)
            .groupBy("term")
            .agg(F.countDistinct("doc_id").alias("df"))
        )
    if "dl" not in hits.columns:
        hits = hits.join(index.doc_stats, "doc_id")
    if dfreq is not None:
        hits = hits.join(F.broadcast(dfreq), "term")
    return hits


def _any_leaf(leaves: list[tuple[bool, str]]) -> str:
    """The posting-row filter matching any of ``leaves`` ((prefix,
    text) pairs): the plain terms as one ``IN`` list, so it pushes into
    the scan as a literal set."""
    words = [literal(t) for prefix, t in leaves if not prefix]
    conds = [f"term IN ({', '.join(words)})"] if words else []
    conds += [f"startswith(term, {literal(t)})" for prefix, t in leaves if prefix]
    return " OR ".join(conds)


def _operands(node: Node, cls: type) -> list:
    """The left-to-right operands of a ``cls`` chain (And / Or)."""
    out, stack = [], [node]
    while stack:
        n = stack.pop()
        if isinstance(n, cls):
            stack += [n.right, n.left]
        else:
            out.append(n)
    return out


def _compile(node: Node, text_col: str) -> tuple[list, set, str]:
    """Compile a parsed query to ``(leaves, positive, predicate)``.

    Every distinct leaf condition on a posting row gets one bit: a plain
    term, a prefix, or a word of a phrase (a phrase word and the same
    plain term share it). ``leaves[i]`` is bit i's ``(prefix, text)``;
    ``positive`` holds the bits of the leaves outside every NOT's right
    side, which are the ones BM25 scores. ``predicate`` is the boolean
    tree as SQL over the per-doc masks ``_m0, _m1, …`` (63 bits each, so
    no query size is too large) and the doc text:

    - a term or prefix is its bit;
    - a phrase is all its word bits AND its separator-aware regex on
      ``lower(text)`` (adjacency needs positions, which postings lack);
    - AND / OR / NOT are the SQL operators, a NOT b = a AND NOT b.

    NOT is sound over the aggregate: the parser rejects a pure-NOT query,
    so every matching document hits a positive leaf and is in the scan.
    """
    slots: dict[tuple[bool, str], int] = {}
    positive: set[int] = set()

    def bit(leaf: tuple[bool, str], pos: bool) -> str:
        i = slots.setdefault(leaf, len(slots))
        if pos:
            positive.add(i)
        return f"(_m{i // 63} & {1 << (i % 63)}L) != 0"

    def pred(n: Node, pos: bool) -> str:
        if isinstance(n, Term):
            return bit((n.prefix, n.text), pos)
        if isinstance(n, Phrase):
            rx = f"lower({ident(text_col)}) RLIKE {literal(_phrase_regex(n.terms))}"
            return "(" + " AND ".join([bit((False, w), pos) for w in n.terms] + [rx]) + ")"
        if isinstance(n, (And, Or)):
            op = " AND " if isinstance(n, And) else " OR "
            return "(" + op.join(pred(c, pos) for c in _operands(n, type(n))) + ")"
        if isinstance(n, Not):
            return f"({pred(n.left, pos)} AND NOT {pred(n.right, False)})"
        raise FtsQueryError(f"bad node: {n!r}")

    predicate = pred(node, True)
    return list(slots), positive, predicate


def fts_search(
    index: FtsIndex,
    query: str,
    *,
    limit: int = 15,
    where: Column | None = None,
    payload_cols: list[str] | None = None,
    rank_digits: int | None = None,
) -> DataFrame:
    """Ranked boolean retrieval: parse -> compile -> ONE postings scan and
    ``groupBy(doc_id)`` -> join payload + mask predicate -> order by score
    desc, doc_id asc -> limit.

    The scan keeps the posting rows of every leaf (positive and
    negative); the aggregate sums the BM25 contributions of the positive
    rows and ORs each row's leaf bits into the doc's masks (see
    :func:`_compile`). Phrases score their member words individually
    (documented deviation from FTS5, which scores a phrase as one unit;
    ordering parity is the contract). Prefix terms score every matching
    vocabulary term; a posting row matching several leaves counts once.
    The whole request is built from SQL text, so it costs a few dozen
    Py4J round trips whatever the query size, and on a stored index it
    runs at most three jobs (the aggregate's shuffle, the payload side,
    the top-k).

    Column filters (language =, path LIKE in the reference,
    exact_sqlite.go:73-80) ride along as `where` and are pushed into the
    docs scan by Catalyst.

    ``rank_digits`` quantizes the score BEFORE the cut and the ordering
    (and in the returned column): documents whose true BM25 scores are
    exactly equal can reassociate to ±1 ulp differences that rank
    differently across engines/partitionings — rounding collapses such
    packs onto the deterministic doc_id tie-break. Rank-consumers
    (hybrid RRF fusion) set 9; plain search keeps the raw score.
    """
    leaves, positive, predicate = _compile(parse_fts_query(query), index.text_col)
    scan = _any_leaf(leaves)
    hits = _with_stats(index, index.postings.filter(scan), scan)
    # a matching doc always hits a positive leaf, so its sum is not NULL
    scoring = _any_leaf([leaves[i] for i in sorted(positive)])
    aggs = [
        F.expr(
            f"sum(CASE WHEN {scoring} THEN "
            f"{_bm25_sql(index.n_docs, index.avg_dl)} END) AS score"
        )
    ]
    for k in range(0, len(leaves), 63):
        bits = " | ".join(
            f"CASE WHEN {_any_leaf([leaf])} THEN {1 << j}L ELSE 0L END"
            for j, leaf in enumerate(leaves[k : k + 63])
        )
        aggs.append(F.expr(f"bit_or({bits}) AS _m{k // 63}"))
    docs = index.docs
    if where is not None:
        docs = docs.filter(where)
    score = "score" if rank_digits is None else f"round(score, {int(rank_digits)}) AS score"
    return (
        hits.groupBy("doc_id")
        .agg(*aggs)
        .join(docs.withColumnRenamed(index.id_col, "doc_id"), "doc_id")
        .filter(predicate)
        .selectExpr("doc_id", score, *(ident(c) for c in payload_cols or []))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(limit)
    )


def store_fts_index(index: FtsIndex, path: str) -> None:
    """Materialize the index to parquet — the persistent-index analogue
    of the reference's FTS5 table (maintained incrementally there,
    CLAUDE.md:1099): postings repartitioned by term so a query's term
    filter prunes at file level, doc_stats alongside, and the corpus
    stats as a one-row table (the 'table properties' slot). Queries
    against a stored index skip the tokenize+shuffle entirely — at
    100 TB the posting table is bucketed/sorted by term and this is the
    only query-path layout that scales.

    The four tables are one CONSISTENT generation: they are written
    under ``<path>__tmp`` and swapped in with the same two-rename +
    ``recover_store`` protocol as ``sources.layout.compact_store`` — a
    crash mid-store can never pair new postings with a stale df/stats
    table (which would silently skew every BM25 score). Single-writer
    assumption: don't store the same path from two jobs at once."""
    import os
    import shutil

    from ..sources.layout import recover_store

    spark = index.postings.sparkSession
    tmp, bak = path.rstrip("/") + "__tmp", path.rstrip("/") + "__bak"
    if os.path.exists(tmp):
        shutil.rmtree(tmp)
    # dl AND df are DENORMALIZED into the stored postings (two joins at
    # store time, +16 bytes/row): the batch scorer then needs neither a
    # doc_stats join nor a term_df broadcast at query time — broadcast-
    # joined query terms against one pruned posting scan is the WHOLE
    # read path, and every per-batch broadcast-build job disappears
    # a LOADED index already carries denormalized dl/df in its posting
    # rows — drop them before re-joining so a store→load→store
    # round-trip (compaction, re-layout) writes an equivalent store
    # instead of failing on duplicate columns
    base = index.postings.drop("dl", "df")
    term_df = base.groupBy("term").agg(
        F.countDistinct("doc_id").alias("df")
    )
    base.join(index.doc_stats, "doc_id").join(
        F.broadcast(term_df), "term"
    ).repartition("term").write.mode("overwrite").parquet(tmp + "/postings")
    index.doc_stats.write.mode("overwrite").parquet(tmp + "/doc_stats")
    # per-term document frequency, computed ONCE at store time (FTS5
    # keeps df in its vocab table): scorers on a stored index read this
    # tiny table instead of re-aggregating the postings per query batch
    term_df.write.mode("overwrite").parquet(tmp + "/term_df")
    local_frame(
        spark, [(index.n_docs, index.avg_dl)], "n long, avg_dl double"
    ).write.mode("overwrite").parquet(tmp + "/stats")
    recover_store(path)
    if os.path.exists(path):
        os.rename(path, bak)
    os.rename(tmp, path)
    if os.path.exists(bak):
        shutil.rmtree(bak)


def load_fts_index(
    spark, path: str, docs: DataFrame, *, id_col: str, text_col: str
) -> FtsIndex:
    """Open a stored index (see :func:`store_fts_index`); corpus stats
    load from the stored one-row table, so no job runs at open time.
    Heals a crashed store swap first (recover_store)."""
    from ..sources.layout import recover_store

    recover_store(path)
    stats = spark.read.parquet(path + "/stats").first()
    return FtsIndex(
        postings=spark.read.parquet(path + "/postings"),
        doc_stats=spark.read.parquet(path + "/doc_stats"),
        docs=docs,
        id_col=id_col,
        text_col=text_col,
        _n_docs=int(stats["n"]),
        _avg_dl=float(stats["avg_dl"]),
        term_df=spark.read.parquet(path + "/term_df"),
    )


def _batch_exchange_partitions(spark, n_pairs: int, n_docs: int) -> int:
    """Size the batch scorer's single exchange from the DATA, not the
    session default: candidate rows are bounded by n_pairs * n_docs
    (every (query term, doc) co-occurring), so target ~25k rows per
    partition for parallelism at small scale (measured monotone
    4→32 partitions = 10.9→8.2 ms/query on a ~600k-row batch at
    local[32]: the post-exchange agg+window stage is CPU-bound and
    wants every core), capped at ~5M rows per partition at large scale
    (the same rows-per-partition posture as the wedge-frame sizing in
    graph.py). A fixed spark.sql.shuffle.partitions still
    under-partitions a 1e11-row exchange."""
    est = max(1, n_pairs * n_docs)
    default = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    return max(1, min(-(-est // 25_000), max(default, -(-est // 5_000_000))))


def fts_search_batch(
    index: FtsIndex,
    queries: list[tuple],
    *,
    limit: int = 15,
    rank_digits: int | None = None,
) -> DataFrame:
    """Batched conjunctive keyword search: N (query_id, query) pairs
    answered in ONE job — (query_id, doc_id, score, rank), top ``limit``
    docs per query by BM25 (score desc, doc_id asc tie-break, same
    ordering contract as :func:`fts_search`, including the optional
    ``rank_digits`` quantization before the rank window).

    This is the throughput form of the reference's per-request FTS5
    lookup (2-8 ms each, CLAUDE.md:1099): N queries amortize scheduling
    and the posting scan. Each query is parsed on the driver and must
    reduce to a conjunction of plain terms (the FTS5 "simple query"
    class — implicit/explicit AND of words; phrases / prefixes / OR /
    NOT keep their exact semantics on the per-query path).

    Shape: the (query_id, term, n_terms) table is tiny and BROADCAST
    against the postings; per (query_id, doc_id) one hash aggregate
    counts matched terms (AND = all present, n_terms read off the
    aggregate) and sums BM25 contributions; one window per query_id
    takes the top-k. The posting table is scanned once for all N
    queries and filtered to the union of their terms first.
    """
    def _conj_words(n: Node, qstr: str) -> list[str]:
        if isinstance(n, Term) and not n.prefix:
            return [n.text]
        if isinstance(n, And):
            return _conj_words(n.left, qstr) + _conj_words(n.right, qstr)
        raise FtsQueryError(
            f"fts_search_batch supports conjunctions of plain terms; "
            f"got {type(n).__name__} in {qstr!r}"
        )

    if not queries:
        raise FtsQueryError("fts_search_batch: empty query list")
    if len({qid for qid, _ in queries}) != len(queries):
        # a repeated id would duplicate rows in qn and the join below,
        # silently corrupting the matched-count AND filter
        raise FtsQueryError("fts_search_batch: duplicate query_id in batch")
    pairs: list[tuple] = []
    for qid, qstr in queries:
        words = _conj_words(parse_fts_query(qstr), qstr)
        if not words:
            raise FtsQueryError(f"no terms in {qstr!r}")
        uniq = sorted(set(words))
        # n_terms rides on every (query_id, term) row: the AND filter
        # then reads it off the aggregate (max over a per-query
        # constant) instead of a second broadcast-join against a
        # separate qn table — one fewer broadcast-build job per batch
        pairs.extend((qid, w, len(uniq)) for w in uniq)

    spark = index.postings.sparkSession
    qt = local_frame(spark, pairs, ["query_id", "term", "n_terms"])

    # the union-of-terms filter is a literal IN list, so it PUSHES DOWN
    # to the posting scan (file pruning on a term-partitioned stored
    # index, dictionary/row-group skipping either way) — a broadcast
    # join alone would read every posting row
    terms = _any_leaf([(False, t) for t in sorted({t for _, t, _n in pairs})])
    n, avg_dl = index.n_docs, index.avg_dl
    # one exchange serves both the aggregate and the top-k window:
    # hash-partitioning on query_id alone satisfies the (query_id,
    # doc_id) aggregate's clustering AND the window's partitioning, so
    # the rows shuffle once instead of aggregate-shuffle +
    # window-shuffle. dl AND df ride in the stored postings
    # (store_fts_index), so everything between the pruned posting scan
    # and that single exchange is the one query-terms broadcast — and
    # the BM25 contribution is computed MAP-SIDE so the exchange moves
    # only (query_id, doc_id, contrib, n_terms): the string term and
    # the tf/dl/df ints never cross the wire.
    hits = _with_stats(
        index, index.postings.filter(terms).join(F.broadcast(qt), "term"), terms
    )
    scored = (
        hits.withColumn("contrib", F.expr(_bm25_sql(n, avg_dl)))
        .select("query_id", "doc_id", "contrib", "n_terms")
        .repartition(_batch_exchange_partitions(spark, len(pairs), n), "query_id")
        .groupBy("query_id", "doc_id")
        .agg(
            # postings are unique on (term, doc_id) and qt on
            # (query_id, term), so each (query_id, doc_id, term) row
            # appears exactly once — plain count IS the distinct count,
            # without countDistinct's two-phase expand
            F.count("contrib").alias("_matched"),
            F.sum("contrib").alias("score"),
            # n_terms is constant per query_id; max just reads it off
            F.max("n_terms").alias("_need"),
        )
        .filter(F.col("_matched") == F.col("_need"))
    )
    if rank_digits is not None:
        scored = scored.withColumn("score", F.round("score", rank_digits))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= limit)
        .select("query_id", "doc_id", "score", "rank")
    )


# ---------------------------------------------------------------------------
# snippet highlighting (best-effort text op, SURVEY §7 (d))
# ---------------------------------------------------------------------------


def snippet(
    text: Column,
    terms: list[str],
    *,
    mark_open: str = "<mark>",
    mark_close: str = "</mark>",
    ellipsis: str = "...",
    window_chars: int = 160,
) -> Column:
    """Highlighted excerpt around the first match — the analogue of FTS5
    ``snippet(fts, col, '<mark>', '</mark>', '...', 32)``
    (fts_index.go:138). Pure expression pipeline: locate first term,
    substring a window, wrap every term occurrence in marks.
    """
    lowered = F.lower(text)
    positions = [
        F.when(F.instr(lowered, t.lower()) > 0, F.instr(lowered, t.lower()))
        for t in terms
    ]
    first_pos = positions[0] if len(positions) == 1 else F.least(*positions)
    start = F.greatest(first_pos - F.lit(window_chars // 4), F.lit(1))
    excerpt = F.substring(text, start, window_chars)
    marked = excerpt
    for t in terms:
        marked = F.regexp_replace(
            marked,
            rf"(?i)(^|{SEP_RE})({re.escape(t)})($|{SEP_RE})",
            rf"$1{mark_open}$2{mark_close}$3",
        )
    return F.when(first_pos.isNull(), F.substring(text, 1, window_chars)).otherwise(
        F.concat(
            F.when(start > 1, F.lit(ellipsis)).otherwise(F.lit("")),
            marked,
            F.when(F.length(text) > start + window_chars, F.lit(ellipsis)).otherwise(
                F.lit("")
            ),
        )
    )
