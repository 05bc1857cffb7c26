"""FTS/BM25 correctness vs the generated DuckDB oracle — cortex_exact
parity: boolean queries (AND/OR/NOT), phrase, prefix, ranking order,
filters, snippet shape."""

from __future__ import annotations

import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from project_cortex_spark.operators.fts import (
    FtsQueryError,
    And,
    Not,
    Or,
    Phrase,
    Term,
    build_fts_index,
    fts_search,
    parse_fts_query,
    snippet,
)
from project_cortex_spark.oracle import fts_oracle_sql

from .conftest import assert_matches_oracle


@pytest.fixture(scope="module")
def fts_index(registry):
    return build_fts_index(
        registry.table("documents"), id_col="doc_id", text_col="text"
    )


class TestParser:
    def test_implicit_and(self):
        n = parse_fts_query("table key")
        assert isinstance(n, And)
        assert n.left == Term("table") and n.right == Term("key")

    def test_or_precedence(self):
        n = parse_fts_query("a b OR c")
        # (a AND b) OR c
        assert isinstance(n, Or) and isinstance(n.left, And)

    def test_not_binary(self):
        n = parse_fts_query("spark NOT window")
        assert isinstance(n, Not)

    def test_phrase_and_prefix(self):
        n = parse_fts_query('"key agg" cust*')
        assert isinstance(n, And)
        assert n.left == Phrase(["key", "agg"])
        assert n.right == Term("cust", prefix=True)

    def test_group(self):
        n = parse_fts_query("(a OR b) c")
        assert isinstance(n, And) and isinstance(n.left, Or)

    def test_unbalanced(self):
        with pytest.raises(FtsQueryError):
            parse_fts_query("(a OR b")

    def test_unterminated_quote_raises(self):
        # lexing must not silently truncate the rest of the query
        with pytest.raises(FtsQueryError):
            parse_fts_query('foo "bar')

    def test_leading_operator_raises(self):
        for bad in ("NOT a", "OR a", "AND a", "a OR OR b"):
            with pytest.raises(FtsQueryError):
                parse_fts_query(bad)

    def test_lowercase_operator_words_are_terms(self):
        # FTS5 operators are uppercase-only; 'not'/'or' are literal terms
        n = parse_fts_query("not or")
        assert isinstance(n, And)


def _run(fts_index, duck, query, limit=15):
    df = fts_search(fts_index, query, limit=limit).withColumn(
        "score", F.round("score", 6)
    )
    assert_matches_oracle(df, duck, fts_oracle_sql(query, limit=limit))


class TestSearch:
    def test_single_term(self, fts_index, duck):
        _run(fts_index, duck, "spark")

    def test_and(self, fts_index, duck):
        _run(fts_index, duck, "table key")

    def test_or(self, fts_index, duck):
        _run(fts_index, duck, "merge OR stream")

    def test_not(self, fts_index, duck):
        _run(fts_index, duck, "table NOT window")

    def test_phrase(self, fts_index, duck):
        _run(fts_index, duck, '"key agg"')

    def test_prefix(self, fts_index, duck):
        _run(fts_index, duck, "cust*")

    def test_composite(self, fts_index, duck):
        _run(fts_index, duck, '(merge OR stream) "fast sort" NOT error', limit=25)

    def test_filter_pushdown(self, fts_index, registry, duck):
        df = fts_search(
            fts_index,
            "table",
            limit=10,
            where=F.col("lang") == "en",
            payload_cols=["lang"],
        ).withColumn("score", F.round("score", 6))
        assert_matches_oracle(
            df,
            duck,
            fts_oracle_sql("table", limit=10, where_sql="lang = 'en'", payload_cols=("lang",)),
        )


class TestSnippet:
    def test_snippet_marks(self, spark):
        df = spark.createDataFrame(
            [("the quick brown fox jumps over the lazy dog",)], ["text"]
        )
        out = df.select(
            snippet(F.col("text"), ["quick", "lazy"]).alias("s")
        ).first()["s"]
        assert "<mark>quick</mark>" in out
        assert "<mark>lazy</mark>" in out

    def test_snippet_no_match(self, spark):
        df = spark.createDataFrame([("hello world",)], ["text"])
        out = df.select(snippet(F.col("text"), ["zebra"]).alias("s")).first()["s"]
        assert "hello world" in out and "<mark>" not in out


class TestBatchSearch:
    def test_batch_matches_per_query_search(self, fts_index):
        """N conjunctive queries in one job must rank exactly like N
        fts_search calls (same BM25, same (score desc, doc_id) order)."""
        from project_cortex_spark.operators.fts import fts_search_batch

        queries = [(1, "data"), (2, "data model"), (3, "search engine")]
        got = {
            (r["query_id"], r["rank"]): (r["doc_id"], round(r["score"], 6))
            for r in fts_search_batch(fts_index, queries, limit=5).collect()
        }
        want = {}
        for qid, q in queries:
            for i, r in enumerate(
                fts_search(fts_index, q, limit=5).collect(), start=1
            ):
                want[(qid, i)] = (r["doc_id"], round(r["score"], 6))
        assert got == want

    def test_batch_rejects_non_conjunctive(self, fts_index):
        from project_cortex_spark.operators.fts import fts_search_batch

        with pytest.raises(FtsQueryError):
            fts_search_batch(fts_index, [(1, "a OR b")])
        with pytest.raises(FtsQueryError):
            fts_search_batch(fts_index, [(1, '"a phrase"')])

    def test_stored_index_roundtrip(self, fts_index, spark, tmp_path, registry):
        """store/load must preserve ranking exactly — same BM25 stats,
        same postings — so a stored index is a drop-in for a built one."""
        from project_cortex_spark.operators.fts import (
            fts_search_batch,
            load_fts_index,
            store_fts_index,
        )

        path = str(tmp_path / "idx")
        store_fts_index(fts_index, path)
        loaded = load_fts_index(
            spark, path, registry.table("documents"),
            id_col="doc_id", text_col="text",
        )
        assert (loaded.n_docs, round(loaded.avg_dl, 9)) == (
            fts_index.n_docs, round(fts_index.avg_dl, 9))
        queries = [(1, "data model"), (2, "hash join")]
        built = fts_search_batch(fts_index, queries, limit=10).collect()
        stored = fts_search_batch(loaded, queries, limit=10).collect()
        key = lambda r: (r["query_id"], r["rank"])
        assert sorted(map(tuple, built), key=lambda t: (t[0], t[3])) == \
               sorted(map(tuple, stored), key=lambda t: (t[0], t[3]))


def test_batch_rejects_duplicate_query_ids(fts_index):
    """A repeated query_id would duplicate rows in the n_terms side and
    the join, silently corrupting the matched-count AND filter — it
    must be rejected up front."""
    from project_cortex_spark.operators.fts import fts_search_batch

    with pytest.raises(FtsQueryError, match="duplicate query_id"):
        fts_search_batch(fts_index, [(1, "alpha"), (1, "beta")])


class TestStoredIndexQueryPaths:
    """Round-6 review findings: the df-denormalized store must serve
    BOTH query paths and survive a store→load→store round-trip."""

    def test_fts_search_on_stored_index(self, spark, registry, tmp_path):
        from project_cortex_spark.operators.fts import (
            build_fts_index, fts_search, load_fts_index, store_fts_index,
        )

        docs = registry.table("documents")
        live = build_fts_index(docs, id_col="doc_id", text_col="text")
        path = str(tmp_path / "idx")
        store_fts_index(live, path)
        loaded = load_fts_index(spark, path, docs,
                                id_col="doc_id", text_col="text")
        terms = [r["term"] for r in loaded.postings.select("term")
                 .distinct().orderBy("term").limit(2).collect()]
        q = " ".join(terms)
        got = fts_search(loaded, q, limit=5).collect()
        want = fts_search(live, q, limit=5).collect()
        assert [(r["doc_id"], round(r["score"], 9)) for r in got] == [
            (r["doc_id"], round(r["score"], 9)) for r in want
        ]

    def test_store_load_store_roundtrip(self, spark, registry, tmp_path):
        from project_cortex_spark.operators.fts import (
            build_fts_index, fts_search_batch, load_fts_index,
            store_fts_index,
        )

        docs = registry.table("documents")
        live = build_fts_index(docs, id_col="doc_id", text_col="text")
        p1, p2 = str(tmp_path / "a"), str(tmp_path / "b")
        store_fts_index(live, p1)
        first = load_fts_index(spark, p1, docs,
                               id_col="doc_id", text_col="text")
        store_fts_index(first, p2)  # crashed pre-fix: duplicate dl/df
        second = load_fts_index(spark, p2, docs,
                                id_col="doc_id", text_col="text")
        term = first.postings.select("term").orderBy("term").first()["term"]
        a = fts_search_batch(first, [(1, term)], limit=3).collect()
        b = fts_search_batch(second, [(1, term)], limit=3).collect()
        assert [tuple(r) for r in a] == [tuple(r) for r in b]


# ---------------------------------------------------------------------------
# the one-pass compiler against the set-algebra oracle, on random trees
# ---------------------------------------------------------------------------

# the sf0.001 documents are drawn from a small vocabulary, so random
# terms, phrases and prefixes over it hit real postings, repeat, and
# overlap; "zebra" occurs nowhere
_WORDS = ["key", "agg", "row", "scan", "merge", "join", "sort", "the", "a",
          "spark", "batch", "window", "fast", "table", "zebra"]
_LEAF = st.one_of(
    st.sampled_from(_WORDS),
    st.sampled_from(_WORDS).map(lambda w: w[:2] + "*"),
    st.lists(st.sampled_from(_WORDS), min_size=2, max_size=3).map(
        lambda ws: '"' + " ".join(ws) + '"'
    ),
)


def _combine(children):
    # binary nodes over two subtrees; parenthesized or left to the
    # parser's NOT > AND > OR precedence
    return st.tuples(
        children, st.sampled_from(["", "AND ", "OR ", "NOT "]), children,
        st.booleans(),
    ).map(lambda t: f"({t[0]} {t[1]}{t[2]})" if t[3] else f"{t[0]} {t[1]}{t[2]}")


_QUERY = st.recursive(_LEAF, _combine, max_leaves=7)


@pytest.fixture(scope="module")
def stored_index(spark, registry, fts_index, tmp_path_factory):
    from project_cortex_spark.operators.fts import load_fts_index, store_fts_index

    path = str(tmp_path_factory.mktemp("fts") / "idx")
    store_fts_index(fts_index, path)
    return load_fts_index(
        spark, path, registry.table("documents"), id_col="doc_id", text_col="text"
    )


@settings(max_examples=12, deadline=None)
@given(_QUERY)
def test_compiled_query_matches_set_algebra_oracle(fts_index, stored_index, duck, query):
    """Any tree of AND / OR / NOT, parentheses, prefixes, phrases and
    repeated terms returns the oracle's rows and scores on a live and a
    stored index. The limit covers the whole 500-doc corpus, so no cut
    falls inside a pack of tied scores."""
    sql = fts_oracle_sql(query, limit=500)
    for index in (fts_index, stored_index):
        df = fts_search(index, query, limit=500).withColumn(
            "score", F.round("score", 6)
        )
        assert_matches_oracle(df, duck, sql)


@pytest.mark.parametrize(
    "query", ["it's", "o'brien\\", "\\' OR term", "it'*", "a\\*", '"key it\'s"']
)
def test_quote_and_backslash_terms_stay_literal(fts_index, duck, query):
    """A term holding ' or \\ is compiled into SQL text as a literal: it
    neither raises nor ends its literal early — it matches what the
    oracle matches for that literal term."""
    _run(fts_index, duck, query)


@settings(max_examples=25, deadline=None)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs",)),
            max_size=30,
        )
        | st.sampled_from(["'", "\\", "\\'", "''", "--", "/*", "\n", "é中"]),
        min_size=1,
        max_size=8,
    ),
    st.lists(st.floats(allow_nan=True, allow_infinity=True), min_size=1, max_size=8),
)
def test_sql_literal_round_trips(spark, strings, doubles):
    """Spark's parser reads every rendered string and double back to
    exactly the Python value: quotes, backslashes, comment markers,
    newlines and non-ASCII stay inside the string literal, and a double
    keeps every bit (signed zero, subnormals, NaN and ±inf included)."""
    import math
    import struct

    from project_cortex_spark.functions.sql import literal

    cols = [F.expr(literal(s)).alias(f"s{i}") for i, s in enumerate(strings)]
    cols += [F.expr(literal(x)).alias(f"d{i}") for i, x in enumerate(doubles)]
    row = spark.range(1).select(*cols).first()
    assert [row[f"s{i}"] for i in range(len(strings))] == strings
    for i, x in enumerate(doubles):
        got = row[f"d{i}"]
        if math.isnan(x):
            assert math.isnan(got)
        else:
            assert struct.pack(">d", got) == struct.pack(">d", x)
