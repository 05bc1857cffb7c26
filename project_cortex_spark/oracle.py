"""DuckDB oracle-SQL builders mirroring the engine's custom operators.

The driver's correctness gate runs each Spark query against an ANSI-SQL
equivalent in DuckDB. For plain relational operators the SQL is written
by hand; for the custom operators (BM25 FTS, MinHash, …) the SQL is
*generated here from the same parsed query / the same pinned formulas*,
so both engines execute provably identical semantics.

Everything emitted is plain SQL over the pre-registered views — no
DuckDB extensions beyond list/regexp functions.
"""

from __future__ import annotations

import re

from .functions.text import SEP_SQL
from .operators.fts import (
    And,
    K1,
    B,
    Node,
    Not,
    Or,
    Phrase,
    Term,
    _phrase_regex,
    parse_fts_query,
    query_terms,
)


def _sql_quote(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _floor_div(expr: str, d: int) -> str:
    """Exact integer FLOOR division (DuckDB's integer ``//`` truncates
    toward zero, e.g. -7 // 2 = -3): subtract the non-negative pmod
    first so the quotient is an exact multiple — correct at any BIGINT
    magnitude, with no double rounding."""
    return f"(({expr} - (({expr}) % {d} + {d}) % {d}) // {d})"


def fts_tokens_cte(table: str, id_col: str, text_col: str) -> str:
    """Tokenizer CTE identical to functions.text.tokens."""
    return f"""
      toks AS (
        SELECT {id_col} AS doc_id,
               unnest(list_filter(
                 regexp_split_to_array(lower({text_col}), '{SEP_SQL}'),
                 x -> x <> '')) AS term
        FROM {table}
      ),
      postings AS (
        SELECT term, doc_id, count(*) AS tf FROM toks GROUP BY term, doc_id
      ),
      doc_stats AS (
        SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id
      ),
      corpus AS (
        SELECT (SELECT count(*) FROM {table}) AS n,
               (SELECT avg(dl) FROM doc_stats) AS avg_dl
      )"""


def _match_sql(node: Node, table: str, id_col: str, text_col: str) -> str:
    """Node -> SQL set algebra (INTERSECT/UNION/EXCEPT) over postings."""
    if isinstance(node, Term):
        if node.prefix:
            return (
                f"SELECT DISTINCT doc_id FROM postings WHERE term LIKE "
                f"{_sql_quote(node.text + '%')}"
            )
        return f"SELECT DISTINCT doc_id FROM postings WHERE term = {_sql_quote(node.text)}"
    if isinstance(node, Phrase):
        rx = _phrase_regex(node.terms)
        return (
            f"SELECT DISTINCT {id_col} AS doc_id FROM {table} "
            f"WHERE regexp_matches(lower({text_col}), {_sql_quote(rx)})"
        )
    if isinstance(node, And):
        return (
            f"({_match_sql(node.left, table, id_col, text_col)})\nINTERSECT\n"
            f"({_match_sql(node.right, table, id_col, text_col)})"
        )
    if isinstance(node, Or):
        return (
            f"({_match_sql(node.left, table, id_col, text_col)})\nUNION\n"
            f"({_match_sql(node.right, table, id_col, text_col)})"
        )
    if isinstance(node, Not):
        return (
            f"({_match_sql(node.left, table, id_col, text_col)})\nEXCEPT\n"
            f"({_match_sql(node.right, table, id_col, text_col)})"
        )
    raise ValueError(f"bad node {node!r}")


def fts_batch_oracle_sql(
    queries: list[tuple],
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    limit: int = 15,
    round_digits: int = 6,
    rank_digits: int | None = None,
) -> str:
    """SQL mirroring operators.fts.fts_search_batch: N conjunctive
    term queries, AND-match via matched-term count, BM25 sum, rank per
    query_id (score desc, doc_id asc). Without ``rank_digits``, scores
    are rounded AFTER ranking on the raw doubles, same as the Spark
    side; with it, the score is quantized BEFORE the rank window (and
    projected as-is), collapsing 1-ulp replica ties onto the doc_id
    tie-break — the fts_search rank_digits contract."""
    from .operators.fts import And, Term, parse_fts_query

    def conj_words(n) -> list[str]:
        if isinstance(n, Term) and not n.prefix:
            return [n.text]
        if isinstance(n, And):
            return conj_words(n.left) + conj_words(n.right)
        raise ValueError(f"not a conjunctive query: {n!r}")

    values = []
    for qid, qstr in queries:
        for w in sorted(set(conj_words(parse_fts_query(qstr)))):
            values.append(f"({int(qid)}, {_sql_quote(w)})")
    vals = ", ".join(values)
    return f"""
    WITH {fts_tokens_cte(table, id_col, text_col)},
      qt(query_id, term) AS (VALUES {vals}),
      qn AS (SELECT query_id, count(DISTINCT term) AS n_terms
             FROM qt GROUP BY 1),
      dfreq AS (
        SELECT term, count(DISTINCT doc_id) AS df FROM postings
        WHERE term IN (SELECT term FROM qt) GROUP BY term
      ),
      scored AS (
        SELECT q.query_id, p.doc_id,
               count(DISTINCT p.term) AS matched,
               sum(
                 ln(1.0 + ((SELECT n FROM corpus) - f.df + 0.5) / (f.df + 0.5))
                 * (p.tf * ({K1} + 1))
                 / (p.tf + {K1} * (1 - {B} + {B} * s.dl
                                   / (SELECT avg_dl FROM corpus)))
               ) AS score
        FROM postings p
        JOIN qt q USING (term)
        JOIN dfreq f USING (term)
        JOIN doc_stats s USING (doc_id)
        GROUP BY q.query_id, p.doc_id
      ),
      ranked AS (
        SELECT sc.query_id, sc.doc_id,
               {f"round(sc.score, {rank_digits})" if rank_digits is not None else "sc.score"} AS score,
               row_number() OVER (PARTITION BY sc.query_id
                                  ORDER BY {f"round(sc.score, {rank_digits})" if rank_digits is not None else "sc.score"} DESC, sc.doc_id)
                 AS rank
        FROM scored sc JOIN qn USING (query_id)
        WHERE sc.matched = qn.n_terms
      )
    SELECT query_id, doc_id,
           {"score" if rank_digits is not None else f"round(score, {round_digits})"} AS score,
           rank
    FROM ranked WHERE rank <= {limit}
    """


def fts_oracle_sql(
    query: str,
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    limit: int = 15,
    payload_cols: tuple[str, ...] = (),
    where_sql: str | None = None,
    round_digits: int | None = 6,
    rank_digits: int | None = None,
) -> str:
    """SQL mirroring operators.fts.fts_search for the same query string.

    ``round_digits=None`` emits the raw double score — for callers that
    embed this as a subquery and need to re-rank on the exact value,
    where projection-time rounding would make the outer ordering diverge
    from the engine's unrounded sort. ``rank_digits`` mirrors
    fts_search's rank quantization: the score is rounded BEFORE the
    ordering and the cut (and round_digits is ignored — the projected
    score IS the rank-quantized one)."""
    node = parse_fts_query(query)
    literals = query_terms(node)
    words: list[str] = []
    prefixes: list[str] = []
    for lit in literals:
        if isinstance(lit, Phrase):
            words.extend(lit.terms)
        elif lit.prefix:
            prefixes.append(lit.text)
        else:
            words.append(lit.text)
    conds = []
    if words:
        conds.append("term IN (" + ", ".join(_sql_quote(w) for w in sorted(set(words))) + ")")
    for p in prefixes:
        conds.append(f"term LIKE {_sql_quote(p + '%')}")
    hit_cond = " OR ".join(conds)

    match_sql = _match_sql(node, table, id_col, text_col)
    payload = "".join(f", d.{c}" for c in payload_cols)
    where = f"WHERE {where_sql}" if where_sql else ""
    if rank_digits is not None:
        score_proj = f"round(coalesce(sc.score, 0.0), {rank_digits})"
        order_expr = score_proj
    else:
        score_proj = (
            "coalesce(sc.score, 0.0)"
            if round_digits is None
            else f"round(coalesce(sc.score, 0.0), {round_digits})"
        )
        order_expr = "coalesce(sc.score, 0.0)"

    return f"""
    WITH {fts_tokens_cte(table, id_col, text_col)},
      hits AS (SELECT * FROM postings WHERE {hit_cond}),
      dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM hits GROUP BY term),
      scored AS (
        SELECT h.doc_id,
               sum(
                 ln(1.0 + ((SELECT n FROM corpus) - f.df + 0.5) / (f.df + 0.5))
                 * (h.tf * ({K1} + 1))
                 / (h.tf + {K1} * (1 - {B} + {B} * s.dl / (SELECT avg_dl FROM corpus)))
               ) AS score
        FROM hits h JOIN dfreq f USING (term) JOIN doc_stats s USING (doc_id)
        GROUP BY h.doc_id
      ),
      matches AS ({match_sql})
    SELECT m.doc_id, {score_proj} AS score{payload}
    FROM matches m
    LEFT JOIN scored sc USING (doc_id)
    JOIN (SELECT * FROM {table} {where}) d ON d.{id_col} = m.doc_id
    ORDER BY {order_expr} DESC, m.doc_id
    LIMIT {limit}
    """


# ---------------------------------------------------------------------------
# dedup oracles (mirror operators/dedup.py formulas exactly)
# ---------------------------------------------------------------------------


def shingles_cte(
    table: str, id_col: str, text_col: str, n: int = 3
) -> str:
    """Word n-gram CTE identical to functions.text.shingles (list
    comprehension over the token array; docs shorter than n yield none)."""
    return f"""
      sh AS (
        SELECT doc_id,
               unnest([array_to_string(t[i:i+{n - 1}], ' ')
                       FOR i IN range(1, len(t) - {n - 2})]) AS sh
        FROM (
          SELECT {id_col} AS doc_id,
                 list_filter(regexp_split_to_array(lower({text_col}), '{SEP_SQL}'),
                             x -> x <> '') AS t
          FROM {table}
        )
        WHERE len(t) >= {n}
      )"""


def exact_duplicate_groups_sql(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """Mirror of dedup.exact_duplicate_groups (normalized content md5)."""
    return f"""
    WITH h AS (
      SELECT {id_col} AS doc_id,
             md5(array_to_string(
               list_filter(regexp_split_to_array(lower({text_col}), '{SEP_SQL}'),
                           x -> x <> ''), ' ')) AS chash
      FROM {table}
    ),
    g AS (SELECT chash, count(*) AS group_size, min(doc_id) AS canonical
          FROM h GROUP BY chash)
    SELECT h.doc_id, h.chash, g.group_size, h.doc_id = g.canonical AS keep
    FROM h JOIN g USING (chash) WHERE g.group_size > 1
    """


def _minhash_ctes(
    num_hashes: int, bands: int, max_bucket: int | None = None
) -> str:
    r = num_hashes // bands
    sig_cols = ", ".join(
        f"min(md5('{i}:' || sh)) AS h{i}" for i in range(num_hashes)
    )
    band_selects = "\nUNION ALL\n".join(
        "SELECT doc_id, {b} AS band, {key} AS bkey FROM sigs".format(
            b=b, key=" || ".join(f"h{b * r + i}" for i in range(r))
        )
        for b in range(bands)
    )
    # replay the engine's hot-bucket guard: (band, bkey) buckets above
    # the cap leave BOTH sides of the pair join (dedup.lsh_candidate_pairs)
    src = "bands"
    cap_cte = ""
    if max_bucket is not None:
        cap_cte = f"""
      bands_kept AS (
        SELECT b.* FROM bands b
        JOIN (SELECT band, bkey FROM bands
              GROUP BY band, bkey HAVING count(*) <= {max_bucket}) k
          ON b.band = k.band AND b.bkey = k.bkey
      ),"""
        src = "bands_kept"
    return f"""
      sigs AS (SELECT doc_id, {sig_cols} FROM sh GROUP BY doc_id),
      bands AS ({band_selects}),{cap_cte}
      cand AS (
        SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
        FROM {src} x JOIN {src} y
          ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
      )"""


_JACCARD_TAIL = """
      dsh AS (SELECT DISTINCT doc_id, sh FROM sh),
      sizes AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY doc_id),
      common AS (
        SELECT c.a, c.b, count(*) AS common
        FROM cand c
        JOIN dsh p ON p.doc_id = c.a
        JOIN dsh q ON q.doc_id = c.b AND q.sh = p.sh
        GROUP BY c.a, c.b
      )
    SELECT c.a, c.b,
           round(c.common::DOUBLE / (sa.n + sb.n - c.common), {digits}) AS jaccard
    FROM common c
    JOIN sizes sa ON sa.doc_id = c.a
    JOIN sizes sb ON sb.doc_id = c.b
    WHERE c.common::DOUBLE / (sa.n + sb.n - c.common) >= {threshold}
"""


def minhash_near_duplicates_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 4,
    shingle_n: int = 3,
    threshold: float = 0.5,
    round_digits: int = 6,
    max_bucket: int | None = None,
) -> str:
    return (
        f"WITH {shingles_cte(table, id_col, text_col, shingle_n)},"
        f"{_minhash_ctes(num_hashes, bands, max_bucket)},"
        + _JACCARD_TAIL.format(digits=round_digits, threshold=threshold)
    )


def duplicated_ngram_stats_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 8,
) -> str:
    """Noiseless twin of dedup.duplicated_ngram_stats: distinct word
    n-grams per doc, document frequency >= 2 marks a duplicated n-gram.
    count(*) FILTER keeps the counts BIGINT (no HUGEINT sum)."""
    return f"""
    WITH {shingles_cte(table, id_col, text_col, shingle_n)},
    shd AS (SELECT DISTINCT doc_id, sh FROM sh),
    dfc AS (SELECT sh, count(*) AS df FROM shd GROUP BY sh)
    SELECT doc_id,
           count(*) AS n_ngrams,
           count(*) FILTER (df >= 2) AS n_dup_ngrams,
           round(count(*) FILTER (df >= 2) / count(*), 6) AS dup_fraction
    FROM shd JOIN dfc USING (sh)
    GROUP BY doc_id
    """


def duplicated_char_spans_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 32,
    stride: int = 1,
) -> str:
    """Noiseless twin of dedup.duplicated_char_spans: every stride-th
    position's k-char window md5, cross-document df >= 2, exact
    interval union via the sorted-position lag-gap formula."""
    return f"""
    WITH pos AS (
      SELECT {id_col} AS doc_id, length({text_col}) AS len, {text_col} AS t,
             unnest(generate_series(1, length({text_col}) - {k} + 1,
                                    {stride})) AS p
      FROM {table}
      WHERE length({text_col}) >= {k}
    ), grams AS (
      SELECT doc_id, len, p, md5(substr(t, p, {k})) AS g FROM pos
    ), dupg AS (
      SELECT g FROM (
        SELECT g, count(DISTINCT doc_id) AS df FROM grams GROUP BY g
      ) WHERE df >= 2
    ), dp AS (
      SELECT doc_id, len, p FROM grams JOIN dupg USING (g)
    ), cov AS (
      SELECT doc_id, len,
             least({k}, p - coalesce(
               lag(p) OVER (PARTITION BY doc_id ORDER BY p), p - {k}
             )) AS c
      FROM dp
    )
    SELECT doc_id, max(len) AS n_chars,
           count(*) AS n_dup_positions,
           CAST(sum(c) AS BIGINT) AS covered_chars,
           round(CAST(sum(c) AS BIGINT) / max(len), 6) AS dup_char_fraction
    FROM cov GROUP BY doc_id
    """


def ngram_jaccard_pairs_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    round_digits: int = 6,
    max_df: int | None = None,
    max_df_frac: float | None = None,
) -> str:
    # mirror dedup.ngram_jaccard_pairs' document-frequency cut: shingles
    # in more than max_df docs leave the universe entirely (candidates,
    # intersections, and set sizes), so the capped jaccard matches.
    # max_df_frac replays the fractional cap: effective cap =
    # greatest(max_df, floor(frac * n_docs)) — int() on the engine side
    # truncates toward zero, which equals floor for non-negative counts.
    cap_expr = str(max_df) if max_df is not None else None
    if max_df_frac is not None:
        base = max_df or 0
        cap_expr = (
            f"greatest({base}, CAST(floor({max_df_frac!r} * "
            f"(SELECT count(*) FROM {table})) AS BIGINT))"
        )
    df_cut = ""
    if cap_expr is not None:
        df_cut = f"""
      kept AS (
        SELECT sh FROM (SELECT DISTINCT doc_id, sh FROM sh)
        GROUP BY sh HAVING count(*) <= {cap_expr}
      ),
      sh2 AS (SELECT s.doc_id, s.sh FROM sh s JOIN kept k ON s.sh = k.sh),"""
    src = "sh2" if cap_expr is not None else "sh"
    cand = f"""
      cand AS (
        SELECT DISTINCT p.doc_id AS a, q.doc_id AS b
        FROM (SELECT DISTINCT doc_id, sh FROM {src}) p
        JOIN (SELECT DISTINCT doc_id, sh FROM {src}) q
          ON p.sh = q.sh AND p.doc_id < q.doc_id
      )"""
    tail = _JACCARD_TAIL.format(digits=round_digits, threshold=threshold)
    if cap_expr is not None:
        tail = tail.replace("FROM sh)", "FROM sh2)")
    return (
        f"WITH {shingles_cte(table, id_col, text_col, shingle_n)},{df_cut}{cand},"
        + tail
    )


def containment_pairs_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.8,
    round_digits: int = 6,
    max_df: int | None = None,
    max_df_frac: float | None = None,
) -> str:
    """Mirror of dedup.containment_pairs: the same capped universe and
    unordered co-occurrence count, both directed scores emitted from
    the one row."""
    cap_expr = str(max_df) if max_df is not None else None
    if max_df_frac is not None:
        base = max_df or 0
        cap_expr = (
            f"greatest({base}, CAST(floor({max_df_frac!r} * "
            f"(SELECT count(*) FROM {table})) AS BIGINT))"
        )
    df_cut = ""
    src = "dsh"
    if cap_expr is not None:
        df_cut = f"""
      kept AS (
        SELECT sh FROM (SELECT DISTINCT doc_id, sh FROM sh)
        GROUP BY sh HAVING count(*) <= {cap_expr}
      ),
      sh2 AS (SELECT s.doc_id, s.sh FROM sh s JOIN kept k ON s.sh = k.sh),"""
        src = "dsh2"
    return f"""
    WITH {shingles_cte(table, id_col, text_col, shingle_n)},{df_cut}
    {src} AS (SELECT DISTINCT doc_id, sh
              FROM {"sh2" if cap_expr is not None else "sh"}),
    sizes AS (SELECT doc_id, count(*) AS n FROM {src} GROUP BY doc_id),
    common AS (
      SELECT p.doc_id AS x, q.doc_id AS y, count(*) AS common
      FROM {src} p JOIN {src} q ON p.sh = q.sh AND p.doc_id < q.doc_id
      GROUP BY p.doc_id, q.doc_id
    ),
    sized AS (
      SELECT c.x, c.y, c.common, sx.n AS nx, sy.n AS ny
      FROM common c
      JOIN sizes sx ON sx.doc_id = c.x
      JOIN sizes sy ON sy.doc_id = c.y
    ),
    directed AS (
      SELECT x AS a, y AS b, common::DOUBLE / nx AS containment FROM sized
      UNION ALL
      SELECT y AS a, x AS b, common::DOUBLE / ny AS containment FROM sized
    )
    SELECT a, b, round(containment, {round_digits}) AS containment
    FROM directed WHERE containment >= {threshold}
    """


def similar_pairs_auto_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    round_digits: int = 6,
    max_df: int | None = 100,
    max_df_frac: float | None = 0.2,
    stop_mass_frac: float = 0.05,
) -> str:
    """Mirror of dedup.similar_pairs_auto INCLUDING the dispatch: the
    stop-shingle-mass statistic is replayed in SQL (same fractional cap,
    same distinct posting frame), and the two arms — the uncapped exact
    join (= the ppjoin contract) and the df-capped join — are each
    guarded by the scalar decision, so the oracle follows the engine's
    arm choice on ANY dataset rather than pinning one."""
    cap_expr = (
        f"greatest({max_df or 0}, CAST(floor({(max_df_frac or 0.0)!r} * "
        f"(SELECT count(*) FROM {table})) AS BIGINT))"
    )
    stat = f"""(
      WITH {shingles_cte(table, id_col, text_col, shingle_n)},
      dsh AS (SELECT DISTINCT doc_id, sh FROM sh),
      dfreq AS (SELECT sh, count(*) AS df FROM dsh GROUP BY sh)
      SELECT CASE WHEN coalesce(sum(df), 0) = 0 THEN 0.0
             ELSE sum(CASE WHEN df > {cap_expr} THEN df ELSE 0 END)::DOUBLE
                  / sum(df) END
      FROM dfreq
    )"""
    exact = ngram_jaccard_pairs_sql(
        table=table,
        id_col=id_col,
        text_col=text_col,
        shingle_n=shingle_n,
        threshold=threshold,
        round_digits=round_digits,
    )
    capped = ngram_jaccard_pairs_sql(
        table=table,
        id_col=id_col,
        text_col=text_col,
        shingle_n=shingle_n,
        threshold=threshold,
        round_digits=round_digits,
        max_df=max_df,
        max_df_frac=max_df_frac,
    )
    return f"""
    SELECT a, b, jaccard FROM ({exact}) WHERE {stat} > {stop_mass_frac!r}
    UNION ALL
    SELECT a, b, jaccard FROM ({capped}) WHERE {stat} <= {stop_mass_frac!r}
    """


def simhash_fingerprints_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
) -> str:
    """Mirror of dedup.simhash_fingerprints (same md5-hex bit extraction)."""
    sums = []
    for j in range(bits):
        c, s = j // 4 + 1, j % 4
        v = f"(strpos('0123456789abcdef', substr(md5(term), {c}, 1)) - 1)"
        bit = f"(({v} >> {s}) & 1)"
        sums.append(f"sum(tf * ({bit} * 2 - 1)) AS s{j}")
    fp = " + ".join(f"(CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END)" for j in range(bits))
    return f"""
    WITH toks AS (
      SELECT {id_col} AS doc_id,
             unnest(list_filter(regexp_split_to_array(lower({text_col}), '{SEP_SQL}'),
                    x -> x <> '')) AS term
      FROM {table}
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term),
    sums AS (SELECT doc_id, {', '.join(sums)} FROM tf GROUP BY doc_id)
    SELECT doc_id, CAST({fp} AS BIGINT) AS fp FROM sums
    """


def simhash_near_duplicates_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
    max_hamming: int = 2,
) -> str:
    fps = simhash_fingerprints_sql(
        table=table, id_col=id_col, text_col=text_col, bits=bits
    )
    return f"""
    WITH fps AS ({fps})
    SELECT x.doc_id AS a, y.doc_id AS b,
           bit_count(xor(x.fp, y.fp)) AS hamming
    FROM fps x JOIN fps y ON x.doc_id < y.doc_id
    WHERE bit_count(xor(x.fp, y.fp)) <= {max_hamming}
    """


def embedding_near_duplicates_sql(
    *, threshold: float = 0.95, round_digits: int = 6
) -> str:
    # DOUBLE[] casts: DuckDB's list_dot_product on FLOAT[] accumulates in
    # float32, which disagrees with Spark's double math at the 6th digit
    score = (
        "(1.0 + list_dot_product(x.embedding::DOUBLE[], y.embedding::DOUBLE[])"
        " / (sqrt(list_dot_product(x.embedding::DOUBLE[], x.embedding::DOUBLE[]))"
        " * sqrt(list_dot_product(y.embedding::DOUBLE[], y.embedding::DOUBLE[])))) / 2.0"
    )
    return f"""
    SELECT x.vec_id AS a, y.vec_id AS b, round({score}, {round_digits}) AS score
    FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id
    WHERE {score} >= {threshold}
    """


# ---------------------------------------------------------------------------
# text-analysis oracles (mirror operators/textstats.py)
# ---------------------------------------------------------------------------

_TOKS_EXPR = (
    "list_filter(regexp_split_to_array(lower({text}), '{sep}'), x -> x <> '')"
)


def token_stats_sql(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text"
) -> str:
    toks = _TOKS_EXPR.format(text=text_col, sep=SEP_SQL)
    return f"""
    SELECT {id_col} AS doc_id,
           length({text_col}) AS n_chars,
           len(t) AS n_tokens,
           len(list_distinct(t)) AS n_unique_tokens,
           round(list_sum(list_transform(t, x -> length(x)))::DOUBLE
                 / greatest(len(t), 1), 6) AS avg_token_len,
           CAST(floor(length({text_col}) / 4) AS BIGINT) AS est_llm_tokens
    FROM (SELECT {id_col}, {text_col}, {toks} AS t FROM {table})
    """


def quality_scores_sql(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text"
) -> str:
    from .operators.textstats import EN_STOPWORDS

    toks = _TOKS_EXPR.format(text=text_col, sep=SEP_SQL)
    stops = ", ".join(_sql_quote(w) for w in EN_STOPWORDS)
    return f"""
    WITH base AS (
      SELECT {id_col} AS doc_id, {text_col} AS text, {toks} AS t FROM {table}
    ),
    ratios AS (
      SELECT doc_id,
             len(list_filter(t, x -> x IN ({stops})))::DOUBLE
               / greatest(len(t), 1) AS stopword_ratio,
             length(regexp_replace(lower(text), '[^a-z]', '', 'g'))::DOUBLE
               / greatest(length(text), 1) AS alpha_ratio,
             len(list_distinct(t))::DOUBLE / greatest(len(t), 1) AS unique_ratio
      FROM base
    )
    SELECT doc_id,
           round(stopword_ratio, 6) AS stopword_ratio,
           round(alpha_ratio, 6) AS alpha_ratio,
           round(unique_ratio, 6) AS unique_ratio,
           round(0.4 * stopword_ratio + 0.3 * alpha_ratio + 0.3 * unique_ratio, 6)
             AS quality
    FROM ratios
    """


def language_id_sql(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text"
) -> str:
    from .operators.textstats import LANG_MARKERS

    toks = _TOKS_EXPR.format(text=text_col, sep=SEP_SQL)
    langs = sorted(LANG_MARKERS)
    hits = ", ".join(
        "len(list_filter(t, x -> x IN ({m}))) AS _{lang}".format(
            m=", ".join(_sql_quote(w) for w in LANG_MARKERS[lang]), lang=lang
        )
        for lang in langs
    )
    best = "greatest(" + ", ".join(f"_{l}" for l in langs) + ")"
    pick = " ".join(f"WHEN _{l} = best THEN '{l}'" for l in langs)
    return f"""
    WITH base AS (SELECT {id_col} AS doc_id, {toks} AS t FROM {table}),
    hits AS (SELECT doc_id, {hits} FROM base),
    scored AS (SELECT *, {best} AS best FROM hits)
    SELECT doc_id,
           CASE WHEN best > 0 THEN (CASE {pick} END) ELSE 'und' END AS lang_pred,
           best AS lang_hits
    FROM scored
    """


def gopher_rules_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_line_ratio: float = 0.9,
    max_ellipsis_line_ratio: float = 0.3,
    min_alpha_word_ratio: float = 0.8,
    min_stop_hits: int = 2,
) -> str:
    """Oracle for textstats.gopher_rules: the same whitespace-word /
    newline-line definitions via DuckDB list functions. replace() is
    non-overlapping left-to-right in both engines, so the '...' count
    agrees; Spark split(limit=-1) and string_split both keep trailing
    empty strings."""
    from .operators.textstats import GOPHER_STOPS

    stops = " + ".join(
        f"list_contains(wl, '{s}')::INT" for s in GOPHER_STOPS
    )
    return f"""
    WITH base AS (
      SELECT {id_col} AS doc_id, {text_col} AS text,
             list_filter(regexp_split_to_array({text_col}, '\\s+'),
                         x -> x <> '') AS w,
             string_split({text_col}, chr(10)) AS lines
      FROM {table}
    ),
    feats AS (
      SELECT doc_id,
             len(w) AS n_words,
             list_sum(list_transform(w, x -> length(x)))::DOUBLE
               / greatest(len(w), 1) AS mean_word_len,
             (length(text) - length(regexp_replace(text, '#', '', 'g')))
               ::DOUBLE / greatest(len(w), 1) AS hash_ratio,
             ((length(text) - length(replace(text, '...', ''))) / 3.0
              + length(text) - length(regexp_replace(text, '…', '', 'g')))
               / greatest(len(w), 1) AS ellipsis_ratio,
             len(list_filter(lines,
                             l -> substr(ltrim(l), 1, 1) IN ('•','-','*')))
               ::DOUBLE / greatest(len(lines), 1) AS bullet_line_ratio,
             len(list_filter(lines,
                             l -> rtrim(l) LIKE '%...'
                                  OR rtrim(l) LIKE '%…'))
               ::DOUBLE / greatest(len(lines), 1) AS ellipsis_line_ratio,
             len(list_filter(w, x -> regexp_matches(x, '[A-Za-z]')))
               ::DOUBLE / greatest(len(w), 1) AS alpha_word_ratio,
             ({stops}) AS n_stop_hits
      FROM (SELECT doc_id, text, w, lines,
                   list_transform(w, x -> lower(x)) AS wl FROM base)
    )
    SELECT doc_id,
           n_words,
           round(mean_word_len, 6) AS mean_word_len,
           round(hash_ratio, 6) AS hash_ratio,
           round(ellipsis_ratio, 6) AS ellipsis_ratio,
           round(bullet_line_ratio, 6) AS bullet_line_ratio,
           round(ellipsis_line_ratio, 6) AS ellipsis_line_ratio,
           round(alpha_word_ratio, 6) AS alpha_word_ratio,
           n_stop_hits::BIGINT AS n_stop_hits,
           (n_words >= {min_words} AND n_words <= {max_words}
            AND mean_word_len >= {min_mean_word_len}
            AND mean_word_len <= {max_mean_word_len}
            AND hash_ratio <= {max_symbol_ratio}
            AND ellipsis_ratio <= {max_symbol_ratio}
            AND bullet_line_ratio <= {max_bullet_line_ratio}
            AND ellipsis_line_ratio <= {max_ellipsis_line_ratio}
            AND alpha_word_ratio >= {min_alpha_word_ratio}
            AND n_stop_hits >= {min_stop_hits}) AS keep
    FROM feats
    """


def gopher_repetition_sql(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """Oracle for textstats.gopher_repetition: identical unit
    definitions (non-empty newline lines; trimmed blank-line-run
    paragraphs) via DuckDB list folds."""

    def unit_stats(units: str, prefix: str) -> str:
        return f"""
             len({units}) AS n_{prefix}s,
             round((len({units}) - len(list_distinct({units})))::DOUBLE
                   / greatest(len({units}), 1), 6) AS dup_{prefix}_frac,
             round(coalesce(list_sum(list_transform(list_distinct({units}),
                     d -> (len(list_filter({units}, u -> u = d)) - 1)
                          * length(d))), 0)::DOUBLE
                   / greatest(coalesce(list_sum(list_transform({units},
                     u -> length(u))), 0), 1), 6) AS dup_{prefix}_char_frac"""

    return f"""
    WITH base AS (
      SELECT {id_col} AS doc_id,
             list_filter(string_split({text_col}, chr(10)),
                         u -> u <> '') AS lines,
             list_filter(list_transform(
                 regexp_split_to_array({text_col}, '\\n{{2,}}'),
                 p -> trim(p)), u -> u <> '') AS paras
      FROM {table}
    )
    SELECT doc_id,
           {unit_stats('lines', 'line')},
           {unit_stats('paras', 'para')}
    FROM base
    """


def repetition_stats_sql(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """Oracle for textstats.repetition_stats: relational formulation
    (unnest bigrams → group → max) of the same per-doc numbers the Spark
    side computes with zero-shuffle array folds."""
    toks = _TOKS_EXPR.format(text=text_col, sep=SEP_SQL)
    return f"""
    WITH base AS (
      SELECT {id_col} AS doc_id, {toks} AS t FROM {table}
    ),
    bg AS (
      SELECT doc_id,
             len(t) AS n_tokens,
             len(t) - len(list_distinct(t)) AS n_dup_tokens,
             list_transform(range(1, greatest(len(t), 1)),
                            i -> t[i] || ' ' || t[i + 1]) AS bgs
      FROM base
    ),
    tops AS (
      SELECT doc_id, max(c) AS top FROM (
        SELECT doc_id, g, count(*) AS c
        FROM (SELECT doc_id, unnest(bgs) AS g FROM bg)
        GROUP BY doc_id, g
      ) GROUP BY doc_id
    )
    SELECT b.doc_id, b.n_tokens, b.n_dup_tokens,
           coalesce(tp.top, 0) AS top_bigram_count,
           CAST(floor(10000 * b.n_dup_tokens / greatest(b.n_tokens, 1))
                AS BIGINT) AS dup_token_frac_e4,
           CAST(floor(10000 * coalesce(tp.top, 0) / greatest(len(b.bgs), 1))
                AS BIGINT) AS top_bigram_frac_e4
    FROM bg b LEFT JOIN tops tp USING (doc_id)
    """


def redact_pii_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_expr: str = "text",
) -> str:
    """Oracle for textstats.redact_pii: the same ordered count+replace
    chain (PII_PATTERNS is the shared contract) as sequential CTEs."""
    from .operators.textstats import PII_PATTERNS

    prev = "s0"
    ctes = [f"s0 AS (SELECT {id_col} AS doc_id, {text_expr} AS t FROM {table})"]
    count_cols = []
    for i, (name, pat, repl) in enumerate(PII_PATTERNS, start=1):
        count_cols.append(f"n_{name}")
        carried = ", ".join(count_cols[:-1])
        carried = carried + ", " if carried else ""
        ctes.append(
            f"s{i} AS (SELECT doc_id, {carried}"
            f"len(regexp_extract_all(t, '{pat}')) AS n_{name}, "
            f"regexp_replace(t, '{pat}', '{repl}', 'g') AS t FROM {prev})"
        )
        prev = f"s{i}"
    cols = ", ".join(count_cols)
    return f"""
    WITH {', '.join(ctes)}
    SELECT doc_id, {cols}, t AS redacted FROM {prev}
    """


def sample_per_key_sql(
    table: str = "documents",
    key_col: str = "lang",
    id_col: str = "doc_id",
    k: int = 25,
    salt: str = "sample",
) -> str:
    """Oracle for corpus.sample_per_key: identical md5-ordered window."""
    return f"""
    SELECT * FROM (
      SELECT *, row_number() OVER (
        PARTITION BY {key_col}
        ORDER BY md5('{salt}:' || {id_col}::VARCHAR), {id_col}
      ) AS sample_rank FROM {table}
    ) WHERE sample_rank <= {k}
    """


def fingerprints_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 8,
) -> str:
    toks = _TOKS_EXPR.format(text=text_col, sep=SEP_SQL)
    return f"""
    WITH base AS (
      SELECT {id_col} AS doc_id,
             array_to_string({toks}, ' ') AS norm
      FROM {table}
    )
    SELECT doc_id,
           list_min(list_transform(
             [substr(norm, i, {ngram}) FOR i IN range(1, length(norm) - {ngram} + 2)],
             g -> md5(g))) AS fingerprint
    FROM base
    """


# DOUBLE[] casts keep DuckDB in float64 like Spark (FLOAT[] overloads
# accumulate in float32 and drift at the 6th rounded digit)
KNN_SCORE_SQL = (
    "(1.0 + list_dot_product(embedding::DOUBLE[], q::DOUBLE[])"
    " / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))"
    " * sqrt(list_dot_product(q::DOUBLE[], q::DOUBLE[])))) / 2.0"
)


def knn_oracle_sql(
    *,
    query_vec_id: int = 0,
    k: int = 15,
    min_score: float | None = None,
    where_sql: str | None = None,
    payload_cols: tuple[str, ...] = (),
    round_digits: int = 6,
) -> str:
    """SQL mirroring operators.knn.knn_topk with the query vector taken
    from the embeddings table itself (deterministic parameter)."""
    conds = []
    if where_sql:
        conds.append(where_sql)
    if min_score is not None:
        conds.append(f"{KNN_SCORE_SQL} >= {min_score}")
    where = ("WHERE " + " AND ".join(conds)) if conds else ""
    payload = "".join(f", {c}" for c in payload_cols)
    return f"""
    WITH q AS (SELECT embedding AS q FROM embeddings WHERE vec_id = {query_vec_id})
    SELECT vec_id, round({KNN_SCORE_SQL}, {round_digits}) AS score{payload}
    FROM embeddings, q
    {where}
    ORDER BY {KNN_SCORE_SQL} DESC, vec_id
    LIMIT {k}
    """


def knn_int8_oracle_sql(*, query_vec_id: int = 0, k: int = 15) -> str:
    """SQL mirroring operators.knn.knn_topk_int8: the engine-exact
    quantizer (floor(x/scale + 0.5), scale = max|x|/127) replayed in
    DuckDB, then the standard cosine top-k over the dequantized
    vectors."""
    score = (
        "(1.0 + list_dot_product(deq, q::DOUBLE[])"
        " / (sqrt(list_dot_product(deq, deq))"
        " * sqrt(list_dot_product(q::DOUBLE[], q::DOUBLE[])))) / 2.0"
    )
    return f"""
    WITH q AS (SELECT embedding AS q FROM embeddings
               WHERE vec_id = {query_vec_id}),
    base AS (
      SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings
    ), scaled AS (
      SELECT vec_id, e,
             list_max(list_transform(e, x -> abs(x))) / 127.0 AS scale
      FROM base
    ), deq AS (
      SELECT vec_id,
             list_transform(
               e, x -> CASE WHEN scale = 0 THEN 0.0
                            ELSE floor(x / scale + 0.5) * scale END
             ) AS deq
      FROM scaled
    )
    SELECT vec_id, round({score}, 6) AS score
    FROM deq, q
    ORDER BY {score} DESC, vec_id
    LIMIT {k}
    """


def _plane_literal(plane: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in plane) + "]::DOUBLE[]"


def knn_lsh_oracle_sql(
    *,
    dim: int = 64,
    n_planes: int = 4,
    seed: int = 42,
    k: int = 5,
    n_queries: int = 5,
) -> str:
    """END-TO-END oracle for the sign-LSH KNN join: the hyperplanes are
    deterministic (knn._hyperplane golden-ratio chain), so the oracle
    inlines the SAME planes as literals and replays bucket assignment +
    candidate join + exact scoring + per-query top-k. 'Approximate'
    never meant non-deterministic — the oracle reproduces the identical
    approximation, so the LSH path is hash-gated, not just
    recall-graded. (Sign boundaries: a flip would need |dot| within
    float-summation noise of 0 — measure-zero for real embeddings.)"""
    from .operators.knn import _hyperplane

    planes = [_hyperplane(dim, seed + p) for p in range(n_planes)]
    bits = " || ".join(
        f"(CASE WHEN list_dot_product(v, {_plane_literal(p)}) >= 0"
        f" THEN '1' ELSE '0' END)"
        for p in planes
    )
    cos = (
        "list_dot_product(c.v, q.qv)"
        " / (sqrt(list_dot_product(c.v, c.v))"
        " * sqrt(list_dot_product(q.qv, q.qv)))"
    )
    return f"""
    WITH e AS (
      SELECT vec_id AS doc_id, embedding::DOUBLE[] AS v FROM embeddings
    ), c AS (
      SELECT doc_id, {bits} AS bucket, v FROM e
    ), q AS (
      SELECT doc_id AS query_id, bucket, v AS qv
      FROM c WHERE doc_id < {n_queries}
    ), cand AS (
      SELECT q.query_id, c.doc_id AS vec_id,
             (1.0 + {cos}) / 2.0 AS score
      FROM c JOIN q USING (bucket)
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY query_id
                 ORDER BY score DESC, vec_id) AS rank
      FROM cand
    )
    SELECT query_id, vec_id, round(score, 6) AS score, rank
    FROM r WHERE rank <= {k}
    """


def embedding_lsh_oracle_sql(
    *,
    threshold: float = 0.7,
    dim: int = 64,
    n_planes: int = 6,
    n_tables: int = 6,
    seed: int = 42,
    max_bucket: int | None = None,
) -> str:
    """END-TO-END oracle for the multi-table sign-LSH embedding
    near-dup: same inlined deterministic hyperplanes (T*p of them, the
    same seed layout as embedding_near_duplicates_lsh), per-table
    signatures via UNION ALL, candidate pairs on (table, signature)
    collisions, exact cosine verify at the threshold. ``max_bucket``
    replays the operator's hot-bucket guard: buckets with more members
    are excluded from candidate generation on both sides."""
    from .operators.knn import _hyperplane

    sigs = []
    for t in range(n_tables):
        planes = [
            _hyperplane(dim, seed + t * n_planes + p) for p in range(n_planes)
        ]
        bits = " || ".join(
            f"(CASE WHEN list_dot_product(v, {_plane_literal(p)}) >= 0"
            f" THEN '1' ELSE '0' END)"
            for p in planes
        )
        sigs.append(f"SELECT doc_id, {t} AS tbl, {bits} AS sig FROM e")
    sig_union = "\n      UNION ALL ".join(sigs)
    if max_bucket is None:
        keep_ctes, cand_src = "", "sig"
    else:
        keep_ctes = (
            ", keepb AS (\n"
            "      SELECT tbl, sig FROM sig GROUP BY tbl, sig\n"
            f"      HAVING count(*) <= {max_bucket}\n"
            "    ), kept AS (\n"
            "      SELECT s.* FROM sig s JOIN keepb USING (tbl, sig)\n"
            "    )"
        )
        cand_src = "kept"
    cos = (
        "list_dot_product(ea.v, eb.v)"
        " / (sqrt(list_dot_product(ea.v, ea.v))"
        " * sqrt(list_dot_product(eb.v, eb.v)))"
    )
    return f"""
    WITH e AS (
      SELECT vec_id AS doc_id, embedding::DOUBLE[] AS v FROM embeddings
    ), sig AS (
      {sig_union}
    ){keep_ctes}, cand AS (
      SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
      FROM {cand_src} x JOIN {cand_src} y
        ON x.tbl = y.tbl AND x.sig = y.sig AND x.doc_id < y.doc_id
    ), scored AS (
      SELECT a, b, 1.0 - (1.0 - {cos}) / 2.0 AS score
      FROM cand
      JOIN e ea ON cand.a = ea.doc_id
      JOIN e eb ON cand.b = eb.doc_id
    )
    SELECT a, b, round(score, 6) AS score
    FROM scored WHERE score >= {threshold}
    """


def mmr_oracle_sql(
    *,
    query_vec_id: int = 0,
    k: int = 10,
    n_candidates: int = 40,
    lam: float = 0.7,
) -> str:
    """Unrolled-CTE greedy MMR mirroring operators.knn.mmr_rerank: step i
    joins the i-1 single-row pick CTEs, excludes their ids, and takes the
    argmax of round(lam*rel - (1-lam)*greatest(rounded pairwise sims), 6)
    with the id tie-break. Same unrolling trick as the PageRank oracle —
    the greedy recurrence is fixed-depth, so plain SQL expresses it."""

    def sim(a: str, b: str) -> str:
        return (
            f"round((1.0 + list_dot_product({a}::DOUBLE[], {b}::DOUBLE[])"
            f" / (sqrt(list_dot_product({a}::DOUBLE[], {a}::DOUBLE[]))"
            f" * sqrt(list_dot_product({b}::DOUBLE[], {b}::DOUBLE[])))) / 2.0, 6)"
        )

    ctes = [
        f"""q AS (SELECT embedding AS q FROM embeddings
              WHERE vec_id = {query_vec_id}),
    cand AS MATERIALIZED (
      SELECT vec_id, round({KNN_SCORE_SQL}, 6) AS score, embedding
      FROM embeddings, q
      ORDER BY {KNN_SCORE_SQL} DESC, vec_id LIMIT {n_candidates}
    ),
    p1 AS (
      SELECT vec_id, score, embedding, round({lam} * score, 6) AS obj
      FROM cand ORDER BY obj DESC, vec_id LIMIT 1
    )"""
    ]
    for i in range(2, k + 1):
        prevs = range(1, i)
        joins = " ".join(f"CROSS JOIN p{j}" for j in prevs)
        not_in = ", ".join(f"p{j}.vec_id" for j in prevs)
        sims = ", ".join(sim("c.embedding", f"p{j}.embedding") for j in prevs)
        maxsim = f"greatest({sims})" if len(list(prevs)) > 1 else sims
        ctes.append(
            f"""p{i} AS (
      SELECT c.vec_id, c.score, c.embedding,
             round({lam} * c.score - {1.0 - lam:.17g} * {maxsim}, 6) AS obj
      FROM cand c {joins}
      WHERE c.vec_id NOT IN ({not_in})
      ORDER BY obj DESC, c.vec_id LIMIT 1
    )"""
        )
    union = "\n      UNION ALL ".join(
        f"SELECT {i} AS rank, vec_id, score, obj AS mmr_obj FROM p{i}"
        for i in range(1, k + 1)
    )
    return "WITH " + ",\n    ".join(ctes) + f"\n    {union}\n    ORDER BY rank"


# ---------------------------------------------------------------------------
# Event analytics oracles (operators/events.py)
# ---------------------------------------------------------------------------

# Mirror of events._avg6: round(avg(value), 6) with BOTH the sum and
# the half-away rounding decision in exact integer arithmetic —
# q = (200·|s| + n) // (2·n) on BIGINTs, one double division by 1e6.
# The previous double form round((s/1e4)/n, 6) split a 6-decimal
# round-half boundary between the engines at sf1 (13911.3/320).
_AVG6_SQL = """CASE WHEN count(value) = 0 THEN NULL ELSE
             (CASE WHEN sum(CAST(round(value * 10000, 0) AS BIGINT)) >= 0
               THEN (200 * sum(CAST(round(value * 10000, 0) AS BIGINT))
                     + count(value)) // (2 * count(value))
               ELSE -((200 * -sum(CAST(round(value * 10000, 0) AS BIGINT))
                     + count(value)) // (2 * count(value))) END)
             / 1000000.0 END"""


def windowed_agg_sql(table: str = "events", minutes: int = 60) -> str:
    """time_bucket is epoch-aligned for divisors of a day, matching
    Spark's tumbling ``F.window`` alignment."""
    return f"""
    SELECT time_bucket(INTERVAL '{minutes} minutes', ts) AS window_start,
           event_type,
           count(*) AS n_events,
           -- exact e4-scaled integer sum, then ONE double division:
           -- identical integers in, identical doubles out on both
           -- engines (a float sum's last ulp is order-dependent and
           -- split a round-half boundary at sf0.1)
           round(CAST(sum(CAST(round(value * 10000, 0) AS BIGINT)) AS DOUBLE) / 10000.0, 6) AS sum_value,
           {_AVG6_SQL} AS avg_value
    FROM {table}
    GROUP BY 1, 2
    """


def sessionize_sql(table: str = "events", gap_minutes: int = 30) -> str:
    gap_us = gap_minutes * 60 * 1_000_000
    return f"""
    WITH gaps AS (
      SELECT user_id, ts, event_id, value,
             epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us
      FROM {table}
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    flagged AS (
      SELECT *, CASE WHEN gap_us IS NULL OR gap_us > {gap_us}
                     THEN 1 ELSE 0 END AS new_session
      FROM gaps
    ),
    numbered AS (
      -- CAST: DuckDB sum(INTEGER) yields HUGEINT, which pandas coerces to
      -- float64 and the driver hash then sees 3.0 vs Spark's 3.
      SELECT *, CAST(sum(new_session) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT) AS session_seq
      FROM flagged
    )
    SELECT user_id, session_seq,
           min(ts) AS session_start,
           max(ts) AS session_end,
           count(*) AS n_events,
           CAST(sum(CAST(round(value * 10000, 0) AS BIGINT)) AS BIGINT) AS sum_value_e4
    FROM numbered GROUP BY user_id, session_seq
    """


def sessionize_contract_sql(table: str = "events", gap_minutes: int = 30) -> str:
    """Hash-proof contract form: session bounds as integer epoch-micros
    (timestamps serialize identically on both sides today, but integers
    are precision-proof by construction) + the exact scaled-integer sum."""
    return f"""
    SELECT user_id, session_seq,
           epoch_us(session_start) AS session_start_us,
           epoch_us(session_end) AS session_end_us,
           n_events, sum_value_e4
    FROM ({sessionize_sql(table=table, gap_minutes=gap_minutes)})
    """


def funnel_sql(
    table: str = "events",
    steps: tuple[str, str, str] = ("view", "click", "purchase"),
    horizon_minutes: int = 7 * 24 * 60,
) -> str:
    """Noiseless twin of operators.events.funnel: stepK's time is the
    minimum epoch-micros of a stepK event strictly after step(K-1) and
    within the horizon of the step1 anchor; the report counts users per
    completed-step depth (0..3). All comparisons on integer micros."""
    s1, s2, s3 = steps
    h_us = horizon_minutes * 60 * 1_000_000
    return f"""
    WITH t1 AS (
      SELECT user_id, min(epoch_us(ts)) AS t1
      FROM {table} WHERE event_type = '{s1}' GROUP BY user_id
    ), t2 AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS t2
      FROM {table} e JOIN t1 USING (user_id)
      WHERE e.event_type = '{s2}'
        AND epoch_us(e.ts) > t1.t1 AND epoch_us(e.ts) <= t1.t1 + {h_us}
      GROUP BY e.user_id
    ), t3 AS (
      SELECT e.user_id, min(epoch_us(e.ts)) AS t3
      FROM {table} e JOIN t1 USING (user_id) JOIN t2 USING (user_id)
      WHERE e.event_type = '{s3}'
        AND epoch_us(e.ts) > t2.t2 AND epoch_us(e.ts) <= t1.t1 + {h_us}
      GROUP BY e.user_id
    )
    SELECT steps_completed, count(*) AS n_users FROM (
      SELECT CASE WHEN t3.t3 IS NOT NULL THEN 3
                  WHEN t2.t2 IS NOT NULL THEN 2
                  WHEN t1.t1 IS NOT NULL THEN 1
                  ELSE 0 END AS steps_completed
      FROM (SELECT DISTINCT user_id FROM {table}) u
      LEFT JOIN t1 USING (user_id)
      LEFT JOIN t2 USING (user_id)
      LEFT JOIN t3 USING (user_id)
    ) GROUP BY steps_completed
    """


def retention_sql(table: str = "events", days: int = 7) -> str:
    """Noiseless twin of operators.events.retention_cohorts: epoch-aligned
    integer bucket division on epoch micros (`//` — both engines truncate
    identically on the positive range)."""
    bucket_us = days * 86_400 * 1_000_000
    return f"""
    WITH pairs AS (
      SELECT DISTINCT user_id, epoch_us(ts) // {bucket_us} AS bucket
      FROM {table}
    ), coh AS (
      SELECT user_id, min(bucket) AS cohort_bucket FROM pairs GROUP BY user_id
    )
    SELECT cohort_bucket, bucket - cohort_bucket AS bucket_offset,
           count(*) AS n_users
    FROM pairs JOIN coh USING (user_id)
    GROUP BY 1, 2
    """


def rolling_anomaly_sql(
    table: str = "events",
    *,
    bucket_minutes: int = 60,
    lookback: int = 24,
    z_threshold: float = 3.0,
) -> str:
    """Noiseless twin of operators.events.rolling_anomaly: the same
    integer epoch-bucket counts, trailing rows-window mean/stddev_samp
    (current row excluded), and rounded emitted stats."""
    bucket_us = bucket_minutes * 60 * 1_000_000
    return f"""
    WITH counts AS (
      SELECT event_type, epoch_us(ts) // {bucket_us} AS bucket,
             count(*) AS n_events
      FROM {table} GROUP BY 1, 2
    ), stats AS (
      SELECT event_type, bucket * {bucket_us} AS bucket_start_us, n_events,
             avg(n_events) OVER w AS m,
             stddev_samp(n_events) OVER w AS s,
             count(n_events) OVER w AS n_prev
      FROM counts
      WINDOW w AS (PARTITION BY event_type ORDER BY bucket
                   ROWS BETWEEN {lookback} PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, bucket_start_us, n_events,
           round(m, 4) AS mean_prev,
           round((n_events - m) / s, 4) AS z_score
    FROM stats
    WHERE n_prev >= 2 AND s > 0 AND abs((n_events - m) / s) > {z_threshold}
    """


def triangles_sql(
    table: str = "lineitem",
    group_col: str = "l_orderkey",
    item_col: str = "l_partkey",
    max_df: int = 50,
) -> str:
    """Noiseless twin of cooccurrence_edges + triangles_per_node: the
    same degree cap, a<b edge orientation, and a<b<c wedge closure."""
    return f"""
    WITH pres0 AS (
      SELECT DISTINCT {group_col} AS g, {item_col} AS itm FROM {table}
    ), keep AS (
      SELECT itm FROM pres0 GROUP BY itm HAVING count(*) <= {max_df}
    ), pres AS (
      SELECT g, itm FROM pres0 JOIN keep USING (itm)
    ), e AS (
      SELECT DISTINCT p1.itm AS a, p2.itm AS b
      FROM pres p1 JOIN pres p2 ON p1.g = p2.g AND p1.itm < p2.itm
    ), tri AS (
      SELECT e1.a AS ta, e1.b AS tb, e2.b AS tc
      FROM e e1
      JOIN e e2 ON e1.b = e2.a
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT node, count(*) AS n_triangles FROM (
      SELECT ta AS node FROM tri
      UNION ALL SELECT tb FROM tri
      UNION ALL SELECT tc FROM tri
    ) GROUP BY node
    """


def kcore_sql(
    table: str = "lineitem",
    group_col: str = "l_orderkey",
    item_col: str = "l_partkey",
    max_df: int = 50,
    k: int = 3,
    rounds: int = 8,
) -> str:
    """Noiseless twin of cooccurrence_edges + graph.kcore: the same
    degree-capped a<b edge list with the peeling rounds UNROLLED
    (e0 -> e1 -> ... -> e{rounds}). Every survivor CTE is MATERIALIZED —
    each round references its predecessor three times (two degree arms +
    the join base), so inlining would blow up 3^rounds."""
    ctes = [
        f"""pres0 AS (
      SELECT DISTINCT {group_col} AS g, {item_col} AS itm FROM {table}
    ), keep AS (
      SELECT itm FROM pres0 GROUP BY itm HAVING count(*) <= {max_df}
    ), pres AS (
      SELECT g, itm FROM pres0 JOIN keep USING (itm)
    ), e0 AS MATERIALIZED (
      SELECT DISTINCT p1.itm AS a, p2.itm AS b
      FROM pres p1 JOIN pres p2 ON p1.g = p2.g AND p1.itm < p2.itm
    )"""
    ]
    for r in range(1, rounds + 1):
        p = r - 1
        ctes.append(
            f"""k{r} AS (
      SELECT node FROM (
        SELECT a AS node FROM e{p} UNION ALL SELECT b FROM e{p}
      ) GROUP BY node HAVING count(*) >= {k}
    ), e{r} AS MATERIALIZED (
      SELECT e.a, e.b FROM e{p} e
      JOIN k{r} ka ON e.a = ka.node
      JOIN k{r} kb ON e.b = kb.node
    )"""
        )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT node, count(*) AS core_deg FROM (
      SELECT a AS node FROM e{rounds} UNION ALL SELECT b FROM e{rounds}
    ) GROUP BY node"""
    )


def ohlc_sql(table: str = "events", *, bucket_minutes: int = 60) -> str:
    """Noiseless twin of events.ohlc_resample: identical epoch
    bucketing and (ts, event_id)-ordered row_number first/last."""
    bucket_us = bucket_minutes * 60 * 1_000_000
    return f"""
    WITH base AS (
      SELECT event_type, epoch_us(ts) // {bucket_us} AS b, ts, event_id,
             value AS v
      FROM {table}
    ), rn AS (
      SELECT *,
             row_number() OVER (PARTITION BY event_type, b
                                ORDER BY ts, event_id) AS ra,
             row_number() OVER (PARTITION BY event_type, b
                                ORDER BY ts DESC, event_id DESC) AS rd
      FROM base
    )
    SELECT event_type, b * {bucket_us} AS bucket_start_us,
           round(max(CASE WHEN ra = 1 THEN v END), 6) AS open,
           round(max(v), 6) AS high,
           round(min(v), 6) AS low,
           round(max(CASE WHEN rd = 1 THEN v END), 6) AS close,
           count(*) AS n_events
    FROM rn GROUP BY event_type, b
    """


def pagerank_sql(
    table: str = "lineitem",
    group_col: str = "l_orderkey",
    item_col: str = "l_partkey",
    max_df: int = 50,
    iters: int = 5,
    damping: float = 0.85,
) -> str:
    """Noiseless twin of cooccurrence_edges + graph.pagerank: the same
    degree-capped undirected edge list, with the fixed power iterations
    UNROLLED as a chain of CTEs (pr0 -> pr1 -> ... -> pr{iters})."""
    d = damping
    steps = []
    for i in range(1, iters + 1):
        steps.append(
            f"""pr{i} AS (
      SELECT nodes.node,
             (1.0 - {d}) / (SELECT n FROM nn)
               + {d} * coalesce(s.contrib, 0.0) AS pr
      FROM nodes LEFT JOIN (
        SELECT de.dst AS node, sum(p.pr / deg.deg) AS contrib
        FROM de
        JOIN pr{i - 1} p ON p.node = de.src
        JOIN deg ON deg.src = de.src
        GROUP BY de.dst
      ) s USING (node)
    )"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH pres0 AS (
      SELECT DISTINCT {group_col} AS g, {item_col} AS itm FROM {table}
    ), keep AS (
      SELECT itm FROM pres0 GROUP BY itm HAVING count(*) <= {max_df}
    ), pres AS (
      SELECT g, itm FROM pres0 JOIN keep USING (itm)
    ), e AS (
      SELECT DISTINCT p1.itm AS a, p2.itm AS b
      FROM pres p1 JOIN pres p2 ON p1.g = p2.g AND p1.itm < p2.itm
    ), de AS (
      SELECT a AS src, b AS dst FROM e
      UNION ALL
      SELECT b AS src, a AS dst FROM e
    ), deg AS (
      SELECT src, count(*) AS deg FROM de GROUP BY src
    ), nodes AS (
      SELECT src AS node FROM deg
    ), nn AS (
      SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes
    ), pr0 AS (
      SELECT node, 1.0 / (SELECT n FROM nn) AS pr FROM nodes
    ),
    {chain}
    SELECT node, round(pr{iters}.pr, 9) AS pr FROM pr{iters}
    """


def pagerank_personalized_sql(
    table: str = "lineitem",
    group_col: str = "l_orderkey",
    item_col: str = "l_partkey",
    seed_pred: str = "node % 10 = 0",
    max_df: int = 50,
    iters: int = 5,
    damping: float = 0.85,
) -> str:
    """Noiseless twin of graph.pagerank_personalized over the same
    degree-capped co-occurrence edges: identical unrolled CTE chain as
    pagerank_sql, with the uniform teleport replaced by a CASE over
    ``seed_pred`` (1/|seeds in graph| on seeds, 0 elsewhere)."""
    d = damping
    steps = []
    for i in range(1, iters + 1):
        steps.append(
            f"""pr{i} AS (
      SELECT nodes.node,
             (1.0 - {d}) * (CASE WHEN sd.node IS NOT NULL
                            THEN 1.0 / (SELECT n FROM ns) ELSE 0.0 END)
               + {d} * coalesce(s.contrib, 0.0) AS pr
      FROM nodes
      LEFT JOIN seeds sd ON sd.node = nodes.node
      LEFT JOIN (
        SELECT de.dst AS node, sum(p.pr / deg.deg) AS contrib
        FROM de
        JOIN pr{i - 1} p ON p.node = de.src
        JOIN deg ON deg.src = de.src
        GROUP BY de.dst
      ) s ON s.node = nodes.node
    )"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH pres0 AS (
      SELECT DISTINCT {group_col} AS g, {item_col} AS itm FROM {table}
    ), keep AS (
      SELECT itm FROM pres0 GROUP BY itm HAVING count(*) <= {max_df}
    ), pres AS (
      SELECT g, itm FROM pres0 JOIN keep USING (itm)
    ), e AS (
      SELECT DISTINCT p1.itm AS a, p2.itm AS b
      FROM pres p1 JOIN pres p2 ON p1.g = p2.g AND p1.itm < p2.itm
    ), de AS (
      SELECT a AS src, b AS dst FROM e
      UNION ALL
      SELECT b AS src, a AS dst FROM e
    ), deg AS (
      SELECT src, count(*) AS deg FROM de GROUP BY src
    ), nodes AS (
      SELECT src AS node FROM deg
    ), seeds AS (
      SELECT node FROM nodes WHERE {seed_pred}
    ), ns AS (
      SELECT CAST(count(*) AS DOUBLE) AS n FROM seeds
    ), pr0 AS (
      SELECT nodes.node,
             CASE WHEN sd.node IS NOT NULL
                  THEN 1.0 / (SELECT n FROM ns) ELSE 0.0 END AS pr
      FROM nodes LEFT JOIN seeds sd ON sd.node = nodes.node
    ),
    {chain}
    SELECT node, round(pr{iters}.pr, 9) AS pr FROM pr{iters}
    """


def ks_drift_sql(
    table: str = "events",
    group_col: str = "event_type",
    value_col: str = "value",
) -> str:
    """Noiseless twin of events.ks_drift: the same integer time-span
    midpoint split, RANGE-frame running counts (ties included on both
    sides), and sup of the CDF gap."""
    return f"""
    WITH src AS (
      SELECT {group_col} AS grp, {value_col} AS v, epoch_us(ts) AS us
      FROM {table} WHERE {value_col} IS NOT NULL AND ts IS NOT NULL
    ), bounds AS (
      SELECT grp, min(us) AS lo, max(us) AS hi FROM src GROUP BY grp
    ), tagged AS (
      SELECT s.grp, s.v,
             CASE WHEN s.us <= b.lo + (b.hi - b.lo) // 2
                  THEN 1 ELSE 0 END AS early
      FROM src s JOIN bounds b ON b.grp = s.grp
    ), stepped AS (
      SELECT grp,
             sum(early) OVER (PARTITION BY grp ORDER BY v
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c1,
             sum(1 - early) OVER (PARTITION BY grp ORDER BY v
               RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c2,
             sum(early) OVER (PARTITION BY grp) AS n1,
             sum(1 - early) OVER (PARTITION BY grp) AS n2
      FROM tagged
    )
    SELECT grp AS {group_col},
           CAST(max(n1) AS BIGINT) AS n_early,
           CAST(max(n2) AS BIGINT) AS n_late,
           round(max(abs(c1 * 1.0 / n1 - c2 * 1.0 / n2)), 6) AS ks_stat
    FROM stepped GROUP BY grp
    """


def psi_drift_sql(
    table: str = "events",
    group_col: str = "event_type",
    value_col: str = "value",
    n_buckets: int = 10,
) -> str:
    """Noiseless twin of events.psi_drift: same midpoint split,
    fixed-width bucket arithmetic, Laplace smoothing over OBSERVED
    buckets, and log-ratio fold."""
    k = n_buckets
    return f"""
    WITH src AS (
      SELECT {group_col} AS grp, {value_col} AS v, epoch_us(ts) AS us
      FROM {table} WHERE {value_col} IS NOT NULL AND ts IS NOT NULL
    ), bounds AS (
      SELECT grp, min(us) AS lo, max(us) AS hi,
             min(v) AS vlo, max(v) AS vhi
      FROM src GROUP BY grp
    ), tagged AS (
      SELECT s.grp,
             CASE WHEN b.vhi = b.vlo THEN 0
                  ELSE least({k - 1}, CAST(floor(
                    (s.v - b.vlo) / ((b.vhi - b.vlo) / {float(k)})
                  ) AS INT)) END AS b,
             CASE WHEN s.us <= b.lo + (b.hi - b.lo) // 2
                  THEN 1 ELSE 0 END AS early
      FROM src s JOIN bounds b ON b.grp = s.grp
    ), cells AS (
      SELECT grp, b, sum(early) AS ce, sum(1 - early) AS cl
      FROM tagged GROUP BY grp, b
    ), smoothed AS (
      SELECT grp,
             sum(ce) OVER (PARTITION BY grp) AS n1,
             sum(cl) OVER (PARTITION BY grp) AS n2,
             (ce + 0.5) AS se, (cl + 0.5) AS sl
      FROM cells
    )
    SELECT grp AS {group_col},
           CAST(max(n1) AS BIGINT) AS n_early,
           CAST(max(n2) AS BIGINT) AS n_late,
           round(sum(CASE WHEN n1 > 0 AND n2 > 0 THEN
             (se / (n1 + {0.5 * k}) - sl / (n2 + {0.5 * k}))
             * ln((se / (n1 + {0.5 * k})) / (sl / (n2 + {0.5 * k})))
           END), 6) AS psi
    FROM smoothed GROUP BY grp
    """


def char_entropy_sql(table: str = "documents") -> str:
    """Noiseless twin of textstats.char_entropy (documents with empty
    text keep a zero row via the left join)."""
    return f"""
    WITH chars AS (
      SELECT doc_id, u.ch
      FROM {table}, unnest(string_split(text, '')) AS u(ch)
    ), counts AS (
      SELECT doc_id, ch, count(*) AS c FROM chars GROUP BY 1, 2
    ), tot AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n FROM counts GROUP BY 1
    ), ent AS (
      SELECT c.doc_id,
             CAST(count(*) AS BIGINT) AS n_distinct_chars,
             -sum((c * 1.0 / n) * log2(c * 1.0 / n)) AS e
      FROM counts c JOIN tot USING (doc_id)
      GROUP BY c.doc_id, n
    )
    SELECT d.doc_id,
           COALESCE(t.n, 0) AS n_chars,
           COALESCE(ent.n_distinct_chars, 0) AS n_distinct_chars,
           round(COALESCE(ent.e, 0.0), 6) AS char_entropy
    FROM {table} d
    LEFT JOIN tot t USING (doc_id)
    LEFT JOIN ent USING (doc_id)
    """


def props_extract_sql(table: str = "events") -> str:
    return f"""
    WITH extracted AS (
      SELECT CAST(regexp_extract(props, '"k":\\s*(-?\\d+)', 1) AS BIGINT) AS k,
             event_type, value
      FROM {table}
    )
    SELECT (k // 10) * 10 AS k_bucket, event_type,
           count(*) AS n_events,
           {_AVG6_SQL} AS avg_value
    FROM extracted WHERE k IS NOT NULL
    GROUP BY 1, 2
    """


def top_users_per_type_sql(table: str = "events", k: int = 3) -> str:
    return f"""
    WITH totals AS (
      SELECT event_type, user_id,
             round(CAST(sum(CAST(round(value * 10000, 0) AS BIGINT)) AS DOUBLE) / 10000.0, 6) AS total_value,
             count(*) AS n_events
      FROM {table} GROUP BY 1, 2
    )
    SELECT * FROM (
      SELECT *, row_number() OVER
               (PARTITION BY event_type
                ORDER BY total_value DESC, user_id) AS rank
      FROM totals
    ) WHERE rank <= {k}
    """


def debounce_sql(table: str = "events", *, quiet_seconds: int = 300) -> str:
    """Noiseless twin of events.debounce: same lag-gap leader rule,
    running-sum burst ids, per-burst sizes, integer micros."""
    gap_us = quiet_seconds * 1_000_000
    return f"""
    WITH marked AS (
      SELECT event_id, user_id, event_type, epoch_us(ts) AS t,
             CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                    OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {gap_us}
                  THEN 1 ELSE 0 END AS lead_flag
      FROM {table}
      WINDOW w AS (PARTITION BY user_id, event_type
                   ORDER BY epoch_us(ts), event_id)
    ), sized AS (
      SELECT *, sum(lead_flag) OVER
               (PARTITION BY user_id, event_type
                ORDER BY t, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS burst
      FROM marked
    )
    SELECT event_id, user_id, event_type, t AS ts_us,
           count(*) OVER (PARTITION BY user_id, event_type, burst)
             AS burst_len
    FROM sized
    QUALIFY lead_flag = 1
    """


def gapfill_sql(table: str = "events", *, bucket_minutes: int = 60) -> str:
    """Noiseless twin of events.gapfill_resample: same integer bucket
    grid (generate_series over per-type min..max), left join, and
    ignore-nulls forward fill. FLOOR bucketing (pmod trick) matches the
    operator for pre-1970 timestamps."""
    bucket_us = bucket_minutes * 60 * 1_000_000
    return f"""
    WITH agg AS (
      SELECT event_type, {_floor_div("epoch_us(ts)", bucket_us)} AS b,
             count(*) AS n, round(CAST(sum(CAST(round(value * 10000, 0) AS BIGINT)) AS DOUBLE) / 10000.0, 6) AS s
      FROM {table} GROUP BY 1, 2
    ), bounds AS (
      SELECT event_type, min(b) AS b0, max(b) AS b1 FROM agg GROUP BY 1
    ), grid AS (
      SELECT event_type, unnest(generate_series(b0, b1)) AS b FROM bounds
    )
    SELECT g.event_type, g.b * {bucket_us} AS bucket_start_us,
           coalesce(a.n, 0) AS n_events,
           last_value(a.s IGNORE NULLS) OVER
             (PARTITION BY g.event_type ORDER BY g.b
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS filled_sum,
           CAST(a.n IS NULL AS INT) AS is_gap
    FROM grid g LEFT JOIN agg a ON g.event_type = a.event_type AND g.b = a.b
    """


def value_histogram_sql(table: str = "events", width: float = 25.0) -> str:
    """Noiseless twin of operators.events.value_histogram: same
    floor(value/width) binning on IEEE doubles, same rounded stats."""
    return f"""
    SELECT event_type,
           CAST(floor(value / {width}) AS BIGINT) AS bin,
           count(*) AS n_events,
           round(min(value), 6) AS min_value,
           round(max(value), 6) AS max_value,
           {_AVG6_SQL} AS avg_value,
           round(CAST(floor(value / {width}) AS BIGINT) * {width}, 6) AS bin_lo
    FROM {table}
    GROUP BY 1, 2
    """


# ---------------------------------------------------------------------------
# Build-pipeline oracles (pipeline/: change detection, chunking, sinks)
# ---------------------------------------------------------------------------

# Shared simulated filesystem/index states over `documents` — must stay
# in lockstep with pipeline/change_detection.py simulated_*_state.
_PIPELINE_STATES = """
    fs AS (
      SELECT 'doc-' || doc_id AS file_path,
             doc_id % 1000
               + (CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END)
               + (CASE WHEN doc_id % 11 = 0 THEN 2 ELSE 0 END) AS mtime,
             md5(CASE WHEN doc_id % 7 = 0 THEN text || ' changed'
                      ELSE text END) AS content_hash
      FROM documents WHERE doc_id % 10 != 0
    ),
    idx AS (
      SELECT 'doc-' || doc_id AS file_path,
             doc_id % 1000 AS mtime,
             md5(text) AS content_hash
      FROM documents WHERE doc_id % 13 != 0
    ),
    ch AS (
      SELECT coalesce(fs.file_path, idx.file_path) AS file_path,
             CASE WHEN idx.file_path IS NULL THEN 'added'
                  WHEN fs.file_path IS NULL THEN 'deleted'
                  WHEN fs.mtime = idx.mtime THEN 'unchanged'
                  WHEN fs.content_hash = idx.content_hash THEN 'touched'
                  ELSE 'modified' END AS status
      FROM fs FULL JOIN idx ON fs.file_path = idx.file_path
    )
"""


def change_detection_sql() -> str:
    return f"WITH {_PIPELINE_STATES} SELECT file_path, status FROM ch"


def apply_changeset_sql() -> str:
    """After upsert+repair+delete the index state IS the fs state."""
    return f"WITH {_PIPELINE_STATES} SELECT file_path, mtime, content_hash FROM fs"


def branch_fork_sql() -> str:
    """Rows copied verbatim from the merge-base ancestor DB: the
    hash-unchanged files (branch_synchronizer.go:198-424)."""
    return f"""
    WITH {_PIPELINE_STATES}
    SELECT i.file_path, i.mtime, i.content_hash FROM idx i
    WHERE i.file_path IN (SELECT file_path FROM ch WHERE status = 'unchanged')
    """


def chunk_fixed_tokens_sql(
    table: str = "documents", *, tokens_per_chunk: int = 32
) -> str:
    n = tokens_per_chunk
    return f"""
    WITH t AS (
      SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS words FROM {table}
    ),
    e AS (
      SELECT doc_id, words,
             unnest(range(CAST(ceil(len(words) / {n}.0) AS BIGINT))) AS chunk_idx
      FROM t WHERE len(words) > 0
    )
    SELECT 'doc-' || doc_id || '-s' || chunk_idx AS chunk_id,
           doc_id,
           chunk_idx,
           array_to_string(words[chunk_idx*{n}+1 : chunk_idx*{n}+{n}], ' ')
             AS chunk_text,
           len(words[chunk_idx*{n}+1 : chunk_idx*{n}+{n}]) AS n_tokens
    FROM e
    """


def chunk_assembly_sql(table: str = "documents") -> str:
    return f"""
    WITH w AS (
      SELECT *, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS words FROM {table}
    )
    SELECT 'code-symbols-' || doc_id AS chunk_id, doc_id,
           'symbols' AS chunk_type,
           'Symbols: ' || array_to_string(words[1:8], ' ') AS chunk_text
    FROM w
    UNION ALL
    SELECT 'code-definitions-' || doc_id, doc_id, 'definitions',
           printf('Language: %s; source: %s; tokens: %d',
                  lang, source, len(words))
    FROM w
    UNION ALL
    SELECT 'code-data-' || doc_id, doc_id, 'data', substring(text, 1, 100)
    FROM w
    """


def search_semantic_oracle_sql(
    query: str = "key agg row scan",
    *,
    dim: int = 32,
    limit: int = 15,
    min_score: float = 0.05,
    language: str = "en",
) -> str:
    """END-TO-END oracle for the cortex_search composite
    (chunk → hash-embed → KNN → payload → tag filters → min_score →
    top-k): the hash provider's token hash is md5 precisely so this is
    possible. The oracle rebuilds each chunk's signed bucket sums in
    SQL, float32-quantizes them exactly the way the stored vectors are
    (s/sqrt(ss) cast to FLOAT4 — bit-identical IEEE), and scores
    against the query's components (computed here in Python with the
    SAME provider arithmetic and inlined as exact round-trip literals,
    including the left-fold query norm Spark's aggregate computes)."""
    import hashlib
    import math

    import numpy as np

    vec = np.zeros(dim, dtype=np.float64)
    for tok in ["[query]"] + query.lower().split():
        h = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)
        vec[h % dim] += 1.0 if (h >> 16) % 2 == 0 else -1.0
    nrm = np.linalg.norm(vec)
    if nrm > 0:
        vec = vec / nrm
    qd = [float(x) for x in vec.astype(np.float32)]
    acc = 0.0
    for v in qd:  # replicate Spark's left-fold l2_norm exactly
        acc += v * v
    qnorm = math.sqrt(acc)
    qvals = ", ".join(f"({b}, {v!r})" for b, v in enumerate(qd) if v != 0.0)
    hx = "('0x' || substr(md5(tok), 1, 8))::BIGINT"
    return f"""
    WITH chunks AS ({chunk_assembly_sql()}),
    payload AS (SELECT doc_id, lang AS language FROM documents),
    ctoks AS (
      SELECT chunk_id, unnest(list_prepend('[passage]',
        list_filter(string_split_regex(lower(chunk_text), '\\s+'),
                    x -> x <> ''))) AS tok
      FROM chunks
    ), cw AS (
      SELECT chunk_id, {hx} % {dim} AS bucket,
             sum(CASE WHEN ({hx} // 65536) % 2 = 0 THEN 1 ELSE -1 END) AS s
      FROM ctoks GROUP BY 1, 2
    ), css AS (
      SELECT chunk_id, sum(s * s) AS ss FROM cw GROUP BY 1
    ), comp AS (
      SELECT cw.chunk_id, cw.bucket,
             CAST(CAST(cw.s AS DOUBLE) / sqrt(CAST(css.ss AS DOUBLE))
                  AS FLOAT4) AS c
      FROM cw JOIN css USING (chunk_id)
      WHERE cw.s <> 0 AND css.ss > 0
    ), qw(bucket, qc) AS (VALUES {qvals}),
    scored0 AS (
      SELECT comp.chunk_id,
             sum(CAST(comp.c AS DOUBLE) * coalesce(qw.qc, 0.0)) AS dot,
             sqrt(sum(CAST(comp.c AS DOUBLE) * CAST(comp.c AS DOUBLE)))
               AS nrm
      FROM comp LEFT JOIN qw USING (bucket)
      GROUP BY 1
    ), scored AS (
      SELECT chunk_id, (1.0 + dot / (nrm * {qnorm!r})) / 2.0 AS score
      FROM scored0
    )
    SELECT s.chunk_id, round(s.score, 6) AS score, c.doc_id,
           c.chunk_type, p.language
    FROM scored s
    JOIN chunks c USING (chunk_id)
    JOIN payload p USING (doc_id)
    WHERE p.language = '{language}' AND c.chunk_type <> 'documentation'
      AND s.score >= {min_score}
    ORDER BY s.score DESC, s.chunk_id
    LIMIT {limit}
    """


def sessionize_stream_sql(table: str = "events", gap_minutes: int = 30) -> str:
    """The streaming sessionizer's shape: batch sessions without the
    per-user sequence number (session identity = its start time), with
    the same integer-micros/scaled-sum hardening as the batch contract."""
    return f"""
    SELECT user_id,
           epoch_us(session_start) AS session_start_us,
           epoch_us(session_end) AS session_end_us,
           n_events, sum_value_e4
    FROM ({sessionize_sql(table=table, gap_minutes=gap_minutes)})
    """


# ---------------------------------------------------------------------------
# Multimodal oracles (operators/multimodal.py — stub codec, real plumbing)
# ---------------------------------------------------------------------------


def media_decode_meta_sql(table: str = "documents") -> str:
    """Metadata of the synthesized fake-container media: header parse +
    byte length are SQL-expressible; byte statistics are not (checked
    rows-only / in unit tests)."""
    return f"""
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS kind,
           (doc_id % 16 + 1) * 16 AS width,
           (doc_id % 8 + 1) * 16 AS height,
           octet_length(encode('IMG:' || ((doc_id % 16 + 1) * 16) || 'x'
                               || ((doc_id % 8 + 1) * 16) || ';' || text))
             AS n_bytes
    FROM {table}
    """


# ---------------------------------------------------------------------------
# File-discovery oracles (sources/files.py — S1/S2)
# ---------------------------------------------------------------------------


def file_stats_sql(glob: str) -> str:
    """DuckDB twin of discover_files+file_stats over a text glob
    (read_text is text-only, so is_text/size_bytes are derived from the
    decoded content on both sides)."""
    return f"""
    WITH f AS (
      SELECT filename AS file_path, content,
             string_split(content, chr(10)) AS lines
      FROM read_text('{glob}')
      -- Hadoop sources treat '_'/'.'-prefixed files as hidden; mirror it
      WHERE regexp_extract(filename, '([^/]+)$', 1) NOT SIMILAR TO '[_.].*'
    )
    SELECT file_path,
           octet_length(encode(content)) AS size_bytes,
           sha256(content) AS content_hash,
           length(content) AS n_chars,
           len(lines) AS n_lines,
           len(list_filter(lines, x -> trim(x) = '')) AS n_blank,
           len(list_filter(lines, x -> starts_with(trim(x), '#'))) AS n_comment,
           len(lines) - len(list_filter(lines, x -> trim(x) = ''))
                      - len(list_filter(lines, x -> starts_with(trim(x), '#')))
             AS n_code
    FROM f
    """


def duplicate_clusters_sql(pairs_sql: str) -> str:
    """Connected components over a (a, b) pair query: transitive
    reachability closure (recursive CTE, UNION dedup handles cycles),
    then component id = min reachable node. A pair with a NULL or equal
    endpoint carries no edge (graph.connected_components' contract)."""
    return f"""
    WITH RECURSIVE pairs AS ({pairs_sql}),
    sym AS (
      SELECT a AS x, b AS y FROM pairs
      WHERE a IS NOT NULL AND b IS NOT NULL AND a <> b
      UNION
      SELECT b AS x, a AS y FROM pairs
      WHERE a IS NOT NULL AND b IS NOT NULL AND a <> b
    ),
    reach(x, y) AS (
      SELECT x, y FROM sym
      UNION
      SELECT r.x, s.y FROM reach r JOIN sym s ON r.y = s.x
    )
    SELECT doc_id, cluster_id, doc_id = cluster_id AS keep FROM (
      SELECT x AS doc_id, least(x, min(y)) AS cluster_id
      FROM reach GROUP BY x
    )
    """


# ---------------------------------------------------------------------------
# Corpus-management oracles (operators/corpus.py)
# ---------------------------------------------------------------------------


def _bucket_sql(id_col: str, salt: str) -> str:
    return (
        f"('0x' || substr(md5('{salt}:' || CAST({id_col} AS VARCHAR)), 1, 8))"
        f"::BIGINT % 10000"
    )


def hash_split_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    fractions: tuple[tuple[str, float], ...] = (
        ("train", 0.98), ("val", 0.01), ("test", 0.01),
    ),
    salt: str = "split",
) -> str:
    total = sum(f for _, f in fractions)
    acc, cases = 0.0, []
    for name, frac in fractions:
        acc += frac
        cases.append(f"WHEN bkt < {int(round(acc / total * 10_000))} THEN '{name}'")
    return f"""
    SELECT * EXCLUDE (bkt), CASE {' '.join(cases)} END AS split
    FROM (SELECT *, {_bucket_sql(id_col, salt)} AS bkt FROM {table})
    """


def cluster_split_sql(
    pairs_sql: str,
    table: str = "documents",
    id_col: str = "doc_id",
    fractions: tuple[tuple[str, float], ...] = (
        ("train", 0.98), ("val", 0.01), ("test", 0.01),
    ),
    salt: str = "split",
) -> str:
    """Mirror of corpus.cluster_split: the duplicate_clusters closure
    over ``pairs_sql``, representative = coalesce(cluster_id, doc_id),
    then the same bucket CASE as hash_split_sql applied to the rep."""
    total = sum(f for _, f in fractions)
    acc, cases = 0.0, []
    for name, frac in fractions:
        acc += frac
        cases.append(
            f"WHEN bkt < {int(round(acc / total * 10_000))} THEN '{name}'"
        )
    clusters = duplicate_clusters_sql(pairs_sql)
    return f"""
    WITH clusters AS ({clusters}),
    rep AS (
      SELECT d.{id_col} AS doc_id,
             coalesce(c.cluster_id, d.{id_col}) AS rep
      FROM {table} d LEFT JOIN clusters c ON c.doc_id = d.{id_col}
    )
    SELECT doc_id, rep, CASE {' '.join(cases)} END AS split
    FROM (SELECT doc_id, rep, {_bucket_sql('rep', salt)} AS bkt FROM rep)
    """


def weighted_mix_sql(
    keep_fractions: tuple[tuple[str, float], ...],
    table: str = "documents",
    id_col: str = "doc_id",
    source_col: str = "source",
    salt: str = "mix",
) -> str:
    conds = " OR ".join(
        f"({source_col} = '{name}' AND bkt < {int(round(frac * 10_000))})"
        for name, frac in keep_fractions
    )
    return f"""
    SELECT * EXCLUDE (bkt)
    FROM (SELECT *, {_bucket_sql(id_col, salt)} AS bkt FROM {table})
    WHERE {conds}
    """


def importance_sample_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    scale: float = 1.0,
    salt: str = "imp",
) -> str:
    """Oracle for corpus.importance_sample over quality_scores weights:
    identical quality formula, md5 bucket, and floor'd per-row bound."""
    return f"""
    WITH q AS ({quality_scores_sql(table, id_col, text_col)})
    SELECT doc_id, quality
    FROM q
    WHERE {_bucket_sql("doc_id", salt)}
          < CAST(floor(least(quality * {scale}, 1.0) * 10000) AS BIGINT)
    """


def dedup_paragraphs_sql(
    table: str = "documents",
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n\n",
    min_chars: int = 20,
) -> str:
    """Noiseless twin of dedup.dedup_paragraphs: same split, same
    first-occurrence-by-(id, pos) rule keyed on md5(para), same ordered
    reassembly."""
    sep_sql = "||".join(f"chr({ord(c)})" for c in sep)
    return f"""
    WITH base AS (
      SELECT {id_col}, string_split({text_col}, {sep_sql}) AS ps FROM {table}
    ), paras AS (
      SELECT {id_col}, CAST(i AS BIGINT) AS pos,
             ps[CAST(i + 1 AS INT)] AS para
      FROM base, unnest(range(len(ps))) AS r(i)
    ), rn AS (
      SELECT *, row_number() OVER (PARTITION BY md5(para)
                                   ORDER BY {id_col}, pos) AS k
      FROM paras
    ), kept AS (
      SELECT * FROM rn WHERE length(para) < {min_chars} OR k = 1
    ), ag AS (
      SELECT {id_col},
             string_agg(para, {sep_sql} ORDER BY pos) AS cleaned_text,
             count(*) AS n_kept
      FROM kept GROUP BY {id_col}
    ), tot AS (
      SELECT {id_col}, count(*) AS n_paras FROM paras GROUP BY {id_col}
    )
    SELECT d.{id_col}, coalesce(ag.cleaned_text, '') AS cleaned_text,
           coalesce(ag.n_kept, 0) AS n_kept,
           coalesce(tot.n_paras, 0) - coalesce(ag.n_kept, 0) AS n_dropped
    FROM {table} d
    LEFT JOIN tot USING ({id_col})
    LEFT JOIN ag USING ({id_col})
    """


def weighted_sample_sql(
    table: str = "documents",
    *,
    key_col: str = "lang",
    id_col: str = "doc_id",
    k: int = 25,
    salt: str = "wsample",
    weight_floor: float = 0.01,
) -> str:
    """Oracle for corpus.weighted_sample_per_key over quality_scores
    weights: identical A-Res key (ln((md5_32+1)/2^32) / clamped weight,
    rounded to 9 decimals) and (key DESC, id) rank."""
    h = (
        f"('0x' || substr(md5('{salt}:' || CAST(d.{id_col} AS VARCHAR)), 1, 8))"
        f"::BIGINT"
    )
    return f"""
    WITH q AS ({quality_scores_sql(table, id_col)}),
    keyed AS (
      SELECT d.{id_col}, d.{key_col}, q.quality,
             round(ln(({h} + 1) / 4294967296.0)
                   / greatest(q.quality, {weight_floor}), 9) AS sample_key
      FROM {table} d JOIN q USING ({id_col})
    ), r AS (
      SELECT *, row_number() OVER (PARTITION BY {key_col}
                 ORDER BY sample_key DESC, {id_col}) AS sample_rank
      FROM keyed
    )
    SELECT * FROM r WHERE sample_rank <= {k}
    """


def curriculum_sql(
    table: str = "documents",
    *,
    key_col: str = "source",
    id_col: str = "doc_id",
    n_stages: int = 4,
) -> str:
    """Oracle for corpus.curriculum_stages over quality_scores weights:
    identical per-stratum (quality DESC, id) ntile."""
    return f"""
    WITH q AS ({quality_scores_sql(table, id_col)})
    SELECT d.{id_col}, d.{key_col}, q.quality,
           CAST(ntile({n_stages}) OVER (PARTITION BY d.{key_col}
                ORDER BY q.quality DESC, d.{id_col}) AS INT) AS stage
    FROM {table} d JOIN q USING ({id_col})
    """


def corpus_curate_sql(
    table: str = "documents",
    *,
    scale: float = 2.0,
    salt: str = "imp",
) -> str:
    """Oracle for the composite curation pipeline (language-ID gate ->
    exact dedup -> quality score -> importance sample): each stage is
    the existing per-operator oracle chained as CTEs, so the composite
    is gated end-to-end, not stage-by-stage."""
    sep = SEP_SQL
    return f"""
    WITH lid AS ({language_id_sql(table=table)}),
    kept AS (SELECT d.doc_id, d.text FROM {table} d
             JOIN lid USING (doc_id) WHERE lid.lang_pred = 'en'),
    h AS (
      SELECT doc_id,
             md5(array_to_string(
               list_filter(regexp_split_to_array(lower(text), '{sep}'),
                           x -> x <> ''), ' ')) AS chash
      FROM kept
    ),
    keepmin AS (SELECT chash, min(doc_id) AS doc_id FROM h GROUP BY chash),
    dedup AS (SELECT kept.doc_id, kept.text FROM kept
              JOIN keepmin USING (doc_id)),
    q AS ({quality_scores_sql("dedup")})
    SELECT doc_id, quality
    FROM q
    WHERE {_bucket_sql("doc_id", salt)}
          < CAST(floor(least(quality * {scale}, 1.0) * 10000) AS BIGINT)
    """


def token_budget_mix_sql(
    table: str = "documents",
    *,
    key_col: str = "source",
    budget_tokens: int = 600,
) -> str:
    """Oracle for corpus.token_budget_mix over token_stats +
    quality_scores inputs: identical greedy per-stratum fill (quality
    DESC, id tie-break, integer token cumsum, kept while the tokens
    BEFORE the row are under budget)."""
    return f"""
    WITH t AS ({token_stats_sql(table)}),
    q AS ({quality_scores_sql(table)}),
    j AS (
      SELECT d.doc_id, d.{key_col} AS {key_col}, t.n_tokens, q.quality
      FROM {table} d JOIN t USING (doc_id) JOIN q USING (doc_id)
    ),
    c AS (
      SELECT *,
             CAST(sum(n_tokens) OVER (
               PARTITION BY {key_col}
               ORDER BY quality DESC, doc_id
               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM j
    )
    SELECT doc_id, {key_col}, n_tokens, quality, cum_tokens
    FROM c WHERE cum_tokens - n_tokens < {budget_tokens}
    """


def contamination_pairs_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_filter: str,
    ngram: int = 3,
    threshold_e4: int = 5_000,
    max_df: int | None = None,
) -> str:
    """Oracle for corpus.contamination_pairs with the benchmark defined
    as ``SELECT ... FROM table WHERE bench_filter`` (distinct-shingle
    containment against the benchmark item's capped shingle set)."""
    df_cut = ""
    bsrc = "bsh"
    if max_df is not None:
        df_cut = f""",
      kept AS (SELECT sh FROM bsh GROUP BY sh HAVING count(*) <= {max_df}),
      bsh2 AS (SELECT b.bid, b.sh FROM bsh b JOIN kept k ON b.sh = k.sh)"""
        bsrc = "bsh2"
    return f"""
    WITH {shingles_cte(table, id_col, text_col, ngram)},
      dsh AS (SELECT DISTINCT doc_id AS did, sh FROM sh),
      bsh AS (
        SELECT DISTINCT doc_id AS bid, sh FROM sh
        WHERE doc_id IN (SELECT {id_col} FROM {table} WHERE {bench_filter})
      ){df_cut},
      sizes AS (SELECT bid, count(*) AS nb FROM {bsrc} GROUP BY bid),
      common AS (
        SELECT d.did, b.bid, count(*) AS c
        FROM dsh d JOIN {bsrc} b ON d.sh = b.sh
        GROUP BY d.did, b.bid
      )
    SELECT common.did AS doc_id, common.bid AS bench_id,
           CAST(floor(10000.0 * c / nb) AS BIGINT) AS containment_e4
    FROM common JOIN sizes ON common.bid = sizes.bid
    WHERE floor(10000.0 * c / nb) >= {threshold_e4}
    """


def shuffle_shards_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    seed: str = "shuffle",
    shards: int = 8,
) -> str:
    """Oracle for corpus.shuffle_shards: identical shard bucket and
    within-shard md5 rank."""
    shard = (
        f"('0x' || substr(md5('{seed}-shard:' || CAST({id_col} AS VARCHAR)), 1, 8))"
        f"::BIGINT % {shards}"
    )
    return f"""
    SELECT {id_col} AS doc_id, shard,
           CAST(row_number() OVER (
             PARTITION BY shard
             ORDER BY md5('{seed}:' || CAST({id_col} AS VARCHAR)), {id_col}
           ) AS BIGINT) AS pos
    FROM (SELECT {id_col}, {shard} AS shard FROM {table})
    """


def bpe_token_stats_sql(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """Oracle for textstats.bpe_token_stats: identical RE2-safe pattern."""
    from .operators.textstats import BPE_PIECE_RE

    pat = BPE_PIECE_RE.replace("'", "''")
    return f"""
    SELECT {id_col} AS doc_id,
           len(list_filter(regexp_extract_all(lower({text_col}), '{pat}'),
               p -> NOT regexp_matches(p, '^ +$')))::BIGINT AS n_bpe_pieces,
           CAST(floor(length({text_col}) / 4) AS BIGINT) AS est_llm_tokens,
           CAST(floor(10000.0 *
             len(list_filter(regexp_extract_all(lower({text_col}), '{pat}'),
                 p -> NOT regexp_matches(p, '^ +$')))
             / greatest(CAST(floor(length({text_col}) / 4) AS BIGINT), 1))
           AS BIGINT) AS pieces_per_est_e4
    FROM {table}
    """


def c4_clean_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_expr: str = "text",
) -> str:
    """Oracle for textstats.c4_clean: identical line rules (terminal
    punctuation, min words, blocklist phrases) over ``text_expr``."""
    from .operators.textstats import (
        C4_BLOCKLIST,
        C4_MIN_KEPT_LINES,
        C4_MIN_LINE_WORDS,
        C4_TERMINAL_RE,
    )

    blocks = " AND ".join(
        f"NOT contains(lower(trim(l)), {_sql_quote(p)})" for p in C4_BLOCKLIST
    )
    line_ok = (
        f"l -> regexp_matches(trim(l), '{C4_TERMINAL_RE}') "
        f"AND len(list_filter(regexp_split_to_array(trim(l), ' +'), "
        f"w -> w <> '')) >= {C4_MIN_LINE_WORDS} AND {blocks}"
    )
    return f"""
    SELECT {id_col} AS doc_id,
           len(lines) AS n_lines,
           len(kept_lines) AS n_kept,
           len(kept_lines) >= {C4_MIN_KEPT_LINES} AS kept,
           CASE WHEN len(kept_lines) >= {C4_MIN_KEPT_LINES}
                THEN array_to_string(kept_lines, chr(10)) ELSE '' END AS cleaned
    FROM (
      SELECT {id_col},
             string_split({text_expr}, chr(10)) AS lines,
             list_filter(string_split({text_expr}, chr(10)), {line_ok})
               AS kept_lines
      FROM {table}
    )
    """


def corpus_profile_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> str:
    """Oracle for corpus.profile: same tokenizer, exact-integer metrics,
    long (metric, value) format."""
    toks = _TOKS_EXPR.format(text=text_col, sep=SEP_SQL)
    return f"""
    WITH base AS (
      SELECT {id_col} AS id, {text_col} AS text, {lang_col} AS lang,
             len({toks}) AS ntok,
             CAST(floor(length({text_col}) / 4) AS BIGINT) AS est,
             {toks} AS t
      FROM {table}
    )
    SELECT 'n_docs' AS metric, count(*)::BIGINT AS value FROM base
    UNION ALL
    SELECT 'total_tokens', CAST(sum(ntok) AS BIGINT) FROM base
    UNION ALL
    SELECT 'total_est_llm_tokens', CAST(sum(est) AS BIGINT) FROM base
    UNION ALL
    SELECT 'avg_doc_tokens_e4',
           CAST(floor(10000 * sum(ntok)::DOUBLE / count(*)) AS BIGINT)
    FROM base
    UNION ALL
    SELECT 'vocab_size', count(DISTINCT x)::BIGINT
    FROM (SELECT unnest(t) AS x FROM base)
    UNION ALL
    SELECT 'n_langs', count(DISTINCT lang)::BIGINT FROM base
    UNION ALL
    SELECT 'exact_dup_docs',
           CAST(coalesce(sum(CASE WHEN n > 1 THEN n - 1 END), 0) AS BIGINT)
    FROM (SELECT md5(text) AS h, count(*) AS n FROM base GROUP BY 1)
    """


def pack_sequences_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    seq_tokens: int = 2048,
    writers: int = 64,
    salt: str = "pack",
) -> str:
    """Oracle for corpus.pack_sequences: identical hash shard + md5
    ordering + running token sum + floor-division sequence id."""
    bucket = (
        f"('0x' || substr(md5('{salt}:' || CAST({id_col} AS VARCHAR)), 1, 8))"
        f"::BIGINT % {writers}"
    )
    return f"""
    SELECT doc_id, writer, n_tokens, start_offset,
           CAST(floor(start_offset / {seq_tokens}.0) AS BIGINT) AS seq_id
    FROM (
      SELECT doc_id, writer, n_tokens,
             CAST(sum(n_tokens) OVER (
               PARTITION BY writer ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) - n_tokens AS BIGINT) AS start_offset
      FROM (
        SELECT {id_col} AS doc_id,
               {bucket} AS writer,
               md5('{salt}:' || CAST({id_col} AS VARCHAR)) AS h,
               CAST(floor(length({text_col}) / 4) AS BIGINT) AS n_tokens
        FROM {table}
      )
    )
    """


def bigram_lm_sql(
    table: str = "documents", id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """Oracle for textstats.bigram_lm_score: same tokenizer, same add-one
    bigram MLE, same ln/avg in float64."""
    toks = _TOKS_EXPR.format(text=text_col, sep=SEP_SQL)
    return f"""
    WITH base AS (
      SELECT {id_col} AS doc_id, {toks} AS t FROM {table}
    ),
    bg AS (
      SELECT doc_id, t[i] AS w1, t[i + 1] AS w2
      FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM base
            WHERE len(t) >= 2)
    ),
    pair_counts AS (
      SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY w1, w2
    ),
    prefix_counts AS (
      SELECT w1, sum(c2) AS c1 FROM pair_counts GROUP BY w1
    ),
    vocab AS (
      SELECT count(DISTINCT x) AS v
      FROM (SELECT unnest(t) AS x FROM base)
    ),
    scored AS (
      SELECT bg.doc_id, count(*) AS n_bigrams,
             round(avg(ln((c2 + 1.0) / (c1 + (SELECT v FROM vocab)::DOUBLE))), 6)
               AS avg_logprob
      FROM bg JOIN pair_counts USING (w1, w2)
              JOIN prefix_counts USING (w1)
      GROUP BY bg.doc_id
    )
    SELECT d.{id_col} AS doc_id,
           coalesce(s.n_bigrams, 0) AS n_bigrams,
           coalesce(s.avg_logprob, 0.0) AS avg_logprob
    FROM {table} d LEFT JOIN scored s ON s.doc_id = d.{id_col}
    """


def tfidf_top_terms_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> str:
    """Oracle for textstats.tfidf_top_terms: tf * ln(1 + N/df), rounded
    BEFORE ranking (both engines rank the rounded score, so ordering is
    precision-proof)."""
    return f"""
    WITH {fts_tokens_cte(table, id_col, text_col)},
    dfreq AS (
      SELECT term, count(*) AS df FROM postings GROUP BY term
    ),
    scored AS (
      SELECT p.doc_id, p.term, p.tf,
             round(p.tf * ln(1.0 + (SELECT n FROM corpus) / f.df::DOUBLE), 6)
               AS score
      FROM postings p JOIN dfreq f USING (term)
    )
    SELECT doc_id, term, tf, score, rank FROM (
      SELECT *, row_number() OVER (
        PARTITION BY doc_id ORDER BY score DESC, term ASC
      ) AS rank
      FROM scored
    ) WHERE rank <= {k}
    """


def quantize_embeddings_sql(
    table: str = "embeddings", id_col: str = "vec_id", vec_col: str = "embedding"
) -> str:
    """Oracle for knn.quantize_embeddings: same floor(x/scale + 0.5)
    quantizer (floor, not round — negative-half rounding differs between
    engines), same in-order error fold."""
    return f"""
    WITH q AS (
      SELECT {id_col} AS vec_id,
             len(e) AS dim,
             list_max(list_transform(e, x -> abs(x::DOUBLE))) / 127.0 AS scale,
             e
      FROM (SELECT {id_col}, {vec_col} AS e FROM {table})
    )
    SELECT vec_id, dim,
           CAST(floor(scale * 1e9) AS BIGINT) AS scale_e9,
           CAST(CASE WHEN scale = 0 THEN 0 ELSE
             list_sum(list_transform(e,
               x -> CAST(floor(x::DOUBLE / scale + 0.5) AS BIGINT)
                    * CAST(floor(x::DOUBLE / scale + 0.5) AS BIGINT)))
           END AS BIGINT) AS qnorm_sq,
           round(CASE WHEN scale = 0 THEN
             sqrt(list_sum(list_transform(e, x -> x::DOUBLE * x::DOUBLE)))
           ELSE
             sqrt(list_sum(list_transform(e,
               x -> (x::DOUBLE - floor(x::DOUBLE / scale + 0.5) * scale)
                    * (x::DOUBLE - floor(x::DOUBLE / scale + 0.5) * scale))))
           END, 6) AS recon_err
    FROM q
    """


def decontaminate_sql(
    *, table: str = "documents", id_col: str = "doc_id",
    text_col: str = "text", bench_filter: str, ngram: int = 8,
) -> str:
    """Survivors after removing docs sharing any word n-gram with the
    benchmark subset (``bench_filter`` selects it from the same table)."""
    return f"""
    WITH dsh AS (
      SELECT {id_col} AS doc_id,
             unnest([array_to_string(t[i:i+{ngram - 1}], ' ')
                     FOR i IN range(1, len(t) - {ngram - 2})]) AS sh
      FROM (
        SELECT {id_col},
               list_filter(regexp_split_to_array(lower({text_col}), '{SEP_SQL}'),
                           x -> x <> '') AS t
        FROM {table}
      )
      WHERE len(t) >= {ngram}
    ),
    bsh AS (SELECT DISTINCT sh FROM dsh WHERE {bench_filter}),
    bad AS (SELECT DISTINCT d.doc_id FROM dsh d JOIN bsh USING (sh))
    SELECT * FROM {table}
    WHERE {id_col} NOT IN (SELECT doc_id FROM bad)
    """


def twap_sql(table: str = "events") -> str:
    """Noiseless twin of events.twap: identical lead-based integer
    holding periods and rounded weighted mean."""
    return f"""
    WITH iv AS (
      SELECT event_type, value,
             lead(epoch_us(ts)) OVER w - epoch_us(ts) AS dt
      FROM {table}
      WINDOW w AS (PARTITION BY event_type
                   ORDER BY epoch_us(ts), event_id)
    )
    SELECT event_type, count(*) AS n_intervals,
           round(sum(value * dt) / nullif(sum(dt), 0), 6) AS twap,
           {_AVG6_SQL} AS plain_avg
    FROM iv WHERE dt IS NOT NULL
    GROUP BY event_type
    """


def degree_distribution_sql(
    table: str = "lineitem",
    group_col: str = "l_orderkey",
    item_col: str = "l_partkey",
    max_df: int = 50,
) -> str:
    """Noiseless twin of cooccurrence_edges + graph.degree_distribution."""
    return f"""
    WITH pres0 AS (
      SELECT DISTINCT {group_col} AS g, {item_col} AS itm FROM {table}
    ), keep AS (
      SELECT itm FROM pres0 GROUP BY itm HAVING count(*) <= {max_df}
    ), pres AS (
      SELECT g, itm FROM pres0 JOIN keep USING (itm)
    ), e AS (
      SELECT DISTINCT p1.itm AS a, p2.itm AS b
      FROM pres p1 JOIN pres p2 ON p1.g = p2.g AND p1.itm < p2.itm
    ), deg AS (
      SELECT node, count(*) AS degree FROM (
        SELECT a AS node FROM e UNION ALL SELECT b FROM e
      ) GROUP BY node
    )
    SELECT degree, count(*) AS n_nodes FROM deg GROUP BY degree
    """


def activity_heatmap_sql(table: str = "events") -> str:
    """Noiseless twin of events.activity_heatmap: identical integer
    epoch arithmetic (no calendar functions). FLOOR day bucketing +
    pmod keep dow/hour correct for pre-1970 timestamps."""
    day_us = 86_400 * 1_000_000
    days = _floor_div("epoch_us(ts)", day_us)
    return f"""
    SELECT (({days} + 4) % 7 + 7) % 7 AS dow,
           ((epoch_us(ts) % {day_us} + {day_us}) % {day_us})
             // {3_600 * 1_000_000} AS hour,
           count(*) AS n_events,
           round(CAST(sum(CAST(round(value * 10000, 0) AS BIGINT)) AS DOUBLE) / 10000.0, 6) AS sum_value
    FROM {table}
    GROUP BY 1, 2
    """


def sliding_window_sql(
    table: str = "events", *, minutes: int = 60, slide_minutes: int = 15
) -> str:
    """Noiseless twin of events.sliding_window_agg: every event expands
    to its size/slide covering windows (epoch-aligned starts), then one
    aggregate — the same expansion Catalyst plans for F.window with a
    slide. FLOOR slide bucketing (pmod trick) matches F.window's
    epoch-aligned starts for pre-1970 timestamps too."""
    size_us = minutes * 60 * 1_000_000
    slide_us = slide_minutes * 60 * 1_000_000
    ratio = minutes // slide_minutes
    base = _floor_div("epoch_us(ts)", slide_us)
    return f"""
    WITH expanded AS (
      SELECT event_type, value,
             ({base} - i) * {slide_us} AS ws
      FROM {table}, unnest(range({ratio})) AS r(i)
      WHERE epoch_us(ts) >= ({base} - i) * {slide_us}
        AND epoch_us(ts) <  ({base} - i) * {slide_us}
                            + {size_us}
    )
    SELECT ws AS window_start_us, event_type,
           count(*) AS n_events, round(CAST(sum(CAST(round(value * 10000, 0) AS BIGINT)) AS DOUBLE) / 10000.0, 6) AS sum_value
    FROM expanded GROUP BY 1, 2
    """


def node_similarity_sql(
    table: str = "lineitem",
    group_col: str = "l_orderkey",
    item_col: str = "l_partkey",
    max_df: int = 50,
    k: int = 50,
) -> str:
    """Noiseless twin of cooccurrence_edges + graph.node_similarity."""
    return f"""
    WITH pres0 AS (
      SELECT DISTINCT {group_col} AS g, {item_col} AS itm FROM {table}
    ), keep AS (
      SELECT itm FROM pres0 GROUP BY itm HAVING count(*) <= {max_df}
    ), pres AS (
      SELECT g, itm FROM pres0 JOIN keep USING (itm)
    ), e AS MATERIALIZED (
      SELECT DISTINCT p1.itm AS a, p2.itm AS b
      FROM pres p1 JOIN pres p2 ON p1.g = p2.g AND p1.itm < p2.itm
    ), adj AS MATERIALIZED (
      SELECT a AS node, b AS nbr FROM e
      UNION ALL SELECT b, a FROM e
    ), deg AS (
      SELECT node, count(*) AS deg FROM adj GROUP BY node
    ), common AS (
      SELECT x.node AS pa, y.node AS pb, count(*) AS n_common
      FROM adj x JOIN adj y ON x.nbr = y.nbr AND x.node < y.node
      GROUP BY 1, 2
    ), scored AS (
      SELECT pa, pb, n_common,
             round(CAST(n_common AS DOUBLE)
                   / (da.deg + db.deg - n_common), 6) AS jaccard
      FROM common
      JOIN deg da ON common.pa = da.node
      JOIN deg db ON common.pb = db.node
    )
    SELECT * FROM scored
    ORDER BY jaccard DESC, pa, pb LIMIT {k}
    """


def _load_embeddings_ordered(sf_dir: str | None = None):
    """Embedding matrix ordered by vec_id, loaded WITHOUT Spark (DuckDB
    over the same parquet the engine reads) — the oracle-side twin of
    ``train_centroids_ordered``'s sample. ``sf_dir`` defaults to the
    driver gate's scale factor; local sweeps at another sf export
    SPARK_GRAFT_ORACLE_SF_DIR so both sides train on the same data."""
    import os

    import duckdb
    import numpy as np

    sf_dir = sf_dir or os.environ.get(
        "SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01"
    )
    p = os.path.join(sf_dir, "embeddings.parquet")
    if os.path.isdir(p):
        p = os.path.join(p, "*.parquet")
    rows = duckdb.sql(
        f"SELECT embedding FROM read_parquet('{p}') ORDER BY vec_id"
    ).fetchall()
    return np.array([list(r[0]) for r in rows], dtype=np.float64)


def knn_ivf_recall_oracle_sql(
    *,
    n_centroids: int = 16,
    nprobe: int = 4,
    k: int = 5,
    n_queries: int = 5,
    iters: int = 8,
    sample_rows: int = 10_000,
) -> str:
    """END-TO-END oracle for the IVF recall self-measurement
    (VERDICT r5 item 7): centroids are deterministic on the fixed
    corpus (first-k-init Lloyd over the vec_id-ordered sample,
    knn._kmeans_deterministic), so the oracle trains the IDENTICAL
    centroids from the same parquet (no Spark involved) and inlines
    them as literals; assignment (argmax dot, centroid-id tiebreak),
    query probes (top-nprobe centroids), candidate scoring, per-query
    top-k, and the recall join all replay in SQL. Like the LSH trio,
    'approximate' is still deterministic — the recall NUMBER is
    hash-gated, not just bounded."""
    from .operators.knn import _kmeans_deterministic

    vecs = _load_embeddings_ordered()
    cent = _kmeans_deterministic(vecs[:sample_rows], n_centroids, iters)
    cent_values = ",\n      ".join(
        f"({cid}, {_plane_literal(list(row))})"
        for cid, row in enumerate(cent)
    )
    cos = (
        "list_dot_product(c.v, q.qv)"
        " / (sqrt(list_dot_product(c.v, c.v))"
        " * sqrt(list_dot_product(q.qv, q.qv)))"
    )
    return f"""
    WITH e AS (
      SELECT vec_id AS doc_id, embedding::DOUBLE[] AS v FROM embeddings
    ), cent(cid, cv) AS (VALUES
      {cent_values}
    ), assign AS (
      SELECT doc_id, v, cid,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY list_dot_product(v, cv) DESC, cid) AS rn
      FROM e CROSS JOIN cent
    ), c AS (
      SELECT doc_id, v, cid FROM assign WHERE rn = 1
    ), q AS (
      SELECT doc_id AS query_id, v AS qv, cid
      FROM assign WHERE doc_id < {n_queries} AND rn <= {nprobe}
    ), cand AS (
      SELECT q.query_id, c.doc_id AS vec_id, (1.0 + {cos}) / 2.0 AS score
      FROM c JOIN q USING (cid)
    ), r AS (
      SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, vec_id) AS rank
      FROM cand
    ), approx AS (
      SELECT query_id, vec_id FROM r WHERE rank <= {k}
    ), xs AS (
      SELECT q0.doc_id AS query_id, c0.doc_id AS vec_id,
             row_number() OVER (PARTITION BY q0.doc_id
               ORDER BY list_dot_product(c0.v, q0.v)
                 / (sqrt(list_dot_product(c0.v, c0.v))
                  * sqrt(list_dot_product(q0.v, q0.v))) DESC,
               c0.doc_id) AS rank
      FROM e c0 CROSS JOIN e q0 WHERE q0.doc_id < {n_queries}
    ), exact AS (
      SELECT query_id, vec_id FROM xs WHERE rank <= {k}
    ), j AS (
      SELECT x.query_id,
             CASE WHEN a.vec_id IS NULL THEN 0 ELSE 1 END AS hit
      FROM exact x LEFT JOIN approx a USING (query_id, vec_id)
    )
    SELECT query_id, count(*) AS n_exact,
           CAST(sum(hit) AS BIGINT) AS n_hit,
           CAST(floor(10000 * sum(hit) / count(*)) AS BIGINT) AS recall_e4
    FROM j GROUP BY query_id
    """


def knn_ivf_join_oracle_sql(
    *,
    n_centroids: int = 16,
    nprobe: int = 4,
    k: int = 5,
    n_queries: int = 5,
    iters: int = 8,
    sample_rows: int = 10_000,
    where_sql: str | None = None,
) -> str:
    """Oracle for the IVF ANN join ITSELF (not just its recall): same
    replayable-centroid trick as :func:`knn_ivf_recall_oracle_sql` —
    the trainer is bit-reproducible from the vec_id-ordered parquet, so
    assignment (argmax dot, centroid-id tiebreak), the query probe
    expansion (top-``nprobe`` centroids), candidate scoring and the
    per-query top-k all replay in SQL. The engine side must train via
    ``knn.train_centroids_ordered`` with the SAME (n_centroids, iters,
    sample_rows); reference semantics: vector_index.go:133-171 top-k
    ordering with id tiebreak."""
    from .operators.knn import _kmeans_deterministic

    vecs = _load_embeddings_ordered()
    cent = _kmeans_deterministic(vecs[:sample_rows], n_centroids, iters)
    cent_values = ",\n      ".join(
        f"({cid}, {_plane_literal(list(row))})"
        for cid, row in enumerate(cent)
    )
    cos = (
        "list_dot_product(c.v, q.qv)"
        " / (sqrt(list_dot_product(c.v, c.v))"
        " * sqrt(list_dot_product(q.qv, q.qv)))"
    )
    # filtered ANN: the predicate restricts the CORPUS side only (the
    # query side stays whole) — filtering commutes with assignment, so
    # the engine trains/assigns with full-corpus centroids and filters
    # the corpus frame it hands to the probe join
    corpus_pred = f" AND ({where_sql})" if where_sql else ""
    return f"""
    WITH e AS (
      SELECT vec_id AS doc_id, embedding::DOUBLE[] AS v, label FROM embeddings
    ), cent(cid, cv) AS (VALUES
      {cent_values}
    ), assign AS (
      SELECT doc_id, v, label, cid,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY list_dot_product(v, cv) DESC, cid) AS rn
      FROM e CROSS JOIN cent
    ), c AS (
      SELECT doc_id, v, cid FROM assign WHERE rn = 1{corpus_pred}
    ), q AS (
      SELECT doc_id AS query_id, v AS qv, cid
      FROM assign WHERE doc_id < {n_queries} AND rn <= {nprobe}
    ), cand AS (
      SELECT q.query_id, c.doc_id AS vec_id, (1.0 + {cos}) / 2.0 AS score
      FROM c JOIN q USING (cid)
    ), r AS (
      SELECT query_id, vec_id, score,
             row_number() OVER (PARTITION BY query_id
               ORDER BY score DESC, vec_id) AS rank
      FROM cand
    )
    SELECT query_id, vec_id, round(score, 6) AS score, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= {k}
    """


def dedup_embedding_ivf_oracle_sql(
    *,
    threshold: float = 0.7,
    n_centroids: int = 16,
    iters: int = 8,
    sample_rows: int = 10_000,
) -> str:
    """Oracle for the cluster-then-pair (SemDeDup-shape) embedding
    near-dup: replays the SAME deterministic centroids (see
    :func:`knn_ivf_join_oracle_sql`), assigns every vector by argmax
    dot (centroid-id tiebreak — matches np.argmax's first-max rule),
    generates pairs only within a cluster (a < b), and verifies with
    the exact cosine transform ``1 - (1 - cos)/2``. The approximation —
    recall loss at cluster boundaries — is deterministic given the
    centroids, so the pair set itself is hash-gated."""
    from .operators.knn import _kmeans_deterministic

    vecs = _load_embeddings_ordered()
    cent = _kmeans_deterministic(vecs[:sample_rows], n_centroids, iters)
    cent_values = ",\n      ".join(
        f"({cid}, {_plane_literal(list(row))})"
        for cid, row in enumerate(cent)
    )
    cos = (
        "list_dot_product(x.v, y.v)"
        " / (sqrt(list_dot_product(x.v, x.v))"
        " * sqrt(list_dot_product(y.v, y.v)))"
    )
    return f"""
    WITH e AS (
      SELECT vec_id AS doc_id, embedding::DOUBLE[] AS v FROM embeddings
    ), cent(cid, cv) AS (VALUES
      {cent_values}
    ), assign AS (
      SELECT doc_id, v, cid,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY list_dot_product(v, cv) DESC, cid) AS rn
      FROM e CROSS JOIN cent
    ), c AS (
      SELECT doc_id, v, cid FROM assign WHERE rn = 1
    ), scored AS (
      SELECT x.doc_id AS a, y.doc_id AS b,
             1.0 - (1.0 - ({cos})) / 2.0 AS score
      FROM c x JOIN c y ON x.cid = y.cid AND x.doc_id < y.doc_id
    )
    SELECT a, b, round(score, 6) AS score
    FROM scored WHERE score >= {threshold}
    """


def semdedup_oracle_sql(
    *,
    threshold: float = 0.7,
    n_centroids: int = 16,
    iters: int = 8,
    sample_rows: int = 10_000,
    max_cluster: int | None = None,
) -> str:
    """Oracle for dedup.semdedup: replays the deterministic centroids
    (same trick as :func:`dedup_embedding_ivf_oracle_sql`), the argmax
    assignment with centroid-id tiebreak, the centroid-similarity rank
    (ASC — SemDeDup keeps the member FARTHEST from the centroid), the
    doc_id-modulo salt split of oversized clusters, and the
    prune-if-duplicated-by-a-lower-rank rule. The whole decision frame
    is deterministic given the centroids, so it hash-gates."""
    from .operators.knn import _kmeans_deterministic

    vecs = _load_embeddings_ordered()
    cent = _kmeans_deterministic(vecs[:sample_rows], n_centroids, iters)
    cent_values = ",\n      ".join(
        f"({cid}, {_plane_literal(list(row))})"
        for cid, row in enumerate(cent)
    )
    if max_cluster is not None:
        salt = (
            "doc_id % CAST(ceil("
            f"count(*) OVER (PARTITION BY cid) / {max_cluster}"
            ") AS BIGINT)"
        )
    else:
        salt = "0"
    cos = (
        "list_dot_product(x.v, y.v)"
        " / (sqrt(list_dot_product(x.v, x.v))"
        " * sqrt(list_dot_product(y.v, y.v)))"
    )
    return f"""
    WITH e AS (
      SELECT vec_id AS doc_id, embedding::DOUBLE[] AS v FROM embeddings
    ), cent(cid, cv) AS (VALUES
      {cent_values}
    ), assign AS (
      SELECT doc_id, v, cid,
             list_dot_product(v, cv) / sqrt(list_dot_product(v, v)) AS csim,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY list_dot_product(v, cv) DESC, cid) AS rn
      FROM e CROSS JOIN cent
    ), a AS (
      SELECT doc_id, v, cid, csim FROM assign WHERE rn = 1
    ), salted AS (
      SELECT doc_id, v, cid, csim, {salt} AS salt FROM a
    ), r AS (
      SELECT doc_id, v, cid, csim, salt,
             -- rank quantization mirrors dedup.semdedup (ulp-tied
             -- members fall to the doc_id tie-break on both engines)
             row_number() OVER (PARTITION BY cid, salt
               ORDER BY round(csim, 12) ASC, doc_id ASC) AS rank
      FROM salted
    ), pruned AS (
      SELECT DISTINCT y.doc_id
      FROM r x JOIN r y
        ON x.cid = y.cid AND x.salt = y.salt AND x.rank < y.rank
      WHERE 1.0 - (1.0 - ({cos})) / 2.0 >= {threshold}
    )
    SELECT r.doc_id,
           CAST(r.cid AS INT) AS cluster_id,
           round(r.csim, 6) AS centroid_sim,
           CAST(r.rank AS INT) AS rank,
           (p.doc_id IS NULL) AS keep
    FROM r LEFT JOIN pruned p ON p.doc_id = r.doc_id
    """


def semdedup_stream_oracle_sql(
    *,
    threshold: float = 0.7,
    n_centroids: int = 16,
    iters: int = 8,
    sample_rows: int = 10_000,
) -> str:
    """Oracle for the INCREMENTAL SemDeDup (streaming/semdedup.py) over
    two id-ordered deliveries split at max(vec_id) // 2: same replayed
    centroids and within-batch keep rule as :func:`semdedup_oracle_sql`
    (rank within (batch, cluster)), plus the arrival-priority rule —
    a second-delivery keeper is additionally pruned if it scores
    ``>= threshold`` against ANY first-delivery FINAL keeper of its
    cluster (stored keepers outrank new arrivals)."""
    from .operators.knn import _kmeans_deterministic

    vecs = _load_embeddings_ordered()
    cent = _kmeans_deterministic(vecs[:sample_rows], n_centroids, iters)
    cent_values = ",\n      ".join(
        f"({cid}, {_plane_literal(list(row))})"
        for cid, row in enumerate(cent)
    )
    cos = (
        "list_dot_product(x.v, y.v)"
        " / (sqrt(list_dot_product(x.v, x.v))"
        " * sqrt(list_dot_product(y.v, y.v)))"
    )
    score = f"1.0 - (1.0 - ({cos})) / 2.0"
    return f"""
    WITH e AS (
      SELECT vec_id AS doc_id, embedding::DOUBLE[] AS v,
             CASE WHEN vec_id < (SELECT max(vec_id) // 2 FROM embeddings)
                  THEN 0 ELSE 1 END AS batch
      FROM embeddings
    ), cent(cid, cv) AS (VALUES
      {cent_values}
    ), assign AS (
      SELECT doc_id, v, batch, cid,
             list_dot_product(v, cv) / sqrt(list_dot_product(v, v)) AS csim,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY list_dot_product(v, cv) DESC, cid) AS rn
      FROM e CROSS JOIN cent
    ), a AS (
      SELECT doc_id, v, batch, cid, csim FROM assign WHERE rn = 1
    ), r AS (
      SELECT doc_id, v, batch, cid, csim,
             row_number() OVER (PARTITION BY batch, cid
               ORDER BY round(csim, 12) ASC, doc_id ASC) AS rank
      FROM a
    ), wpruned AS (
      SELECT DISTINCT y.doc_id
      FROM r x JOIN r y
        ON x.batch = y.batch AND x.cid = y.cid AND x.rank < y.rank
      WHERE {score} >= {threshold}
    ), wk AS (
      SELECT r.* FROM r
      LEFT JOIN wpruned p ON p.doc_id = r.doc_id
      WHERE p.doc_id IS NULL
    ), xpruned AS (
      SELECT DISTINCT y.doc_id
      FROM wk x JOIN wk y
        ON x.batch = 0 AND y.batch = 1 AND x.cid = y.cid
      WHERE {score} >= {threshold}
    )
    SELECT r.doc_id,
           CAST(r.cid AS INT) AS cluster_id,
           round(r.csim, 6) AS centroid_sim,
           CAST(r.rank AS INT) AS rank,
           (w.doc_id IS NULL AND x.doc_id IS NULL) AS keep,
           CAST(r.batch AS INT) AS batch
    FROM r
    LEFT JOIN wpruned w ON w.doc_id = r.doc_id
    LEFT JOIN xpruned x ON x.doc_id = r.doc_id
    """


def knn_pq_join_oracle_sql(
    *,
    n_subspaces: int = 8,
    n_codes: int = 16,
    k: int = 5,
    n_queries: int = 5,
    iters: int = 8,
    sample_rows: int = 10_000,
) -> str:
    """(query_id, vec_id, adc_dist, rank) — the PQ/ADC top-k JOIN form
    of :func:`knn_pq_recall_oracle_sql` (same replayable codebooks
    inlined as literals, same normalize/encode/distance-table/gather
    CTEs), gating the persisted-PQ store lifecycle: incremental encode
    against disk-loaded codebooks must scan identically to this
    one-shot replay because the encoder is deterministic given the
    books."""
    from .operators.knn import _pq_lloyd_deterministic

    vecs = _load_embeddings_ordered()
    books = _pq_lloyd_deterministic(
        vecs[:sample_rows], n_subspaces, n_codes, iters
    )
    dsub = books.shape[2]
    cb_values = ",\n      ".join(
        f"({j}, {c}, {_plane_literal(list(books[j, c]))})"
        for j in range(n_subspaces)
        for c in range(n_codes)
    )
    return f"""
    WITH e AS (
      SELECT vec_id AS doc_id, embedding::DOUBLE[] AS v FROM embeddings
    ), nrm AS (
      SELECT doc_id,
             list_transform(v, x -> x
               / greatest(sqrt(list_dot_product(v, v)), 1e-12)) AS nv
      FROM e
    ), cb(sub, code, cv) AS (VALUES
      {cb_values}
    ), subs AS (
      SELECT CAST(range AS INT) AS sub FROM range({n_subspaces})
    ), docsub AS (
      SELECT doc_id, sub,
             nv[sub * {dsub} + 1 : sub * {dsub} + {dsub}] AS b
      FROM nrm CROSS JOIN subs
    ), encd AS (
      SELECT doc_id, sub, code FROM (
        SELECT d.doc_id, d.sub, cb.code,
               row_number() OVER (PARTITION BY d.doc_id, d.sub
                 ORDER BY -2 * list_dot_product(d.b, cb.cv)
                          + list_dot_product(cb.cv, cb.cv) ASC,
                          cb.code) AS rn
        FROM docsub d JOIN cb ON cb.sub = d.sub
      ) WHERE rn = 1
    ), qtab AS (
      SELECT q.doc_id AS query_id, q.sub, cb.code,
             list_dot_product(q.b, q.b)
             - 2 * list_dot_product(q.b, cb.cv)
             + list_dot_product(cb.cv, cb.cv) AS qd2
      FROM docsub q JOIN cb ON cb.sub = q.sub
      WHERE q.doc_id < {n_queries}
    ), adc AS (
      SELECT t.query_id, enc.doc_id AS vec_id, sum(t.qd2) AS adc_dist
      FROM encd enc JOIN qtab t ON t.sub = enc.sub AND t.code = enc.code
      GROUP BY t.query_id, enc.doc_id
    ), ar AS (
      SELECT query_id, vec_id,
             -- rank quantization (r9): SQL SUM accumulates the m gather
             -- terms in arbitrary order, so exact-duplicate vectors tie
             -- only after rounding; mirrors knn_join_pq
             round(adc_dist, 12) AS adc_dist,
             row_number() OVER (PARTITION BY query_id
               ORDER BY round(adc_dist, 12) ASC, vec_id) AS rank
      FROM adc
    )
    SELECT query_id, vec_id, round(adc_dist, 6) AS adc_dist,
           CAST(rank AS INT) AS rank
    FROM ar WHERE rank <= {k}
    """


def knn_pq_recall_oracle_sql(
    *,
    n_subspaces: int = 8,
    n_codes: int = 64,
    k: int = 5,
    n_queries: int = 5,
    iters: int = 8,
    sample_rows: int = 10_000,
    refine_factor: int | None = None,
) -> str:
    """END-TO-END oracle for the PQ/ADC recall self-measurements: the
    deterministic per-subspace trainer (knn._pq_lloyd_deterministic,
    vec_id-ordered sample, first-k init, no RNG) is bit-reproducible
    from the same parquet, so the codebooks inline as SQL literals and
    the whole pipeline replays in DuckDB — normalization, per-subspace
    encode (argmin of the SAME ``-2 b.c + c.c`` expression the engine
    ranks on, code-id tiebreak matching np.argmin's first-min), the
    query distance tables (3-term L2 form, matching knn.dist_table),
    the table-gather ADC sum, the top-k (or, with ``refine_factor``,
    the candidate cut + exact cosine re-rank), and the recall join
    against the exact top-k. Like the LSH/IVF conversions, the recall
    NUMBER is hash-gated, not just bounded."""
    from .operators.knn import _pq_lloyd_deterministic

    vecs = _load_embeddings_ordered()
    books = _pq_lloyd_deterministic(
        vecs[:sample_rows], n_subspaces, n_codes, iters
    )
    dsub = books.shape[2]
    cb_values = ",\n      ".join(
        f"({j}, {c}, {_plane_literal(list(books[j, c]))})"
        for j in range(n_subspaces)
        for c in range(n_codes)
    )
    cos = (
        "list_dot_product(d.v, q.v)"
        " / (sqrt(list_dot_product(d.v, d.v))"
        " * sqrt(list_dot_product(q.v, q.v)))"
    )
    n_cand = k * refine_factor if refine_factor else k
    if refine_factor:
        approx_ctes = f""", cand AS (
      SELECT query_id, vec_id FROM ar WHERE rank <= {n_cand}
    ), rsc AS (
      SELECT c.query_id, c.vec_id,
             row_number() OVER (PARTITION BY c.query_id
               ORDER BY {cos} DESC, c.vec_id) AS rank
      FROM cand c
      JOIN e d ON d.doc_id = c.vec_id
      JOIN e q ON q.doc_id = c.query_id
    ), approx AS (
      SELECT query_id, vec_id FROM rsc WHERE rank <= {k}
    )"""
    else:
        approx_ctes = f""", approx AS (
      SELECT query_id, vec_id FROM ar WHERE rank <= {k}
    )"""
    return f"""
    WITH e AS (
      SELECT vec_id AS doc_id, embedding::DOUBLE[] AS v FROM embeddings
    ), nrm AS (
      SELECT doc_id,
             list_transform(v, x -> x
               / greatest(sqrt(list_dot_product(v, v)), 1e-12)) AS nv
      FROM e
    ), cb(sub, code, cv) AS (VALUES
      {cb_values}
    ), subs AS (
      SELECT CAST(range AS INT) AS sub FROM range({n_subspaces})
    ), docsub AS (
      SELECT doc_id, sub,
             nv[sub * {dsub} + 1 : sub * {dsub} + {dsub}] AS b
      FROM nrm CROSS JOIN subs
    ), encd AS (
      SELECT doc_id, sub, code FROM (
        SELECT d.doc_id, d.sub, cb.code,
               row_number() OVER (PARTITION BY d.doc_id, d.sub
                 ORDER BY -2 * list_dot_product(d.b, cb.cv)
                          + list_dot_product(cb.cv, cb.cv) ASC,
                          cb.code) AS rn
        FROM docsub d JOIN cb ON cb.sub = d.sub
      ) WHERE rn = 1
    ), qtab AS (
      SELECT q.doc_id AS query_id, q.sub, cb.code,
             list_dot_product(q.b, q.b)
             - 2 * list_dot_product(q.b, cb.cv)
             + list_dot_product(cb.cv, cb.cv) AS qd2
      FROM docsub q JOIN cb ON cb.sub = q.sub
      WHERE q.doc_id < {n_queries}
    ), adc AS (
      SELECT t.query_id, enc.doc_id AS vec_id, sum(t.qd2) AS adc_dist
      FROM encd enc JOIN qtab t ON t.sub = enc.sub AND t.code = enc.code
      GROUP BY t.query_id, enc.doc_id
    ), ar AS (
      SELECT query_id, vec_id,
             -- same r9 rank quantization as knn_join_pq
             row_number() OVER (PARTITION BY query_id
               ORDER BY round(adc_dist, 12) ASC, vec_id) AS rank
      FROM adc
    ){approx_ctes}, xs AS (
      SELECT q0.doc_id AS query_id, c0.doc_id AS vec_id,
             row_number() OVER (PARTITION BY q0.doc_id
               ORDER BY list_dot_product(c0.v, q0.v)
                 / (sqrt(list_dot_product(c0.v, c0.v))
                  * sqrt(list_dot_product(q0.v, q0.v))) DESC,
               c0.doc_id) AS rank
      FROM e c0 CROSS JOIN e q0 WHERE q0.doc_id < {n_queries}
    ), exact AS (
      SELECT query_id, vec_id FROM xs WHERE rank <= {k}
    ), j AS (
      SELECT x.query_id,
             CASE WHEN a.vec_id IS NULL THEN 0 ELSE 1 END AS hit
      FROM exact x LEFT JOIN approx a USING (query_id, vec_id)
    )
    SELECT query_id, count(*) AS n_exact,
           CAST(sum(hit) AS BIGINT) AS n_hit,
           CAST(floor(10000 * sum(hit) / count(*)) AS BIGINT) AS recall_e4
    FROM j GROUP BY query_id
    """


# ---------------------------------------------------------------------------
# binary (sign-bit) quantization oracles — mirror operators/knn.py
# binarize_embeddings / knn_topk_binary / knn_topk_binary_rerank exactly
# ---------------------------------------------------------------------------

_BINARY_CODES_CTE = """codes AS (
      SELECT vec_id, embedding,
             CAST(list_sum(list_transform(range(0, 32),
               i -> CASE WHEN embedding[i + 1] > 0 THEN (1::BIGINT << i)
                         ELSE 0::BIGINT END)) AS BIGINT) AS lo,
             CAST(list_sum(list_transform(range(32, 64),
               i -> CASE WHEN embedding[i + 1] > 0
                         THEN (1::BIGINT << (i - 32))
                         ELSE 0::BIGINT END)) AS BIGINT) AS hi
      FROM embeddings
    )"""

_BINARY_HAMMING = (
    "CAST(bit_count(xor(c.lo, q.lo)) + bit_count(xor(c.hi, q.hi))"
    " AS BIGINT)"
)


def knn_binary_oracle_sql(*, query_vec_id: int = 0, k: int = 15) -> str:
    """SQL mirroring operators.knn.knn_topk_binary: the identical
    sign-bit packing (two 32-bit halves — DuckDB's << raises on a shift
    into the BIGINT sign bit, which is why both engines pack half-words)
    then Hamming top-k with the id tie-break."""
    return f"""
    WITH {_BINARY_CODES_CTE},
    q AS (SELECT lo, hi FROM codes WHERE vec_id = {query_vec_id})
    SELECT c.vec_id, {_BINARY_HAMMING} AS hamming
    FROM codes c, q
    ORDER BY {_BINARY_HAMMING}, c.vec_id
    LIMIT {k}
    """


def knn_binary_rerank_oracle_sql(
    *, query_vec_id: int = 0, k: int = 15, n_candidates: int = 64
) -> str:
    """SQL mirroring operators.knn.knn_topk_binary_rerank: Hamming
    candidate cut (deterministic (distance, id) order) then the standard
    exact-cosine top-k over only those candidates."""
    score = (
        "(1.0 + list_dot_product(cand.embedding::DOUBLE[], q.e)"
        " / (sqrt(list_dot_product(cand.embedding::DOUBLE[],"
        " cand.embedding::DOUBLE[]))"
        " * sqrt(list_dot_product(q.e, q.e)))) / 2.0"
    )
    return f"""
    WITH {_BINARY_CODES_CTE},
    q AS (SELECT lo, hi, embedding::DOUBLE[] AS e FROM codes
          WHERE vec_id = {query_vec_id}),
    cand AS (
      SELECT c.vec_id, c.embedding
      FROM codes c, q
      ORDER BY {_BINARY_HAMMING}, c.vec_id
      LIMIT {n_candidates}
    )
    SELECT cand.vec_id, round({score}, 6) AS score
    FROM cand, q
    ORDER BY {score} DESC, cand.vec_id
    LIMIT {k}
    """


# ---------------------------------------------------------------------------
# hybrid retrieval (BM25 + cosine, reciprocal-rank fusion) oracle —
# mirrors operators/search.py hybrid_search_rrf end to end
# ---------------------------------------------------------------------------


def _doc_hash_embed_scored_cte(semantic_query: str, *, dim: int) -> str:
    """CTE chain ending in ``sem_scored (doc_id, score)``: the document-
    level hash-provider embedding replayed in SQL — the same md5 signed
    bucket sums / float32 quantization / left-fold query norm recipe as
    search_semantic_oracle_sql, minus the chunking (hybrid retrieval
    embeds whole documents, pipeline/embed.py hash_embed_series)."""
    import hashlib
    import math

    import numpy as np

    vec = np.zeros(dim, dtype=np.float64)
    for tok in ["[query]"] + semantic_query.lower().split():
        h = int(hashlib.md5(tok.encode()).hexdigest()[:8], 16)
        vec[h % dim] += 1.0 if (h >> 16) % 2 == 0 else -1.0
    nrm = np.linalg.norm(vec)
    if nrm > 0:
        vec = vec / nrm
    qd = [float(x) for x in vec.astype(np.float32)]
    acc = 0.0
    for v in qd:  # replicate Spark's left-fold l2_norm exactly
        acc += v * v
    qnorm = math.sqrt(acc)
    qvals = ", ".join(f"({b}, {v!r})" for b, v in enumerate(qd) if v != 0.0)
    hx = "('0x' || substr(md5(tok), 1, 8))::BIGINT"
    return f"""dtoks AS (
      SELECT doc_id, unnest(list_prepend('[passage]',
        list_filter(string_split_regex(lower(text), '\\s+'),
                    x -> x <> ''))) AS tok
      FROM documents
    ), dw AS (
      SELECT doc_id, {hx} % {dim} AS bucket,
             sum(CASE WHEN ({hx} // 65536) % 2 = 0 THEN 1 ELSE -1 END) AS s
      FROM dtoks GROUP BY 1, 2
    ), dss AS (
      SELECT doc_id, sum(s * s) AS ss FROM dw GROUP BY 1
    ), dcomp AS (
      SELECT dw.doc_id, dw.bucket,
             CAST(CAST(dw.s AS DOUBLE) / sqrt(CAST(dss.ss AS DOUBLE))
                  AS FLOAT4) AS c
      FROM dw JOIN dss USING (doc_id)
      WHERE dw.s <> 0 AND dss.ss > 0
    ), qw(bucket, qc) AS (VALUES {qvals}),
    sem_scored AS (
      SELECT doc_id,
             (1.0 + sum(CAST(dcomp.c AS DOUBLE) * coalesce(qw.qc, 0.0))
              / (sqrt(sum(CAST(dcomp.c AS DOUBLE) * CAST(dcomp.c AS DOUBLE)))
                 * {qnorm!r})) / 2.0 AS score
      FROM dcomp LEFT JOIN qw USING (bucket)
      GROUP BY doc_id
    )"""


def hybrid_rrf_oracle_sql(
    lexical_query: str,
    semantic_query: str,
    *,
    k: int = 15,
    n_per_list: int = 50,
    rrf_k: int = 60,
    dim: int = 32,
    rank_digits: int = 9,
) -> str:
    """SQL mirroring operators.search.hybrid_search_rrf: BM25 top-N and
    doc-embedding cosine top-N as independent ranked lists, fused by
    Σ 1/(rrf_k + rank). Ranks are integers, so the fused double is
    bit-identical in both engines; ordering uses the doc_id tie-break
    (equal single-list ranks DO tie). Both lists rank on scores
    quantized to ``rank_digits`` exactly like the engine side —
    truly-tied score packs (replicated corpora) collapse onto the id
    tie-break instead of ±1-ulp reassociation order."""
    lex_sub = fts_oracle_sql(
        lexical_query, limit=n_per_list, rank_digits=rank_digits
    )
    return f"""
    WITH {_doc_hash_embed_scored_cte(semantic_query, dim=dim)},
    lex0 AS (SELECT doc_id, score FROM ({lex_sub}) _lex),
    sem0 AS (
      SELECT doc_id, round(score, {rank_digits}) AS score
      FROM sem_scored
      ORDER BY round(score, {rank_digits}) DESC, doc_id
      LIMIT {n_per_list}
    ),
    lexr AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY score DESC, doc_id) AS lex_rank
      FROM lex0
    ),
    semr AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY score DESC, doc_id) AS sem_rank
      FROM sem0
    ),
    fused AS (
      SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
             coalesce(1.0 / ({rrf_k}.0 + l.lex_rank), 0.0)
               + coalesce(1.0 / ({rrf_k}.0 + s.sem_rank), 0.0) AS f,
             l.lex_rank, s.sem_rank
      FROM lexr l FULL JOIN semr s ON l.doc_id = s.doc_id
    )
    SELECT doc_id, round(f, 6) AS rrf_score, lex_rank, sem_rank
    FROM fused
    ORDER BY f DESC, doc_id
    LIMIT {k}
    """


def unicode_nfc_groups_sql(*, every: int = 10) -> str:
    """Mirror of the dedup_unicode_nfc entry: the same deterministic
    variant corpus (precomposed vs combining-sequence renderings of
    every ``every``-th document) deduped on md5(nfc_normalize(text)).
    chr(225) = U+00E1 (á precomposed); chr(769) = U+0301 (combining
    acute) — DuckDB's utf8proc NFC and Python's unicodedata agree on
    canonical composition, which is the whole contract."""
    return f"""
    WITH v AS (
      SELECT doc_id * 2 AS doc_id, replace(text, 'a', chr(225)) AS text
      FROM documents WHERE doc_id % {every} = 0
      UNION ALL
      SELECT doc_id * 2 + 1, replace(text, 'a', 'a' || chr(769))
      FROM documents WHERE doc_id % {every} = 0
    ), h AS (
      SELECT doc_id, md5(nfc_normalize(text)) AS nhash FROM v
    ), g AS (
      SELECT nhash, count(*) AS group_size, min(doc_id) AS canonical
      FROM h GROUP BY nhash
    )
    SELECT h.doc_id, h.nhash, g.group_size,
           h.doc_id = g.canonical AS keep
    FROM h JOIN g USING (nhash)
    WHERE g.group_size > 1
    """


def bpe_train_oracle_sql(
    *, n_merges: int = 12, top_words: int = 200, table: str = "documents"
) -> str:
    """Fully INDEPENDENT SQL replay of operators.bpe.bpe_train — not an
    inlined-literals oracle: DuckDB re-derives every round's argmax pair
    from its own evolving vocabulary state, so a trainer that ever picks
    a non-max pair, miscounts a frequency, or mis-applies a merge
    diverges immediately.

    Per round r: pair counts from vocab_{r-1} (symbols are '|'-wrapped
    in a sentinel string — words are ^[a-z]+$ and the end marker has no
    '|', so '|L|R|' cannot match inside a symbol), argmax with the
    (count desc, lhs, rhs) tie-break, then merge application as an
    ITERATED FIRST-OCCURRENCE replacement in a recursive CTE — leftmost
    single replacement to fixpoint, equivalent to the canonical BPE
    scan (aaaa-overlap cases included; pinned by tests).

    Every non-recursive CTE is MATERIALIZED: DuckDB would otherwise
    inline each reference and re-execute the upstream chain — at three
    upstream references per round that is O(3^rounds) work (measured:
    >2 min inlined vs 0.5 s materialized at 12 rounds / sf0.01).
    """
    parts = [
        f"""words AS MATERIALIZED (
      SELECT word, count(*) AS freq FROM (
        SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                      x -> x <> '')) AS word
        FROM {table})
      WHERE regexp_matches(word, '^[a-z]+$')
      GROUP BY word
    ), vocab_0 AS MATERIALIZED (
      SELECT word, freq,
             '|' || array_to_string(
               list_append(list_transform(range(1, length(word) + 1),
                                          i -> word[i]), '</w>'), '|')
               || '|' AS seq
      FROM (SELECT word, freq FROM words
            ORDER BY freq DESC, word LIMIT {top_words})
    )"""
    ]
    for r in range(1, n_merges + 1):
        p = r - 1
        parts.append(
            f"""syms_{r} AS MATERIALIZED (
      SELECT freq, list_filter(string_split(seq, '|'), x -> x <> '') AS s
      FROM vocab_{p}
    ), cnt_{r} AS MATERIALIZED (
      SELECT s[i] AS l, s[i + 1] AS r2, sum(freq) AS c
      FROM syms_{r}, unnest(range(1, len(s))) AS t(i)
      GROUP BY 1, 2
    ), best_{r} AS MATERIALIZED (
      SELECT l, r2, CAST(c AS BIGINT) AS c FROM cnt_{r}
      ORDER BY c DESC, l, r2 LIMIT 1
    ), pat_{r} AS MATERIALIZED (
      SELECT '|' || l || '|' || r2 || '|' AS p, '|' || l || r2 || '|' AS rep
      FROM best_{r}
    ), fix_{r} AS (
      SELECT word, freq, seq FROM vocab_{p}
      UNION ALL
      SELECT word, freq,
             substr(seq, 1, strpos(seq, (SELECT p FROM pat_{r})) - 1)
               || (SELECT rep FROM pat_{r})
               || substr(seq, strpos(seq, (SELECT p FROM pat_{r}))
                              + length((SELECT p FROM pat_{r})))
      FROM fix_{r}
      WHERE strpos(seq, (SELECT p FROM pat_{r})) > 0
    ), vocab_{r} AS MATERIALIZED (
      SELECT word, freq, seq FROM fix_{r}
      WHERE strpos(seq, (SELECT p FROM pat_{r})) = 0
    )"""
        )
    rows = "\n      UNION ALL ".join(
        f"SELECT {r} AS merge_round, l AS lhs, r2 AS rhs, c AS pair_count"
        f" FROM best_{r}"
        for r in range(1, n_merges + 1)
    )
    return (
        "WITH RECURSIVE "
        + ",\n    ".join(parts)
        + f"\n    SELECT * FROM ({rows}) ORDER BY merge_round"
    )


def bpe_segment_oracle_sql(
    *,
    n_merges: int = 12,
    top_words: int = 200,
    top_k: int = 30,
    table: str = "documents",
) -> str:
    """SQL replay of operators.bpe.bpe_segment_words + token stats over
    the FULL word vocabulary: re-derives the merge table exactly like
    bpe_train_oracle_sql (independent replay, same CTE chain), then
    applies pat_1..pat_n in order to every distinct corpus word (not
    just the training cut) with the same iterated first-occurrence
    fixpoint, explodes the final symbol sequences, and sums word
    frequencies per token — the tokenizer-inference twin of the
    trainer gate."""
    train = bpe_train_oracle_sql(
        n_merges=n_merges, top_words=top_words, table=table
    )
    # reuse everything up to the final SELECT of the trainer replay
    head, _tail = train.rsplit("\n    SELECT * FROM (", 1)
    parts = [head]
    parts.append(
        """,
    sv_0 AS MATERIALIZED (
      SELECT word, freq,
             '|' || array_to_string(
               list_append(list_transform(range(1, length(word) + 1),
                                          i -> word[i]), '</w>'), '|')
               || '|' AS seq
      FROM words
    )"""
    )
    for r in range(1, n_merges + 1):
        p = r - 1
        parts.append(
            f""",
    sfix_{r} AS (
      SELECT word, freq, seq FROM sv_{p}
      UNION ALL
      SELECT word, freq,
             substr(seq, 1, strpos(seq, (SELECT p FROM pat_{r})) - 1)
               || (SELECT rep FROM pat_{r})
               || substr(seq, strpos(seq, (SELECT p FROM pat_{r}))
                              + length((SELECT p FROM pat_{r})))
      FROM sfix_{r}
      WHERE strpos(seq, (SELECT p FROM pat_{r})) > 0
    ), sv_{r} AS MATERIALIZED (
      SELECT word, freq, seq FROM sfix_{r}
      WHERE strpos(seq, (SELECT p FROM pat_{r})) = 0
    )"""
        )
    parts.append(
        f"""
    SELECT token, CAST(sum(freq) AS BIGINT) AS n
    FROM (
      SELECT freq, unnest(list_filter(string_split(seq, '|'),
                                      x -> x <> '')) AS token
      FROM sv_{n_merges}
    )
    GROUP BY token
    ORDER BY n DESC, token
    LIMIT {top_k}"""
    )
    return "".join(parts)


def embedding_covariance_sql(*, dim: int = 64, round_digits: int = 6) -> str:
    """SQL mirror of operators.embedstats.embedding_covariance: sample
    covariance upper triangle over the embeddings table. Sum order
    differs from the numpy partials (reassociation ~1e-13 at these
    magnitudes) — absorbed by the 6 dp projection, same envelope as
    every other float aggregate oracle."""
    return f"""
    WITH e AS (
      SELECT embedding::DOUBLE[] AS v FROM embeddings
      WHERE embedding IS NOT NULL AND len(embedding) = {dim}
    ),
    n AS (SELECT count(*) AS n FROM e),
    idx AS (
      SELECT t1.i, t2.j
      FROM range(0, {dim}) t1(i), range(0, {dim}) t2(j)
      WHERE t1.i <= t2.j
    ),
    prod AS (
      SELECT i, j, sum(v[i + 1] * v[j + 1]) AS xx
      FROM e, idx GROUP BY i, j
    ),
    sums AS (
      SELECT k, sum(v[k + 1]) AS s
      FROM e, range(0, {dim}) t(k) GROUP BY k
    )
    SELECT CAST(p.i AS INT) AS i, CAST(p.j AS INT) AS j, n.n,
           round((p.xx - si.s * sj.s / n.n) / (n.n - 1),
                 {round_digits}) + 0.0 AS cov
    FROM prod p
    JOIN sums si ON si.k = p.i
    JOIN sums sj ON sj.k = p.j
    CROSS JOIN n
    """


def hybrid_weighted_oracle_sql(
    lexical_query: str,
    semantic_query: str,
    *,
    k: int = 15,
    n_per_list: int = 50,
    w_lex: float = 0.4,
    w_sem: float = 0.6,
    dim: int = 32,
    rank_digits: int = 9,
) -> str:
    """SQL mirroring operators.search.hybrid_search_weighted: the same
    two rank-quantized lists as the RRF oracle, min-max normalized per
    list (degenerate all-equal list -> 1.0), convex-combined. All
    downstream doubles are pure functions of the quantized scores, so
    the fusion is engine-exact."""
    lex_sub = fts_oracle_sql(
        lexical_query, limit=n_per_list, rank_digits=rank_digits
    )
    return f"""
    WITH {_doc_hash_embed_scored_cte(semantic_query, dim=dim)},
    lex0 AS (SELECT doc_id, score FROM ({lex_sub}) _lex),
    sem0 AS (
      SELECT doc_id, round(score, {rank_digits}) AS score
      FROM sem_scored
      ORDER BY round(score, {rank_digits}) DESC, doc_id
      LIMIT {n_per_list}
    ),
    lexn AS (
      SELECT doc_id,
             CASE WHEN max(score) OVER () = min(score) OVER () THEN 1.0
                  ELSE (score - min(score) OVER ())
                       / (max(score) OVER () - min(score) OVER ())
             END AS lex_norm
      FROM lex0
    ),
    semn AS (
      SELECT doc_id,
             CASE WHEN max(score) OVER () = min(score) OVER () THEN 1.0
                  ELSE (score - min(score) OVER ())
                       / (max(score) OVER () - min(score) OVER ())
             END AS sem_norm
      FROM sem0
    ),
    fused AS (
      SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
             {w_lex!r} * coalesce(l.lex_norm, 0.0)
               + {w_sem!r} * coalesce(s.sem_norm, 0.0) AS f,
             l.lex_norm, s.sem_norm
      FROM lexn l FULL JOIN semn s ON l.doc_id = s.doc_id
    )
    SELECT doc_id, round(f, 6) AS wsum_score,
           round(lex_norm, 6) AS lex_norm, round(sem_norm, 6) AS sem_norm
    FROM fused
    ORDER BY f DESC, doc_id
    LIMIT {k}
    """


def knn_join_binary_oracle_sql(*, n_queries: int = 5, k: int = 5) -> str:
    """SQL mirroring operators.knn.knn_join_binary for the standard
    query side (vec_id < n_queries): same half-word packing, Hamming
    per pair, row_number top-k per query."""
    return f"""
    WITH {_BINARY_CODES_CTE},
    q AS (SELECT vec_id AS query_id, lo AS q_lo, hi AS q_hi
          FROM codes WHERE vec_id < {n_queries}),
    paired AS (
      SELECT q.query_id, c.vec_id,
             CAST(bit_count(xor(c.lo, q.q_lo))
                  + bit_count(xor(c.hi, q.q_hi)) AS BIGINT) AS hamming
      FROM codes c, q
    ),
    ranked AS (
      SELECT query_id, vec_id, hamming,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY hamming, vec_id) AS rn
      FROM paired
    )
    SELECT query_id, vec_id, hamming FROM ranked WHERE rn <= {k}
    """


def ewma_sql(
    table: str = "events", *, minutes: int = 60, alpha: float = 0.25
) -> str:
    """SQL mirror of operators.events.ewma_series: the identical left
    fold (list_reduce seeds with the first element, same a*x + (1-a)*y
    multiply-add shape) over the identically ordered bucket array —
    bit-exact, not tolerance-compared."""
    return f"""
    WITH b AS (
      SELECT time_bucket(INTERVAL '{minutes} minutes', ts) AS window_start,
             event_type, count(*) AS n_events
      FROM {table} GROUP BY 1, 2
    ), s AS (
      SELECT event_type, window_start, n_events,
             array_agg(CAST(n_events AS DOUBLE)) OVER (
               PARTITION BY event_type ORDER BY window_start
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS xs
      FROM b
    )
    SELECT event_type, window_start, n_events,
           round(list_reduce(xs, (y, x) -> {alpha!r} * x
                                           + {1.0 - alpha!r} * y), 6)
             AS ewma
    FROM s
    """


def cusum_sql(
    table: str = "events",
    *,
    minutes: int = 60,
    slack_sigmas: float = 0.5,
    alarm_sigmas: float = 4.0,
) -> str:
    """SQL mirror of operators.events.cusum_series: the same exact-
    integer μ/σ derivation and the identical seed-0 left fold —
    ``list_reduce`` over ``list_prepend(0.0, xs)`` replays Spark's
    ``aggregate(xs, 0.0, fold)`` step for step."""
    pos = (
        "list_reduce(list_prepend(0.0, xs),"
        f" (y, x) -> greatest(0.0, y + (x - mu - {slack_sigmas!r} * sigma)))"
    )
    neg = (
        "list_reduce(list_prepend(0.0, xs),"
        f" (y, x) -> greatest(0.0, y - (x - mu + {slack_sigmas!r} * sigma)))"
    )
    return f"""
    WITH b AS (
      SELECT time_bucket(INTERVAL '{minutes} minutes', ts) AS window_start,
             event_type, count(*) AS n_events
      FROM {table} GROUP BY 1, 2
    ), st AS (
      SELECT event_type, window_start, n_events,
             count(*) OVER (PARTITION BY event_type) AS cnt,
             sum(n_events) OVER (PARTITION BY event_type) AS s1,
             sum(n_events * n_events) OVER (PARTITION BY event_type) AS s2,
             array_agg(CAST(n_events AS DOUBLE)) OVER (
               PARTITION BY event_type ORDER BY window_start
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS xs
      FROM b
    ), p AS (
      SELECT event_type, window_start, n_events, xs,
             s1 * 1.0 / cnt AS mu,
             sqrt(greatest(
               s2 * 1.0 / cnt - (s1 * 1.0 / cnt) * (s1 * 1.0 / cnt),
               0.0)) AS sigma
      FROM st
    )
    SELECT event_type, window_start, n_events,
           round({pos}, 6) AS cusum_pos,
           round({neg}, 6) AS cusum_neg,
           ({pos} > {alarm_sigmas!r} * sigma
            OR {neg} > {alarm_sigmas!r} * sigma) AS alarm
    FROM p
    """


def winnowing_pairs_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    threshold: float = 0.5,
    max_df: int = 50,
) -> str:
    """SQL mirror of operators.dedup.winnowing_near_duplicates: the
    same normalized text, md5-prefix k-gram hashes, per-window minima,
    distinct fingerprint sets, df-capped equi-join and exact-integer
    overlap ratio."""
    hx = "('0x' || substr(md5(g), 1, 8))::BIGINT"
    return f"""
    WITH normd AS (
      SELECT {id_col} AS doc_id,
             array_to_string(
               list_filter(regexp_split_to_array(lower({text_col}),
                                                 '{SEP_SQL}'),
                           x -> x <> ''), ' ') AS t
      FROM {table}
    ), hashed AS (
      SELECT doc_id,
             list_transform(
               list_filter(
                 list_transform(range(1, length(t) - {k} + 2),
                                i -> substr(t, i, {k})),
                 s -> length(s) = {k}),
               g -> {hx}) AS hs
      FROM normd
    ), fps AS (
      SELECT doc_id, unnest(
        CASE WHEN len(hs) >= {w} THEN
               list_distinct(list_transform(
                 range(1, len(hs) - {w} + 2),
                 i -> list_min(list_slice(hs, i, i + {w} - 1))))
             WHEN len(hs) > 0 THEN [list_min(hs)]
             ELSE [] END) AS fp
      FROM hashed
    ), sizes AS (
      SELECT doc_id, count(*) AS n_fp FROM fps GROUP BY doc_id
    ), dfreq AS (
      SELECT fp, count(*) AS df FROM fps GROUP BY fp
    ), rare AS (
      SELECT f.doc_id, f.fp FROM fps f JOIN dfreq USING (fp)
      WHERE dfreq.df <= {max_df}
    ), shared AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
      FROM rare a JOIN rare b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT s.doc_a, s.doc_b, s.shared,
           round(s.shared / least(sa.n_fp, sb.n_fp), 6) AS overlap
    FROM shared s
    JOIN sizes sa ON sa.doc_id = s.doc_a
    JOIN sizes sb ON sb.doc_id = s.doc_b
    WHERE s.shared / least(sa.n_fp, sb.n_fp) >= {threshold}
    """


def logreg_train_oracle_sql(
    *,
    iters: int = 8,
    lr: float = 1.0,
    table: str = "documents",
    text_col: str = "text",
    lang_col: str = "lang",
    label_lang: str = "en",
) -> str:
    """Fully INDEPENDENT SQL replay of operators.logreg.logreg_train:
    chained CTEs carry the weight row iteration to iteration, each
    gradient re-derived from the oracle's own state (no inlined
    literals). The sigmoid/update expressions use the same shapes as
    the Spark side; residual cross-engine drift (sum reassociation,
    exp ulp) is ~1e-12 on O(1) weights — absorbed by round(6)."""
    toks = _TOKS_EXPR.format(text=text_col, sep=SEP_SQL)
    parts = [
        f"""feats AS MATERIALIZED (
      SELECT len(t) / 100.0 AS x1,
             length({text_col}) / 1000.0 AS x2,
             len(list_distinct(t)) / greatest(len(t), 1) AS x3,
             CASE WHEN {lang_col} = '{label_lang}' THEN 1.0
                  ELSE 0.0 END AS y
      FROM (SELECT {text_col}, {lang_col}, {toks} AS t FROM {table})
    ), nrows AS MATERIALIZED (SELECT count(*) AS n FROM feats),
    w0 AS (SELECT 0.0 AS b, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3)"""
    ]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(
            f"""g{i} AS MATERIALIZED (
      SELECT sum(e) AS gb, sum(e * x1) AS g1,
             sum(e * x2) AS g2, sum(e * x3) AS g3
      FROM (
        SELECT 1.0 / (1.0 + exp(-(w.b + w.w1 * f.x1 + w.w2 * f.x2
                                  + w.w3 * f.x3))) - f.y AS e,
               f.x1, f.x2, f.x3
        FROM feats f, w{p} w)
    ), w{i} AS MATERIALIZED (
      SELECT w.b - {lr!r} * g.gb / nrows.n AS b,
             w.w1 - {lr!r} * g.g1 / nrows.n AS w1,
             w.w2 - {lr!r} * g.g2 / nrows.n AS w2,
             w.w3 - {lr!r} * g.g3 / nrows.n AS w3
      FROM w{p} w, g{i} g, nrows
    )"""
        )
    rows = "\n      UNION ALL ".join(
        f"SELECT {i} AS iteration, round(b, 6) AS w_bias,"
        f" round(w1, 6) AS w_ntok, round(w2, 6) AS w_nchar,"
        f" round(w3, 6) AS w_ttr FROM w{i}"
        for i in range(1, iters + 1)
    )
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"\n    SELECT * FROM ({rows}) ORDER BY iteration"
    )


def logreg_score_oracle_sql(
    *,
    iters: int = 8,
    lr: float = 1.0,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    label_lang: str = "en",
) -> str:
    """Train-then-score replay: reuses the trainer's chained CTEs (the
    oracle re-derives its own final weights — note the engine side
    scores with ROUNDED final weights from its trace, so the scoring
    weights here round identically before use)."""
    train = logreg_train_oracle_sql(
        iters=iters, lr=lr, table=table, text_col=text_col,
        lang_col=lang_col, label_lang=label_lang,
    )
    head, _tail = train.rsplit("\n    SELECT * FROM (", 1)
    toks = _TOKS_EXPR.format(text=text_col, sep=SEP_SQL)
    return (
        head
        + f""",
    wfinal AS (
      SELECT round(b, 6) AS b, round(w1, 6) AS w1,
             round(w2, 6) AS w2, round(w3, 6) AS w3
      FROM w{iters}
    )
    SELECT {id_col} AS doc_id,
           CASE WHEN {lang_col} = '{label_lang}' THEN 1 ELSE 0 END AS y,
           round(1.0 / (1.0 + exp(-(w.b + w.w1 * (len(t) / 100.0)
                 + w.w2 * (length({text_col}) / 1000.0)
                 + w.w3 * (len(list_distinct(t))
                           / greatest(len(t), 1))))), 6) AS score
    FROM (SELECT {id_col}, {text_col}, {lang_col}, {toks} AS t
          FROM {table}) , wfinal w
    """
    )


# ---------------------------------------------------------------------------
# Sketches (operators/sketches.py): identical hash/bit formulas re-derived
# from the raw tables — the sketches are gated EXACTLY, not tolerance-
# compared (see the module docstring for the integer-sum trick).

def cms_heavy_hitters_sql(
    *,
    table: str = "events",
    key_col: str = "user_id",
    depth: int = 4,
    width: int = 512,
    k: int = 20,
    salt: str = "cms",
) -> str:
    """Mirror of sketches.cms_heavy_hitters: same md5 cell hashing, same
    min-over-rows estimate, same (est desc, key) top-k."""
    return f"""
    WITH pos AS (
      SELECT {key_col},
             rs.r,
             (('0x' || substr(md5('{salt}' || rs.r::VARCHAR || ':' ||
                                  {key_col}::VARCHAR), 1, 8))::BIGINT
              % {width}) AS c
      FROM {table}
      CROSS JOIN (SELECT unnest(range({depth})) AS r) rs
    ),
    cells AS (
      SELECT r, c, count(*) AS cell_n FROM pos GROUP BY r, c
    ),
    exact AS (
      SELECT {key_col}, count(*) AS exact_n FROM {table} GROUP BY {key_col}
    ),
    cand AS (
      SELECT e.{key_col}, e.exact_n, rs.r,
             (('0x' || substr(md5('{salt}' || rs.r::VARCHAR || ':' ||
                                  e.{key_col}::VARCHAR), 1, 8))::BIGINT
              % {width}) AS c
      FROM exact e
      CROSS JOIN (SELECT unnest(range({depth})) AS r) rs
    ),
    est AS (
      SELECT cand.{key_col}, cand.exact_n, min(cells.cell_n) AS est_n
      FROM cand JOIN cells ON cand.r = cells.r AND cand.c = cells.c
      GROUP BY cand.{key_col}, cand.exact_n
    )
    SELECT {key_col}, est_n, exact_n, est_n - exact_n AS overestimate
    FROM est
    ORDER BY est_n DESC, {key_col} ASC
    LIMIT {k}
    """


def hll_distinct_sql(
    *,
    table: str = "events",
    group_col: str = "event_type",
    key_col: str = "user_id",
    p: int = 8,
    salt: str = "hll",
) -> str:
    """Mirror of sketches.hll_distinct: 60-bit hash, low-p-bit bucket,
    shiftright register extraction, integer harmonic sum, identical
    float literals for alpha*m^2*scale and the 2.5m threshold."""
    m = 1 << p
    wbits = 60 - p
    rmax = wbits + 1
    scale = 1 << rmax
    alpha = 0.7213 / (1.0 + 1.079 / m)
    num = alpha * m * m * float(scale)
    thresh = 2.5 * m
    return f"""
    WITH h AS (
      SELECT {group_col},
             ('0x' || substr(md5('{salt}:' || {key_col}::VARCHAR), 1, 15))::BIGINT AS h
      FROM {table}
    ),
    b AS (
      SELECT {group_col}, h % {m} AS bucket, (h >> {p}) AS w FROM h
    ),
    regs AS (
      SELECT {group_col}, bucket,
             max(CASE WHEN w = 0 THEN {rmax}
                      ELSE {rmax} - length(bin(w)) END) AS reg
      FROM b GROUP BY {group_col}, bucket
    ),
    g AS (
      SELECT {group_col},
             sum((1::BIGINT << ({rmax} - reg)))::BIGINT AS s_present,
             count(*) AS n_buckets
      FROM regs GROUP BY {group_col}
    ),
    est AS (
      SELECT {group_col},
             round(CASE WHEN {num!r} / (s_present + ({m} - n_buckets) * {scale}::BIGINT)::DOUBLE
                              <= {thresh!r}
                         AND ({m} - n_buckets) > 0
                        THEN {float(m)!r} * ln({float(m)!r} / ({m} - n_buckets)::DOUBLE)
                        ELSE {num!r} / (s_present + ({m} - n_buckets) * {scale}::BIGINT)::DOUBLE
                   END, 4) AS est_distinct
      FROM g
    ),
    exact AS (
      SELECT {group_col}, count(DISTINCT {key_col}) AS exact_distinct
      FROM {table} GROUP BY {group_col}
    )
    SELECT e.{group_col}, e.est_distinct, x.exact_distinct,
           round(abs(e.est_distinct - x.exact_distinct)
                 / x.exact_distinct::DOUBLE, 6) AS rel_err
    FROM est e JOIN exact x ON e.{group_col} = x.{group_col}
    ORDER BY e.{group_col}
    """


def exact_quantiles_sql(
    *,
    table: str = "events",
    group_col: str = "event_type",
    value_col: str = "value",
    qs: tuple = (0.25, 0.5, 0.75, 0.95, 0.99),
) -> str:
    """Mirror of sketches.exact_quantiles: rank = ceil(q*n) from the
    same double literals, row_number over the same ascending sort."""
    # CAST each literal: a bare 0.25 parses as DECIMAL in DuckDB and the
    # decimal ceil(q*n) would diverge from Spark's double arithmetic
    qlist = ", ".join(f"CAST({float(q)!r} AS DOUBLE)" for q in qs)
    return f"""
    WITH counts AS (
      SELECT {group_col}, count(*) AS n FROM {table}
      WHERE {value_col} IS NOT NULL GROUP BY {group_col}
    ),
    targets AS (
      SELECT {group_col}, n, qv.q,
             CAST(ceil(qv.q * n::DOUBLE) AS BIGINT) AS rn
      FROM counts CROSS JOIN (SELECT unnest([{qlist}]) AS q) qv
    ),
    ranked AS (
      SELECT {group_col}, {value_col} AS value,
             row_number() OVER (PARTITION BY {group_col}
                                ORDER BY {value_col} ASC) AS rn
      FROM {table} WHERE {value_col} IS NOT NULL
    )
    SELECT r.{group_col}, t.q, t.n, r.value
    FROM ranked r
    JOIN targets t ON r.{group_col} = t.{group_col} AND r.rn = t.rn
    ORDER BY r.{group_col}, t.q
    """


def zorder_bucket_stats_sql(
    *,
    table: str = "orders",
    x_col: str = "o_custkey",
    date_col: str = "o_orderdate",
    bits: int = 10,
    bucket_bits: int = 6,
) -> str:
    """Mirror of sources.layout.zorder_bucket_stats: the SAME morton_sql
    bit-interleave text, rendered with DuckDB's ``>>`` shift; integer
    div normalization, so the stats replay bit-for-bit."""
    from project_cortex_spark.sources.layout import morton_sql

    top = (1 << bits) - 1
    z = morton_sql("nx", "ny", bits=bits, shift_fmt="({v} >> {i})")
    return f"""
    WITH mm AS (
      SELECT min({x_col}) AS xmin, max({x_col}) AS xmax,
             min(date_diff('day', DATE '1992-01-01', {date_col}::DATE)) AS ymin,
             max(date_diff('day', DATE '1992-01-01', {date_col}::DATE)) AS ymax
      FROM {table}
    ),
    base AS (
      SELECT {x_col} AS x,
             date_diff('day', DATE '1992-01-01', {date_col}::DATE) AS y
      FROM {table}
    ),
    norm AS (
      SELECT ((x - xmin)::BIGINT * {top}) // greatest(xmax - xmin, 1)::BIGINT AS nx,
             ((y - ymin)::BIGINT * {top}) // greatest(ymax - ymin, 1)::BIGINT AS ny
      FROM base, mm
    ),
    zb AS (
      SELECT {z} // {1 << (2 * bits - bucket_bits)} AS bucket, nx, ny FROM norm
    )
    SELECT bucket, count(*) AS n_rows,
           min(nx) AS nx_min, max(nx) AS nx_max,
           min(ny) AS ny_min, max(ny) AS ny_max
    FROM zb GROUP BY bucket ORDER BY bucket
    """


def temperature_mix_sql(
    *,
    table: str = "documents",
    group_col: str = "lang",
    id_col: str = "doc_id",
    target_tenths: int = 3,
    salt: str = "tmix",
) -> str:
    """Mirror of corpus.temperature_mix: same floor(sqrt(n)*1000)
    integer weights, same BIGINT quota arithmetic (div/* are left-
    associative in both engines), same md5-ordered selection."""
    return f"""
    WITH counts AS (
      SELECT {group_col}, count(*) AS n_docs FROM {table} GROUP BY {group_col}
    ),
    weights AS (
      SELECT {group_col}, n_docs,
             CAST(floor(sqrt(n_docs::DOUBLE) * 1000) AS BIGINT) AS w
      FROM counts
    ),
    totals AS (
      SELECT sum(w)::BIGINT AS w_total, sum(n_docs)::BIGINT AS n_total
      FROM weights
    ),
    quotas AS (
      SELECT {group_col}, n_docs,
             least(n_docs, ((n_total * {target_tenths}) // 10) * w // w_total)
               AS quota
      FROM weights, totals
    ),
    ranked AS (
      SELECT {group_col}, {id_col},
             row_number() OVER (
               PARTITION BY {group_col}
               ORDER BY md5('{salt}:' || {id_col}::VARCHAR) ASC, {id_col} ASC
             ) AS rk
      FROM {table}
    )
    SELECT r.{group_col}, q.n_docs, q.quota,
           count(*) AS n_kept,
           CAST(sum(('0x' || substr(md5(r.{id_col}::VARCHAR), 1, 8))::BIGINT)
                AS BIGINT) AS sum_kept_id_hash
    FROM ranked r
    JOIN quotas q ON r.{group_col} = q.{group_col}
    WHERE r.rk <= q.quota
    GROUP BY r.{group_col}, q.n_docs, q.quota
    ORDER BY r.{group_col}
    """


def kmv_pair_overlap_sql(
    *,
    table: str = "events",
    group_col: str = "event_type",
    key_col: str = "user_id",
    k: int = 256,
    salt: str = "kmv",
) -> str:
    """Mirror of sketches.kmv_pair_overlap: same 60-bit md5 sample keys,
    same bottom-k window, same exact-rational estimates."""
    return f"""
    WITH du AS (
      SELECT DISTINCT {group_col} AS g, {key_col} FROM {table}
    ),
    groups AS (SELECT DISTINCT {group_col} AS g FROM {table}),
    pairs AS (
      SELECT l.g AS ga, r.g AS gb FROM groups l, groups r WHERE l.g < r.g
    ),
    mem AS (
      SELECT p.ga, p.gb, du.{key_col},
             max(CASE WHEN du.g = p.ga THEN 1 ELSE 0 END) AS in_a,
             max(CASE WHEN du.g = p.gb THEN 1 ELSE 0 END) AS in_b
      FROM pairs p JOIN du ON du.g = p.ga OR du.g = p.gb
      GROUP BY p.ga, p.gb, du.{key_col}
    ),
    scored AS (
      SELECT ga, gb, {key_col},
             ('0x' || substr(md5('{salt}:' || {key_col}::VARCHAR), 1, 15))::BIGINT AS h,
             CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END AS in_both
      FROM mem
    ),
    sample AS (
      SELECT ga, gb, in_both FROM (
        SELECT ga, gb, in_both,
               row_number() OVER (PARTITION BY ga, gb
                                  ORDER BY h ASC, {key_col} ASC) AS rk
        FROM scored
      ) WHERE rk <= {k}
    ),
    est AS (
      SELECT ga, gb, count(*) AS n_sample, sum(in_both) AS n_both
      FROM sample GROUP BY ga, gb
    ),
    exact AS (
      SELECT ga, gb, count(*) AS n_union, sum(in_both) AS n_inter
      FROM scored GROUP BY ga, gb
    )
    SELECT e.ga, e.gb, e.n_sample,
           round(e.n_both::DOUBLE / e.n_sample::DOUBLE, 6) AS est_jaccard,
           round(x.n_inter::DOUBLE / x.n_union::DOUBLE, 6) AS exact_jaccard
    FROM est e JOIN exact x ON e.ga = x.ga AND e.gb = x.gb
    ORDER BY e.ga, e.gb
    """


def equidepth_histogram_sql(
    *,
    table: str = "events",
    group_col: str = "event_type",
    value_col: str = "value",
    n_buckets: int = 8,
) -> str:
    """Mirror of sketches.equidepth_histogram: same integer bucket
    formula over the same ascending rank."""
    return f"""
    WITH counts AS (
      SELECT {group_col}, count(*) AS n FROM {table} GROUP BY {group_col}
    ),
    ranked AS (
      SELECT {group_col}, {value_col} AS value,
             row_number() OVER (PARTITION BY {group_col}
                                ORDER BY {value_col} ASC) AS rn
      FROM {table}
    )
    SELECT r.{group_col}, ((rn - 1) * {n_buckets}) // n AS bucket,
           count(*) AS n_rows, min(value) AS lo, max(value) AS hi
    FROM ranked r JOIN counts c ON r.{group_col} = c.{group_col}
    GROUP BY r.{group_col}, ((rn - 1) * {n_buckets}) // n
    ORDER BY r.{group_col}, bucket
    """


def winsorized_stats_sql(
    *,
    table: str = "events",
    group_col: str = "event_type",
    value_col: str = "value",
    lo_q: float = 0.05,
    hi_q: float = 0.95,
) -> str:
    """Mirror of sketches.winsorized_stats: identical rank bounds and
    the e4 scaled-int clipped sum."""
    return f"""
    WITH counts AS (
      SELECT {group_col}, count(*) AS n FROM {table} GROUP BY {group_col}
    ),
    ranked AS (
      SELECT r.{group_col}, r.{value_col} AS value,
             row_number() OVER (PARTITION BY r.{group_col}
                                ORDER BY r.{value_col} ASC) AS rn,
             c.n
      FROM {table} r JOIN counts c ON r.{group_col} = c.{group_col}
    ),
    bounds AS (
      SELECT {group_col}, min(value) AS lo, max(value) AS hi
      FROM ranked
      WHERE rn = CAST(ceil({lo_q!r} * n) AS BIGINT)
         OR rn = CAST(ceil({hi_q!r} * n) AS BIGINT)
      GROUP BY {group_col}
    )
    SELECT r.{group_col}, b.lo, b.hi,
           count(*) AS n,
           CAST(sum(CAST(round(greatest(b.lo, least(b.hi, r.value)) * 10000)
                         AS BIGINT)) AS BIGINT) AS sum_clipped_e4
    FROM ranked r JOIN bounds b ON r.{group_col} = b.{group_col}
    GROUP BY r.{group_col}, b.lo, b.hi
    ORDER BY r.{group_col}
    """


def source_divergence_sql(
    *,
    table: str = "documents",
    group_col: str = "source",
    text_col: str = "text",
    min_count: int = 2,
) -> str:
    """Mirror of textstats.source_divergence: same tokenizer (SEP_SQL),
    same e12 scaled-int KL contributions."""
    return f"""
    WITH toks AS (
      SELECT {group_col} AS src,
             unnest(list_filter(
               regexp_split_to_array(lower({text_col}), '{SEP_SQL}'),
               t -> t <> '')) AS term
      FROM {table}
    ),
    src_counts AS (
      SELECT src, term, count(*) AS c_st FROM toks
      GROUP BY src, term HAVING count(*) >= {min_count}
    ),
    term_counts AS (
      SELECT term, count(*) AS c_t FROM toks GROUP BY term
    ),
    src_totals AS (
      SELECT src, sum(c_st)::BIGINT AS n_s FROM src_counts GROUP BY src
    ),
    corpus_total AS (
      SELECT sum(c_t)::BIGINT AS n FROM term_counts
    ),
    contrib AS (
      SELECT s.src,
             CAST(round((s.c_st / CAST(t2.n_s AS DOUBLE)) *
                        ln((s.c_st / CAST(t2.n_s AS DOUBLE)) /
                           (t.c_t / CAST(ct.n AS DOUBLE))) * 1e12)
                  AS BIGINT) AS kl_e12
      FROM src_counts s
      JOIN term_counts t ON s.term = t.term
      JOIN src_totals t2 ON s.src = t2.src
      CROSS JOIN corpus_total ct
    )
    SELECT src, count(*) AS n_terms, CAST(sum(kl_e12) AS BIGINT) AS kl_e12
    FROM contrib GROUP BY src ORDER BY src
    """


def communities_lpa_sql(
    table: str = "lineitem",
    group_col: str = "l_orderkey",
    item_col: str = "l_partkey",
    max_df: int = 50,
    rounds: int = 4,
    min_size: int = 2,
) -> str:
    """Noiseless twin of cooccurrence_edges + graph.communities_lpa:
    same degree-capped edge list, the synchronous min-tie-break label
    rounds unrolled as a CTE chain (l0 -> l1 -> ... -> l{rounds})."""
    steps = []
    for i in range(1, rounds + 1):
        steps.append(
            f"""l{i} AS (
      SELECT node, label FROM (
        SELECT de.dst AS node, p.label, count(*) AS c,
               row_number() OVER (PARTITION BY de.dst
                                  ORDER BY count(*) DESC, p.label ASC) AS rk
        FROM de JOIN l{i - 1} p ON p.node = de.src
        GROUP BY de.dst, p.label
      ) WHERE rk = 1
    )"""
        )
    chain = ",\n    ".join(steps)
    return f"""
    WITH pres0 AS (
      SELECT DISTINCT {group_col} AS g, {item_col} AS itm FROM {table}
    ), keep AS (
      SELECT itm FROM pres0 GROUP BY itm HAVING count(*) <= {max_df}
    ), pres AS (
      SELECT g, itm FROM pres0 JOIN keep USING (itm)
    ), e AS (
      SELECT DISTINCT p1.itm AS a, p2.itm AS b
      FROM pres p1 JOIN pres p2 ON p1.g = p2.g AND p1.itm < p2.itm
    ), de AS (
      SELECT a AS src, b AS dst FROM e
      UNION ALL
      SELECT b AS src, a AS dst FROM e
    ), l0 AS (
      SELECT DISTINCT src AS node, src AS label FROM de
    ),
    {chain}
    SELECT label, count(*) AS n_nodes, min(node) AS min_node
    FROM l{rounds}
    GROUP BY label
    HAVING count(*) >= {min_size}
    ORDER BY n_nodes DESC, label ASC
    """


def dedup_keep_best_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """Mirror of dedup.dedup_keep_best over the entry query's variant
    corpus (every 7th doc mirrored under a better source — the
    unicode_nfc replica trick) with the same normalized content hash
    and source precedence: 'mirror' = 0, else numeric suffix + 1."""
    return f"""
    WITH corpus AS (
      SELECT {id_col}, {text_col}, source FROM {table}
      UNION ALL
      SELECT {id_col} + 10000000, {text_col}, 'mirror'
      FROM {table} WHERE {id_col} % 7 = 0
    ),
    h AS (
      SELECT {id_col},
             CASE WHEN source = 'mirror' THEN 0
                  ELSE CAST(substr(source, 4) AS BIGINT) + 1 END AS priority,
             md5(array_to_string(
               list_filter(regexp_split_to_array(lower({text_col}), '{SEP_SQL}'),
                           x -> x <> ''), ' ')) AS chash
      FROM corpus
    ),
    ranked AS (
      SELECT chash, {id_col}, priority,
             row_number() OVER (PARTITION BY chash
                                ORDER BY priority ASC, {id_col} ASC) AS rk,
             count(*) OVER (PARTITION BY chash) AS n_dups
      FROM h
    )
    SELECT {id_col} AS kept_id, priority AS kept_priority, n_dups
    FROM ranked WHERE rk = 1 AND n_dups > 1
    ORDER BY kept_id
    """


def dsir_importance_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    target_col: str = "lang",
    target_value: str = "en",
    k: int = 25,
) -> str:
    """Mirror of textstats.dsir_importance: same tokenizer, same
    add-one-smoothed integer ratios, same e9 scaled-int log-ratios."""
    return f"""
    WITH base AS (
      SELECT {id_col} AS doc_id,
             CASE WHEN {target_col} = '{target_value}' THEN 1 ELSE 0 END
               AS is_target,
             unnest(list_filter(
               regexp_split_to_array(lower({text_col}), '{SEP_SQL}'),
               t -> t <> '')) AS term
      FROM {table}
    ),
    postings AS (
      SELECT doc_id, term, count(*) AS tf FROM base GROUP BY doc_id, term
    ),
    term_stats AS (
      SELECT term, count(*) AS c_s, sum(is_target)::BIGINT AS c_t
      FROM base GROUP BY term
    ),
    totals AS (
      SELECT sum(c_s)::BIGINT AS n_s, sum(c_t)::BIGINT AS n_t,
             count(*)::BIGINT AS v
      FROM term_stats
    ),
    llr AS (
      SELECT term,
             CAST(round(ln(((c_t + 1) / CAST(n_t + v AS DOUBLE)) /
                           ((c_s + 1) / CAST(n_s + v AS DOUBLE))) * 1e9)
                  AS BIGINT) AS llr_e9
      FROM term_stats, totals
    )
    SELECT p.doc_id,
           CAST(sum(p.tf * l.llr_e9) AS BIGINT) AS importance_e9,
           CAST(sum(p.tf) AS BIGINT) AS n_tokens
    FROM postings p JOIN llr l ON p.term = l.term
    GROUP BY p.doc_id
    ORDER BY importance_e9 DESC, p.doc_id ASC
    LIMIT {k}
    """


def throttle_sql(
    *,
    table: str = "events",
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    minutes: int = 60,
    limit: int = 5,
) -> str:
    """Mirror of events.throttle: same epoch-truncated window start,
    same (ts, event_id) arrival order, same audit aggregates.

    Window bucketing uses epoch_us // (secs*1e6) — the sessionize_sql
    idiom — NOT epoch()::BIGINT: DuckDB's epoch() returns DOUBLE and
    the BIGINT cast rounds half away from zero, so an event at
    23:59:59.7 would land in the NEXT day's window while Spark's
    F.window floors (ADVICE r6, medium). Integer-microsecond division
    floors on both engines for any sub-second timestamp.
    """
    secs = minutes * 60
    us = secs * 1_000_000
    return f"""
    WITH b AS (
      SELECT {user_col},
             to_timestamp((epoch_us({ts_col}) // {us}) * {secs}) AS w_start,
             row_number() OVER (
               PARTITION BY {user_col},
                            (epoch_us({ts_col}) // {us})
               ORDER BY {ts_col} ASC, {id_col} ASC) AS rk
      FROM {table}
    ),
    pw AS (
      SELECT {user_col}, w_start, count(*) AS n_w,
             sum(CASE WHEN rk <= {limit} THEN 1 ELSE 0 END)::BIGINT AS k_w
      FROM b GROUP BY {user_col}, w_start
    )
    SELECT {user_col},
           sum(n_w)::BIGINT AS n_total,
           sum(k_w)::BIGINT AS n_kept,
           sum(CASE WHEN n_w > {limit} THEN 1 ELSE 0 END)::BIGINT
             AS n_saturated_windows
    FROM pw GROUP BY {user_col}
    HAVING sum(n_w) > sum(k_w)
    ORDER BY {user_col}
    """


def exact_substring_rewrite_sql(
    *,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 32,
) -> str:
    """Noiseless twin of dedup.exact_substring_rewrite: cross-document
    duplicated k-char windows are cut everywhere except the minimum doc
    id holding them; overlapping windows merge (cummax interval merge),
    and each doc is rebuilt by string_agg over its kept segments."""
    return f"""
    WITH pos AS (
      SELECT {id_col} AS doc_id, {text_col} AS t,
             unnest(generate_series(1, length({text_col}) - {k} + 1)) AS p
      FROM {table}
      WHERE length({text_col}) >= {k}
    ), grams AS (
      SELECT doc_id, p, md5(substr(t, p, {k})) AS g FROM pos
    ), dupg AS (
      SELECT g, min(doc_id) AS mind FROM grams
      GROUP BY g HAVING min(doc_id) <> max(doc_id)
    ), cuts AS (
      SELECT DISTINCT doc_id, p FROM grams JOIN dupg USING (g)
      WHERE doc_id <> mind
    ), marked AS (
      SELECT doc_id, p,
             CASE WHEN p > coalesce(
               max(p + {k} - 1) OVER (
                 PARTITION BY doc_id ORDER BY p
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), -{k}) + 1 THEN 1 ELSE 0 END AS newgrp
      FROM cuts
    ), grp AS (
      SELECT doc_id, p,
             sum(newgrp) OVER (PARTITION BY doc_id ORDER BY p) AS gid
      FROM marked
    ), spans AS (
      SELECT doc_id, gid, min(p) AS s, max(p) + {k} - 1 AS e
      FROM grp GROUP BY doc_id, gid
    ), segs AS (
      SELECT doc_id,
             coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY s), 0) + 1 AS gs,
             s - 1 AS ge
      FROM spans
      UNION ALL
      SELECT doc_id, max(e) + 1 AS gs, NULL AS ge
      FROM spans GROUP BY doc_id
    ), rebuilt AS (
      SELECT sg.doc_id,
             string_agg(
               CASE WHEN sg.ge IS NULL THEN substr(d.{text_col}, sg.gs)
                    ELSE substr(d.{text_col}, sg.gs, sg.ge - sg.gs + 1) END,
               '' ORDER BY sg.gs
             ) AS ct
      FROM segs sg JOIN {table} d ON d.{id_col} = sg.doc_id
      GROUP BY sg.doc_id
    ), nsp AS (
      SELECT doc_id, count(*) AS nspans FROM spans GROUP BY doc_id
    )
    SELECT d.{id_col} AS doc_id,
           length(d.{text_col}) AS n_chars,
           length(d.{text_col}) - length(coalesce(r.ct, d.{text_col}))
             AS removed_chars,
           coalesce(n.nspans, 0) AS n_cut_spans,
           coalesce(r.ct, d.{text_col}) AS cleaned_text
    FROM {table} d
    LEFT JOIN rebuilt r ON r.doc_id = d.{id_col}
    LEFT JOIN nsp n ON n.doc_id = d.{id_col}
    """


def cluster_balance_sql(
    *,
    n_clusters: int = 16,
    per_cluster: int = 25,
    salt: str = "cluster",
    sample_rows: int = 10_000,
    iters: int = 8,
) -> str:
    """END-TO-END oracle for corpus.cluster_balance: trains the
    IDENTICAL centroids from the same parquet (ordered-sample
    deterministic k-means, the knn_recall_ivf trick), inlines them as
    literals, replays assignment (argmax dot, centroid-id tiebreak)
    and the md5-ranked per-cluster quota in SQL."""
    from .operators.knn import _kmeans_deterministic

    vecs = _load_embeddings_ordered()
    cent = _kmeans_deterministic(vecs[:sample_rows], n_clusters, iters)
    cent_values = ",\n      ".join(
        f"({cid}, {_plane_literal(list(row))})"
        for cid, row in enumerate(cent)
    )
    return f"""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), cent(cid, cv) AS (VALUES
      {cent_values}
    ), assign AS (
      SELECT vec_id, cid,
             row_number() OVER (PARTITION BY vec_id
               ORDER BY list_dot_product(v, cv) DESC, cid) AS rn
      FROM e CROSS JOIN cent
    ), a AS (
      SELECT vec_id, cid AS cluster_id FROM assign WHERE rn = 1
    ), ranked AS (
      SELECT vec_id, cluster_id,
             row_number() OVER (PARTITION BY cluster_id
               ORDER BY md5('{salt}:' || CAST(vec_id AS VARCHAR)), vec_id
             ) AS sample_rank
      FROM a
    )
    SELECT vec_id, cluster_id, sample_rank
    FROM ranked WHERE sample_rank <= {per_cluster}
    """


def moment_stats_sql(
    *,
    table: str = "events",
    group_col: str = "event_type",
    value_col: str = "value",
) -> str:
    """Mirror of sketches.moment_stats: EXACT HUGEINT power sums of the
    e4-scaled values, then the identical double expression tree
    (m2*sqrt(m2), never pow — pow's last ulp is library-dependent)."""
    return f"""
    WITH p AS (
      SELECT {group_col}, count(*) AS n,
             sum(v) AS s1, sum(v*v) AS s2,
             sum(v*v*v) AS s3, sum((v*v)*(v*v)) AS s4
      FROM (SELECT {group_col},
                   CAST(round({value_col} * 10000) AS HUGEINT) AS v
            FROM {table})
      GROUP BY {group_col}
    ),
    d AS (
      SELECT {group_col}, n,
             CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS m,
             CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS q2,
             CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS q3,
             CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS q4
      FROM p
    ),
    c AS (
      SELECT {group_col}, n, m,
             q2 - m*m AS m2,
             q3 - 3*m*q2 + 2*m*m*m AS m3,
             q4 - 4*m*q3 + 6*m*m*q2 - 3*m*m*m*m AS m4
      FROM d
    )
    SELECT {group_col}, n,
           round(m / 10000.0, 6) AS mean,
           round(m2 / 100000000.0, 6) AS variance,
           CASE WHEN m2 > 0 THEN round(m3 / (m2 * sqrt(m2)), 6) END AS skewness,
           CASE WHEN m2 > 0 THEN round(m4 / (m2 * m2), 6) END AS kurtosis
    FROM c
    """


def length_buckets_sql(
    *, table: str = "documents", id_col: str = "doc_id", text_col: str = "text"
) -> str:
    """Mirror of corpus.length_buckets over token_stats' n_tokens:
    identical integer bit arithmetic for the power-of-two capacity."""
    return f"""
    WITH t AS ({token_stats_sql(table, id_col, text_col)}),
    b AS (
      SELECT CASE WHEN n_tokens <= 1 THEN CAST(1 AS BIGINT)
                  ELSE CAST(1 AS BIGINT) << length(bin(n_tokens - 1))
             END AS bucket_cap,
             n_tokens
      FROM t WHERE n_tokens > 0
    ),
    a AS (SELECT bucket_cap, count(*) AS n_docs,
                 CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
          FROM b GROUP BY bucket_cap)
    SELECT bucket_cap, n_docs, sum_tokens,
           CAST(n_docs * bucket_cap - sum_tokens AS BIGINT) AS padding_waste,
           round(CAST(sum_tokens AS DOUBLE)
                 / CAST(n_docs * bucket_cap AS DOUBLE), 6) AS fill_ratio
    FROM a
    """


def mad_outliers_sql(
    table: str = "events", *, threshold: float = 3.5
) -> str:
    """SQL mirror of operators.events.mad_outliers: the same exact
    interpolating medians (``quantile_cont`` ≡ Spark ``percentile``),
    the identical modified-z scalar expression, and NULLIF replaying
    ``try_divide`` on a zero MAD."""
    m = "0.6745e0 * ((d.v - d.med) / nullif(a.mad, 0))"
    return f"""
    WITH base AS (
      SELECT event_type AS grp, event_id, value AS v
      FROM {table} WHERE value IS NOT NULL
    ), med AS (
      SELECT grp, quantile_cont(v, 0.5) AS med FROM base GROUP BY grp
    ), devs AS (
      SELECT b.grp, b.event_id, b.v, m.med, abs(b.v - m.med) AS dev
      FROM base b JOIN med m USING (grp)
    ), mad AS (
      SELECT grp, quantile_cont(dev, 0.5) AS mad FROM devs GROUP BY grp
    )
    SELECT d.grp AS event_type, d.event_id, d.v AS value,
           round(d.med, 6) AS median, round(a.mad, 6) AS mad,
           round({m}, 4) AS m_score
    FROM devs d JOIN mad a USING (grp)
    WHERE abs({m}) > {threshold!r}
    """


def autocorr_sql(
    table: str = "events", *, minutes: int = 60, max_lag: int = 6
) -> str:
    """SQL mirror of operators.events.autocorr_series: identical
    epoch bucketing, time-lag pairing (gaps yield no pairs), exact
    BIGINT power sums, and the same scalar Pearson expression."""
    bucket_us = minutes * 60 * 1_000_000
    return f"""
    WITH cells AS (
      SELECT event_type AS grp, epoch_us(ts) // {bucket_us} AS b,
             count(*) AS x
      FROM {table} GROUP BY 1, 2
    ), lagged AS (
      SELECT grp, lg, b - lg AS b, x AS y
      FROM cells, range(1, {max_lag + 1}) t(lg)
    ), p AS (
      SELECT c.grp, l.lg, c.x, l.y
      FROM cells c JOIN lagged l ON c.grp = l.grp AND c.b = l.b
    ), s AS (
      SELECT grp, lg, count(*) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
             sum(x * x) AS sxx, sum(y * y) AS syy
      FROM p GROUP BY grp, lg
    )
    SELECT grp AS event_type, CAST(lg AS INTEGER) AS lag,
           n AS n_pairs,
           round(CAST(n * sxy - sx * sy AS DOUBLE) /
                 nullif(sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                        * sqrt(CAST(n * syy - sy * sy AS DOUBLE)), 0),
                 6) AS acf
    FROM s
    """


def holt_sql(
    table: str = "events",
    *,
    minutes: int = 60,
    alpha: float = 0.5,
    beta: float = 0.25,
) -> str:
    """SQL mirror of operators.events.holt_series: the same (level,
    trend) left fold. DuckDB's ``list_reduce`` accumulator must share
    the element type, so each x is lifted into ``[x, 0]`` and the seed
    ``[x₁, 0]`` prepended — the lambda then runs the identical float
    ops in the identical order as Spark's ``aggregate``, including the
    textual recomputation of l_t inside the trend update.

    A 2-LIST accumulator, NOT a struct one: DuckDB 1.0's list_reduce
    mis-evaluates a struct accumulator whose fields share a common
    subexpression (the repeated l_t) once the fold exceeds two steps —
    [1,1,2] folds to trend 0.0625 instead of 0.125 (the list form and
    Spark both give 0.125, as does hand arithmetic). The list
    accumulator sidesteps whatever CSE state leaks between fold
    iterations."""
    a, b = float(alpha), float(beta)
    l_new = f"{a!r} * e[1] + {1.0 - a!r} * (acc[1] + acc[2])"
    lam = (
        f"(acc, e) -> [{l_new}, "
        f"{b!r} * ({l_new} - acc[1]) + {1.0 - b!r} * acc[2]]"
    )

    def fold(hi: str) -> str:
        return (
            "list_reduce(list_prepend("
            "[xs[1], CAST(0.0 AS DOUBLE)], "
            f"list_transform(list_slice(xs, 2, {hi}), "
            "x -> [x, CAST(0.0 AS DOUBLE)])), "
            f"{lam})"
        )

    cur = fold("len(xs)")
    prev = fold("len(xs) - 1")
    fc = f"CASE WHEN len(xs) >= 2 THEN ({prev})[1] + ({prev})[2] END"
    return f"""
    WITH b AS (
      SELECT time_bucket(INTERVAL '{minutes} minutes', ts)
               AS window_start,
             event_type, count(*) AS n_events
      FROM {table} GROUP BY 1, 2
    ), st AS (
      SELECT event_type, window_start, n_events,
             array_agg(CAST(n_events AS DOUBLE)) OVER (
               PARTITION BY event_type ORDER BY window_start
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS xs
      FROM b
    )
    SELECT event_type, window_start, n_events,
           round(({cur})[1], 6) AS level,
           round(({cur})[2], 6) AS trend,
           round({fc}, 6) AS forecast,
           round(CAST(n_events AS DOUBLE) - ({fc}), 6) AS residual
    FROM st
    """


def closeness_sql(
    table: str = "lineitem",
    group_col: str = "l_orderkey",
    item_col: str = "l_partkey",
    max_df: int = 50,
    *,
    seed_mod: int = 20,
    max_depth: int = 3,
    max_seeds: int = 64,
) -> str:
    """SQL mirror of cooccurrence_edges + graph.closeness_centrality:
    the same degree-capped a<b edge list made bidirectional, the same
    bounded ``node % seed_mod`` ORDER-BY-LIMIT seed slice, a
    recursive-CTE closure whose
    min(d) GROUP BY replays the anti-join BFS's minimal distances, and
    the identical fixed-order harmonic/closeness scalar expressions."""
    harmonic = " + ".join(
        ["CAST(c1 AS DOUBLE)"]
        + [f"c{d} / {float(d)!r}" for d in range(2, max_depth + 1)]
    )
    per_level = ",\n             ".join(
        f"sum(CASE WHEN d = {d} THEN 1 ELSE 0 END) AS c{d}"
        for d in range(1, max_depth + 1)
    )
    return f"""
    WITH RECURSIVE pres0 AS (
      SELECT DISTINCT {group_col} AS g, {item_col} AS itm FROM {table}
    ), keep AS (
      SELECT itm FROM pres0 GROUP BY itm HAVING count(*) <= {max_df}
    ), pres AS (
      SELECT g, itm FROM pres0 JOIN keep USING (itm)
    ), e0 AS MATERIALIZED (
      SELECT DISTINCT p1.itm AS a, p2.itm AS b
      FROM pres p1 JOIN pres p2 ON p1.g = p2.g AND p1.itm < p2.itm
    ), e AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM e0
      UNION ALL SELECT b, a FROM e0
    ), seeds AS (
      SELECT DISTINCT src AS node FROM e WHERE src % {seed_mod} = 0
      ORDER BY node LIMIT {max_seeds}
    ), bfs AS (
      SELECT node AS seed, node, 0 AS d FROM seeds
      UNION
      SELECT b.seed, e.dst AS node, b.d + 1 AS d
      FROM bfs b JOIN e ON b.node = e.src
      WHERE b.d < {max_depth}
    ), vis AS (
      SELECT seed, node, min(d) AS d FROM bfs GROUP BY seed, node
    ), counts AS (
      SELECT seed, count(*) AS n_reached, sum(d) AS sum_dist,
             {per_level}
      FROM vis WHERE d >= 1 GROUP BY seed
    )
    SELECT s.node,
           coalesce(c.n_reached, 0) AS n_reached,
           CAST(coalesce(c.sum_dist, 0) AS BIGINT) AS sum_dist,
           round(coalesce({harmonic}, 0.0), 6) AS harmonic,
           round(CAST(c.n_reached AS DOUBLE)
                 / nullif(CAST(c.sum_dist AS DOUBLE), 0), 6) AS closeness
    FROM seeds s LEFT JOIN counts c ON s.node = c.seed
    """


def seasonal_decompose_sql(
    table: str = "events", *, minutes: int = 60, period: int = 24
) -> str:
    """SQL mirror of operators.events.seasonal_decompose: identical
    integer-exact centered MA, e6-quantized detrend, per-phase integer
    sums, and the same scalar derivations."""
    bucket_us = minutes * 60 * 1_000_000
    half = period // 2
    return f"""
    WITH c AS (
      SELECT time_bucket(INTERVAL '{minutes} minutes', ts)
               AS window_start,
             event_type, count(*) AS n_events
      FROM {table} GROUP BY 1, 2
    ), wnd AS (
      SELECT event_type, window_start, n_events,
             epoch_us(window_start) // {bucket_us} % {period} AS phase,
             sum(n_events) OVER w AS ws,
             count(*) OVER w AS wn
      FROM c
      WINDOW w AS (PARTITION BY event_type ORDER BY window_start
                   ROWS BETWEEN {half} PRECEDING AND {half} FOLLOWING)
    ), detr AS (
      SELECT event_type, window_start, n_events, phase,
             CAST(ws AS DOUBLE) / wn AS trend,
             CAST(round((n_events - CAST(ws AS DOUBLE) / wn)
                        * 1000000) AS BIGINT) AS d_e6
      FROM wnd WHERE wn = {2 * half + 1}
    ), pm AS (
      SELECT event_type, phase,
             CAST(sum(d_e6) AS DOUBLE) / count(*) / 1000000.0
               AS seasonal
      FROM detr GROUP BY event_type, phase
    )
    SELECT d.event_type, d.window_start, d.n_events,
           round(d.trend, 6) AS trend,
           round(p.seasonal, 6) AS seasonal,
           round(d.d_e6 / 1000000.0 - p.seasonal, 6) AS residual
    FROM detr d JOIN pm p USING (event_type, phase)
    """


def edit_distance_pairs_sql(
    table: str = "documents", *, k: int = 2, key_len: int = 32
) -> str:
    """Brute-force mirror of operators.dedup.edit_distance_pairs: the
    engine's PassJoin segment filter is lossless, so the algorithm-
    independent all-pairs form must match it exactly."""
    return f"""
    WITH d AS (
      SELECT doc_id, lower(substr(text, 1, {key_len})) AS key
      FROM {table}
      WHERE length(text) >= {key_len} AND doc_id IS NOT NULL
    )
    SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
           levenshtein(a.key, b.key) AS edit_distance
    FROM d a JOIN d b ON a.doc_id < b.doc_id
    WHERE levenshtein(a.key, b.key) <= {k}
    """


def ttest_drift_sql(table: str = "events") -> str:
    """SQL mirror of operators.events.ttest_drift: identical integer
    midpoint split, exact HUGEINT power sums of the e4-quantized value,
    and the same double expression order for every float derivation
    (plain / mirrors try_divide — DuckDB float division by zero/NULL is
    NULL, the engine's degenerate-group convention)."""
    return f"""
    WITH src AS (
      SELECT event_type AS grp, epoch_us(ts) AS us,
             CAST(round(value * 10000) AS HUGEINT) AS v
      FROM {table}
      WHERE value IS NOT NULL AND ts IS NOT NULL
    ), b AS (
      SELECT grp, min(us) + (max(us) - min(us)) // 2 AS mid
      FROM src GROUP BY grp
    ), cells AS (
      SELECT s.grp,
             CASE WHEN s.us <= b.mid THEN 1 ELSE 0 END AS early,
             count(*) AS n, sum(s.v) AS s1, sum(s.v * s.v) AS s2
      FROM src s JOIN b USING (grp) GROUP BY 1, 2
    ), piv AS (
      SELECT grp,
             coalesce(sum(CASE WHEN early = 1 THEN n END), 0) AS n1,
             coalesce(sum(CASE WHEN early = 0 THEN n END), 0) AS n2,
             CAST(sum(CASE WHEN early = 1 THEN s1 END) AS DOUBLE) AS a1,
             CAST(sum(CASE WHEN early = 1 THEN s2 END) AS DOUBLE) AS b1,
             CAST(sum(CASE WHEN early = 0 THEN s1 END) AS DOUBLE) AS a2,
             CAST(sum(CASE WHEN early = 0 THEN s2 END) AS DOUBLE) AS b2
      FROM cells GROUP BY grp
    ), st AS (
      SELECT grp, n1, n2,
             a1 / n1 AS m1, a2 / n2 AS m2,
             (b1 - a1 * a1 / n1) / (n1 - 1) / 1e8 AS v1,
             (b2 - a2 * a2 / n2) / (n2 - 1) / 1e8 AS v2
      FROM piv
    ), se AS (
      SELECT *, v1 / n1 + v2 / n2 AS se2 FROM st
    )
    SELECT grp AS event_type,
           CAST(n1 AS BIGINT) AS n_early, CAST(n2 AS BIGINT) AS n_late,
           round(m1 / 10000.0, 6) AS mean_early,
           round(m2 / 10000.0, 6) AS mean_late,
           round((m1 / 10000.0 - m2 / 10000.0) / sqrt(se2), 6) AS t_stat,
           round(se2 * se2
                 / (v1 * v1 / n1 / n1 / (n1 - 1)
                    + v2 * v2 / n2 / n2 / (n2 - 1)), 6) AS welch_df
    FROM se
    """


def betweenness_sql(
    table: str = "lineitem",
    group_col: str = "l_orderkey",
    item_col: str = "l_partkey",
    max_df: int = 50,
    *,
    seed_mod: int = 20,
    max_depth: int = 3,
    max_seeds: int = 64,
) -> str:
    """SQL mirror of cooccurrence_edges + graph.betweenness_centrality:
    the same degree-capped bidirectional edge list and bounded seed
    slice, forward BFS levels UNROLLED as anti-joined CTEs carrying
    exact integer path counts, and the backward Brandes accumulation
    replaying the engine's term expression verbatim — each partial
    dependency quantized to an e6 BIGINT before summation, so the fold
    is order-free on both engines."""
    fwd = []
    for d in range(1, max_depth + 1):
        excl = " AND ".join(
            f"NOT EXISTS (SELECT 1 FROM l{p} q"
            f" WHERE q.seed = x.seed AND q.node = x.node)"
            for p in range(d)
        )
        fwd.append(
            f"""l{d} AS (
      SELECT seed, node, sum(sigma) AS sigma FROM (
        SELECT p.seed, e.dst AS node, p.sigma
        FROM l{d - 1} p JOIN e ON p.node = e.src
      ) x
      WHERE {excl}
      GROUP BY seed, node
    )"""
        )
    term = (
        "CAST(round(CAST(u.sigma AS DOUBLE) / CAST(v.sigma AS DOUBLE)"
        " * (1.0 + CAST(v.delta6 AS DOUBLE) / 1000000.0)"
        " * 1000000.0) AS BIGINT)"
    )
    bwd = [
        f"""d{max_depth} AS (
      SELECT seed, node, sigma, CAST(0 AS BIGINT) AS delta6
      FROM l{max_depth}
    )"""
    ]
    for d in range(max_depth - 1, 0, -1):
        bwd.append(
            f"""d{d} AS (
      SELECT u.seed, u.node, u.sigma,
             coalesce(CAST(sum({term}) AS BIGINT), 0) AS delta6
      FROM l{d} u
      LEFT JOIN e ON u.node = e.src
      LEFT JOIN d{d + 1} v ON v.seed = u.seed AND v.node = e.dst
      GROUP BY u.seed, u.node, u.sigma
    )"""
        )
    alld = " UNION ALL ".join(
        f"SELECT seed, node, delta6 FROM d{d}"
        for d in range(1, max_depth + 1)
    )
    cte = ",\n    ".join(fwd + bwd)
    return f"""
    WITH pres0 AS (
      SELECT DISTINCT {group_col} AS g, {item_col} AS itm FROM {table}
    ), keep AS (
      SELECT itm FROM pres0 GROUP BY itm HAVING count(*) <= {max_df}
    ), pres AS (
      SELECT g, itm FROM pres0 JOIN keep USING (itm)
    ), e0 AS MATERIALIZED (
      SELECT DISTINCT p1.itm AS a, p2.itm AS b
      FROM pres p1 JOIN pres p2 ON p1.g = p2.g AND p1.itm < p2.itm
    ), e AS MATERIALIZED (
      SELECT a AS src, b AS dst FROM e0
      UNION ALL SELECT b, a FROM e0
    ), seeds AS (
      SELECT DISTINCT src AS node FROM e WHERE src % {seed_mod} = 0
      ORDER BY node LIMIT {max_seeds}
    ), l0 AS (
      SELECT node AS seed, node, CAST(1 AS BIGINT) AS sigma FROM seeds
    ),
    {cte}
    SELECT node,
           round(CAST(sum(delta6) AS DOUBLE) / 1000000.0, 6)
             AS betweenness,
           count(*) AS n_seeds
    FROM ({alld}) GROUP BY node
    """


def seasonal_outliers_sql(
    table: str = "events",
    *,
    minutes: int = 60,
    period: int = 24,
    threshold: float = 3.5,
) -> str:
    """SQL mirror of operators.events.seasonal_outliers: nests the
    decomposition SQL verbatim, then replays the mad_outliers rule on
    its residual column (quantile_cont medians, NULLIF zero-MAD)."""
    inner = seasonal_decompose_sql(table, minutes=minutes, period=period)
    m = "0.6745e0 * ((d.v - d.med) / nullif(a.mad, 0))"
    return f"""
    WITH dec AS ({inner}
    ), base AS (
      SELECT event_type AS grp, window_start, n_events, residual AS v
      FROM dec
    ), med AS (
      SELECT grp, quantile_cont(v, 0.5) AS med FROM base GROUP BY grp
    ), devs AS (
      SELECT b.grp, b.window_start, b.n_events, b.v, m.med,
             abs(b.v - m.med) AS dev
      FROM base b JOIN med m USING (grp)
    ), mad AS (
      SELECT grp, quantile_cont(dev, 0.5) AS mad FROM devs GROUP BY grp
    )
    SELECT d.grp AS event_type, d.window_start, d.n_events,
           d.v AS residual,
           round(d.med, 6) AS median, round(a.mad, 6) AS mad,
           round({m}, 4) AS m_score
    FROM devs d JOIN mad a USING (grp)
    WHERE abs({m}) > {threshold!r}
    """
