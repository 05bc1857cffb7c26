"""Property-based tests (hypothesis) — beyond the reference's strategy
(SURVEY §5: it has no randomized testing).

Each example batches all generated rows into ONE Spark job, so the suite
stays fast despite per-job overhead. Deadlines are disabled (job
startup noise) and example counts kept small; the properties, not the
volume, carry the value.
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from project_cortex_spark.functions.text import tokens
from project_cortex_spark.operators.asof import as_of_join
from project_cortex_spark.operators.events import sessionize
from project_cortex_spark.pipeline.chunks import chunk_fixed_tokens

# latin-ish alphabet: enough variety to exercise the tokenizer without
# tripping locale-dependent case-folding differences between engines
TEXT = st.text(
    alphabet="abcXYZ0189 ._-!?\náüß\t",
    min_size=0,
    max_size=120,
)

COMMON = settings(max_examples=15, deadline=None)


@COMMON
@given(st.lists(TEXT, min_size=1, max_size=30))
def test_tokenizer_parity_with_duckdb(spark, duck, texts):
    """Spark's tokenizer and the oracle CTE's regexp split agree on
    arbitrary text — the property every FTS/dedup oracle rests on."""
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "t"])
    got = {
        r["i"]: list(r["toks"])
        for r in df.select("i", tokens(F.col("t")).alias("toks")).collect()
    }
    duck.execute(
        "CREATE OR REPLACE TABLE _prop_t AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, ?)" for i in range(len(texts)))
        + ") AS v(i, t)",
        list(texts),
    )
    want = {
        i: toks
        for i, toks in duck.execute(
            r"""SELECT i, list_filter(
                  regexp_split_to_array(lower(t), '[^\p{L}\p{N}]+'),
                  x -> x <> '') FROM _prop_t"""
        ).fetchall()
    }
    assert got == want


@COMMON
@given(st.lists(TEXT, min_size=1, max_size=20), st.integers(2, 16))
def test_chunker_preserves_tokens(spark, texts, n):
    """Concatenating a doc's chunk texts reproduces its token stream
    exactly (no loss, no duplication, order kept)."""
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["doc_id", "text"])
    chunks = chunk_fixed_tokens(df, tokens_per_chunk=n).orderBy("doc_id", "chunk_idx")
    rebuilt: dict[int, list[str]] = {}
    for r in chunks.collect():
        rebuilt.setdefault(r["doc_id"], []).extend(r["chunk_text"].split(" "))
    for i, t in enumerate(texts):
        words = t.strip().split()
        if words and words != [""]:
            expect = " ".join(words).split(" ")
            assert rebuilt.get(i, []) == expect


def _brute_sessions(events, gap_s):
    """Reference sessionizer: plain python over (user, ts) pairs."""
    out = {}
    by_user: dict[int, list[int]] = {}
    for u, t in events:
        by_user.setdefault(u, []).append(t)
    for u, ts in by_user.items():
        ts.sort()
        sessions = []
        for t in ts:
            if not sessions or t - sessions[-1][-1] > gap_s:
                sessions.append([t])
            else:
                sessions[-1].append(t)
        out[u] = [len(s) for s in sessions]
    return out


@COMMON
@given(
    st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50_000)),
        min_size=1,
        max_size=60,
        unique=True,
    ),
    st.integers(60, 3600),
)
def test_sessionize_matches_bruteforce(spark, events, gap_s):
    df = spark.createDataFrame(
        [(i, u, t, float(i)) for i, (u, t) in enumerate(events)],
        ["event_id", "user_id", "epoch", "value"],
    ).withColumn("ts", F.timestamp_seconds("epoch"))
    got = sessionize(df, gap_minutes=gap_s / 60.0)
    got_counts: dict[int, list[int]] = {}
    for r in got.orderBy("user_id", "session_seq").collect():
        got_counts.setdefault(r["user_id"], []).append(r["n_events"])
    assert got_counts == _brute_sessions(events, gap_s)


@COMMON
@given(
    st.lists(st.integers(0, 1000), min_size=1, max_size=40, unique=True),
    st.lists(st.integers(0, 1000), min_size=1, max_size=15, unique=True),
)
def test_asof_matches_bruteforce(spark, left_ts, right_ts):
    left = spark.createDataFrame(
        [(i, 1, t) for i, t in enumerate(left_ts)], ["id", "k", "t"]
    )
    right = spark.createDataFrame(
        [(1, t, f"r{t}") for t in right_ts], ["k", "t", "tag"]
    )
    got = {
        r["id"]: r["right_tag"]
        for r in as_of_join(
            left, right, on="k", left_time="t", right_time="t",
            right_payload=["tag"],
        ).collect()
    }
    for i, lt in enumerate(left_ts):
        candidates = [rt for rt in right_ts if rt <= lt]
        want = f"r{max(candidates)}" if candidates else None
        assert got[i] == want


@COMMON
@given(
    st.lists(st.integers(0, 1000), min_size=1, max_size=30, unique=True),
    st.lists(st.integers(0, 1000), min_size=1, max_size=12, unique=True),
    st.sampled_from(["backward", "forward", "nearest"]),
    st.booleans(),
    st.one_of(st.none(), st.integers(0, 200)),
)
def test_asof_matches_pandas_merge_asof(
    spark, left_ts, right_ts, direction, strict, tolerance
):
    """Full direction x strict x tolerance surface vs pandas
    merge_asof — THE reference implementation of these semantics
    (allow_exact_matches == not strict, same tolerance nulling)."""
    import pandas as pd

    left = spark.createDataFrame(
        [(i, 1, t) for i, t in enumerate(left_ts)], ["id", "k", "t"]
    )
    right = spark.createDataFrame(
        [(1, t, f"r{t}") for t in right_ts], ["k", "t", "tag"]
    )
    got = {
        r["id"]: r["right_tag"]
        for r in as_of_join(
            left, right, on="k", left_time="t", right_time="t",
            right_payload=["tag"], direction=direction, strict=strict,
            tolerance_us=tolerance,
        ).collect()
    }
    lpdf = pd.DataFrame(
        {"id": range(len(left_ts)), "t": left_ts}
    ).sort_values("t", kind="stable")
    rpdf = pd.DataFrame(
        {"t": right_ts, "tag": [f"r{t}" for t in right_ts]}
    ).sort_values("t", kind="stable")
    merged = pd.merge_asof(
        lpdf,
        rpdf,
        on="t",
        direction=direction,
        allow_exact_matches=not strict,
        tolerance=tolerance,
    )
    want = {
        int(row["id"]): (None if pd.isna(row["tag"]) else row["tag"])
        for _, row in merged.iterrows()
    }
    assert got == want


# ---------------------------------------------------------------------------
# DSL compiler fuzz: random filter trees vs DuckDB (P2-P7 semantics,
# including SQL three-valued logic under NOT/OR nesting)
# ---------------------------------------------------------------------------

_INT_OPS = ["=", "!=", ">", ">=", "<", "<="]


def _leaf_int():
    return st.builds(
        lambda op, v: {"field": "p_partkey", "operator": op, "value": v},
        st.sampled_from(_INT_OPS),
        st.integers(0, 300),
    )


def _leaf_between():
    return st.builds(
        lambda a, b: {
            "field": "p_partkey", "operator": "BETWEEN", "value": [min(a, b), max(a, b)]
        },
        st.integers(0, 300),
        st.integers(0, 300),
    )


def _leaf_str():
    words = st.sampled_from(["bolt", "nut", "spring", "zzz"])
    return st.one_of(
        st.builds(
            lambda w: {"field": "p_name", "operator": "LIKE", "value": f"%{w}%"},
            words,
        ),
        st.builds(
            lambda ws: {"field": "p_type", "operator": "IN", "value": ws},
            st.lists(
                st.sampled_from(["SMALL", "LARGE", "PROMO", "NOPE"]),
                min_size=1, max_size=3, unique=True,
            ),
        ),
    )


_FILTER = st.recursive(
    st.one_of(_leaf_int(), _leaf_between(), _leaf_str()),
    lambda children: st.one_of(
        st.builds(lambda cs: {"and": cs}, st.lists(children, min_size=1, max_size=3)),
        st.builds(lambda cs: {"or": cs}, st.lists(children, min_size=1, max_size=3)),
        st.builds(lambda c: {"not": c}, children),
    ),
    max_leaves=6,
)


def _to_sql(node) -> str:
    if "and" in node:
        return "(" + " AND ".join(_to_sql(c) for c in node["and"]) + ")"
    if "or" in node:
        return "(" + " OR ".join(_to_sql(c) for c in node["or"]) + ")"
    if "not" in node:
        return "NOT (" + _to_sql(node["not"]) + ")"
    f, op, v = node["field"], node["operator"], node.get("value")
    if op == "BETWEEN":
        return f"({f} BETWEEN {v[0]} AND {v[1]})"
    if op == "IN":
        vals = ", ".join(f"'{x}'" for x in v)
        return f"({f} IN ({vals}))"
    if op == "LIKE":
        return f"({f} LIKE '{v}')"
    if op == "!=":
        op = "<>"
    lit = v if isinstance(v, int) else f"'{v}'"
    return f"({f} {op} {lit})"


@settings(max_examples=25, deadline=None)
@given(_FILTER)
def test_dsl_filter_fuzz_vs_duckdb(registry, where):
    from project_cortex_spark.dsl import compile_query

    from .conftest import duck_connect

    got = compile_query(
        registry, {"from": "part", "fields": ["p_partkey"], "where": where}
    )
    # its own DuckDB database per example: some generated filters raise a
    # DuckDB InternalException, which invalidates the database it runs
    # in — on the shared session connection it would fail every later
    # oracle comparison of the run, not just this test
    duck = duck_connect()
    try:
        want = duck.execute(
            f"SELECT p_partkey FROM part WHERE {_to_sql(where)}"
        ).fetchall()
    finally:
        duck.close()
    assert sorted(r[0] for r in got.collect()) == sorted(r[0] for r in want)


@COMMON
@given(st.lists(TEXT, min_size=1, max_size=25), st.integers(1, 4))
def test_pack_sequences_tiles_each_writer(spark, texts, writers):
    """Per writer, sorted start_offsets tile the token stream exactly:
    offset[0] == 0 and offset[k] == offset[k-1] + n_tokens[k-1] — no
    gaps, no overlap, for arbitrary documents and shard counts."""
    from project_cortex_spark.operators.corpus import pack_sequences

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], ["doc_id", "text"]
    )
    rows = pack_sequences(docs, seq_tokens=32, writers=writers).collect()
    assert len(rows) == len(texts)
    by_writer: dict = {}
    for r in rows:
        by_writer.setdefault(r["writer"], []).append(r)
    for grp in by_writer.values():
        grp.sort(key=lambda r: r["start_offset"])
        expect = 0
        for r in grp:
            assert r["start_offset"] == expect
            assert r["seq_id"] == r["start_offset"] // 32
            expect += r["n_tokens"]


@COMMON
@given(st.lists(TEXT, min_size=1, max_size=20))
def test_c4_clean_matches_python_reference(spark, texts):
    """The Spark line rules agree with a direct python re-implementation
    on arbitrary multi-line documents."""
    import re

    from project_cortex_spark.operators.textstats import (
        C4_BLOCKLIST,
        C4_MIN_KEPT_LINES,
        C4_MIN_LINE_WORDS,
        c4_clean,
    )

    # stitch generated fragments into multi-line docs
    docs_py = {}
    for i in range(0, len(texts), 4):
        docs_py[i] = "\n".join(texts[i : i + 4])

    def ref(text: str):
        lines = text.split("\n")
        kept = []
        for line in lines:
            t = line.strip(" ")  # Spark/DuckDB trim() is space-only
            words = [w for w in re.split(" +", t) if w]
            ok = (
                bool(re.search(r'[.!?"]$', t))
                and len(words) >= C4_MIN_LINE_WORDS
                and all(p not in t.lower() for p in C4_BLOCKLIST)
            )
            if ok:
                kept.append(line)
        is_kept = len(kept) >= C4_MIN_KEPT_LINES
        return (len(lines), len(kept), is_kept, "\n".join(kept) if is_kept else "")

    df = spark.createDataFrame(list(docs_py.items()), ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["n_lines"], r["n_kept"], r["kept"], r["cleaned"])
        for r in c4_clean(df).collect()
    }
    assert got == {i: ref(t) for i, t in docs_py.items()}


@COMMON
@given(st.lists(TEXT, min_size=1, max_size=25))
def test_bpe_pattern_parity_with_duckdb(spark, duck, texts):
    """The GPT-2-style piece pattern extracts identical pieces in Java
    regex and RE2 on arbitrary text — the property the text_bpe_tokens
    oracle rests on."""
    from project_cortex_spark.operators.textstats import BPE_PIECE_RE

    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], ["i", "t"])
    got = {
        r["i"]: list(r["p"])
        for r in df.select(
            "i",
            F.regexp_extract_all(
                F.lower(F.col("t")), F.lit(BPE_PIECE_RE), F.lit(0)
            ).alias("p"),
        ).collect()
    }
    duck.execute(
        "CREATE OR REPLACE TABLE _prop_bpe AS SELECT * FROM (VALUES "
        + ", ".join(f"({i}, ?)" for i in range(len(texts)))
        + ") AS v(i, t)",
        list(texts),
    )
    pat = BPE_PIECE_RE.replace("'", "''")
    want = {
        i: p
        for i, p in duck.execute(
            f"SELECT i, regexp_extract_all(lower(t), '{pat}') FROM _prop_bpe"
        ).fetchall()
    }
    assert got == want


_JOIN_SQL = {
    "INNER": "JOIN",
    "LEFT": "LEFT JOIN",
    "RIGHT": "RIGHT JOIN",
    "FULL": "FULL JOIN",
}


@COMMON
@given(
    st.sampled_from(["INNER", "LEFT", "RIGHT", "FULL", "SEMI", "ANTI"]),
    st.one_of(st.none(), st.integers(0, 500_000)),
)
def test_dsl_join_fuzz_vs_duckdb(registry, duck, join_type, price_floor):
    """Every DSL join type, with and without an extra non-equi predicate
    riding in the ON clause, agrees with DuckDB (EXISTS / NOT EXISTS
    for the SEMI/ANTI extension)."""
    from project_cortex_spark.dsl import compile_query

    on = {
        "field": "customer.c_custkey",
        "operator": "=",
        "value": "orders.o_custkey",
    }
    on_sql = "c_custkey = o_custkey"
    if price_floor is not None:
        on = {
            "and": [
                on,
                {
                    "field": "orders.o_totalprice",
                    "operator": ">",
                    "value": price_floor,
                },
            ]
        }
        on_sql += f" AND o_totalprice > {price_floor}"
    fields = (
        ["c_custkey"]
        if join_type in ("SEMI", "ANTI")
        else ["customer.c_custkey", "orders.o_orderkey"]
    )
    got = compile_query(
        registry,
        {
            "from": "customer",
            "fields": fields,
            "joins": [{"table": "orders", "type": join_type, "on": on}],
        },
    ).collect()
    if join_type == "SEMI":
        sql = (
            "SELECT c_custkey FROM customer WHERE EXISTS "
            f"(SELECT 1 FROM orders WHERE {on_sql})"
        )
    elif join_type == "ANTI":
        sql = (
            "SELECT c_custkey FROM customer WHERE NOT EXISTS "
            f"(SELECT 1 FROM orders WHERE {on_sql})"
        )
    else:
        sql = (
            "SELECT c_custkey, o_orderkey FROM customer "
            f"{_JOIN_SQL[join_type]} orders ON {on_sql}"
        )
    want = duck.execute(sql).fetchall()
    nullsafe = lambda t: tuple((v is None, v) for v in t)  # noqa: E731
    assert sorted(map(tuple, got), key=nullsafe) == sorted(
        map(tuple, want), key=nullsafe
    )


@COMMON
@given(
    st.lists(
        st.lists(
            st.sampled_from(
                ["dup paragraph shared across documents!",
                 "another repeated boilerplate block here",
                 "uniq", "x", ""]
            )
            | st.text(alphabet="abc XYZ.!", min_size=0, max_size=40),
            min_size=1,
            max_size=5,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_dedup_paragraphs_matches_python_model(spark, doc_paras):
    """Model-based fuzz: dedup_paragraphs vs a 10-line sequential
    reference (dict of first occurrences) over corpora mixing shared
    boilerplate, short fragments, and empty paragraphs."""
    from project_cortex_spark.operators.dedup import dedup_paragraphs

    min_chars = 10
    docs = [(i, "\n\n".join(ps)) for i, ps in enumerate(doc_paras)]

    seen: set[str] = set()
    want = {}
    for doc_id, text in docs:
        kept, dropped = [], 0
        for p in text.split("\n\n"):
            if len(p) < min_chars:
                kept.append(p)
            elif p not in seen:
                seen.add(p)
                kept.append(p)
            else:
                dropped += 1
        want[doc_id] = ("\n\n".join(kept), len(kept), dropped)

    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["cleaned_text"], r["n_kept"], r["n_dropped"])
        for r in dedup_paragraphs(df, min_chars=min_chars).collect()
    }
    assert got == want


@COMMON
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["en", "fr", "xx"]),
            st.floats(min_value=0.0, max_value=1.0, allow_nan=False),
        ),
        min_size=1,
        max_size=25,
    ),
    st.integers(1, 6),
)
def test_weighted_sample_matches_python_model(spark, rows, k):
    """Model-based fuzz: the A-Res selection replayed in pure Python
    with hashlib.md5 must pick the identical id set per stratum."""
    import hashlib
    import math

    from project_cortex_spark.operators.corpus import weighted_sample_per_key

    docs = [(i, lang, w) for i, (lang, w) in enumerate(rows)]

    def key_of(doc_id: int, w: float) -> float:
        h = hashlib.md5(f"wsample:{doc_id}".encode()).hexdigest()[:8]
        u = (int(h, 16) + 1) / 2**32
        return round(math.log(u) / max(w, 0.01), 9)

    want: dict[str, set[int]] = {}
    by_lang: dict[str, list[tuple[float, int]]] = {}
    for doc_id, lang, w in docs:
        by_lang.setdefault(lang, []).append((key_of(doc_id, w), doc_id))
    for lang, lst in by_lang.items():
        lst.sort(key=lambda t: (-t[0], t[1]))
        want[lang] = {d for _, d in lst[:k]}

    df = spark.createDataFrame(docs, ["doc_id", "lang", "quality"])
    got: dict[str, set[int]] = {}
    for r in weighted_sample_per_key(df, k=k).collect():
        got.setdefault(r["lang"], set()).add(r["doc_id"])
    assert got == want


@COMMON
@given(
    st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 2000)),  # (user, t_sec)
        min_size=1,
        max_size=40,
    )
)
def test_debounce_matches_python_model(spark, pairs):
    """Model-based fuzz: leading-edge debounce vs a sequential reference
    over bursts with chained gaps, ties, and multiple users."""
    import datetime as dt

    from project_cortex_spark.operators.events import debounce

    quiet = 300
    rows = [
        (i, dt.datetime(2026, 1, 1) + dt.timedelta(seconds=t), u, "click", 0.0)
        for i, (u, t) in enumerate(pairs)
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"]
    )
    got = {r["event_id"]: r["burst_len"] for r in debounce(df, quiet_seconds=quiet).collect()}

    want: dict[int, int] = {}
    by_user: dict[int, list[tuple[int, int]]] = {}
    for i, (u, t) in enumerate(pairs):
        by_user.setdefault(u, []).append((t, i))
    for u, evs in by_user.items():
        evs.sort()
        leader, prev_t = None, None
        for t, i in evs:
            if prev_t is None or t - prev_t > quiet:
                leader = i
                want[leader] = 0
            want[leader] += 1
            prev_t = t
    assert got == want


@COMMON
@given(
    st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 30), st.integers(0, 500)),
        min_size=1,
        max_size=30,
    )
)
def test_gapfill_matches_python_model(spark, triples):
    """Model-based fuzz: dense-grid resample + forward fill vs a
    sequential reference over sparse hours per type."""
    import datetime as dt

    from project_cortex_spark.operators.events import gapfill_resample

    rows = [
        (
            i,
            dt.datetime(2026, 1, 1) + dt.timedelta(hours=h, minutes=7),
            7,
            f"t{ty}",
            float(v),
        )
        for i, (ty, h, v) in enumerate(triples)
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"]
    )
    got = {
        (r["event_type"], r["bucket_start_us"]): (
            r["n_events"],
            r["filled_sum"],
            r["is_gap"],
        )
        for r in gapfill_resample(df, bucket_minutes=60).collect()
    }

    # UTC-pinned: Spark reads the naive timestamps in the session tz
    # (UTC by engine contract); naive .timestamp() would use the OS tz
    base_us = (
        int(
            dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc).timestamp()
        )
        * 1_000_000
    )
    hour_us = 3_600 * 1_000_000
    want = {}
    by_type: dict[str, dict[int, list[float]]] = {}
    for ty, h, v in triples:
        by_type.setdefault(f"t{ty}", {}).setdefault(h, []).append(float(v))
    for ty, hours in by_type.items():
        lo, hi = min(hours), max(hours)
        last = None
        for h in range(lo, hi + 1):
            vs = hours.get(h)
            if vs is not None:
                last = round(sum(vs), 6)
                want[(ty, base_us + h * hour_us)] = (len(vs), last, 0)
            else:
                want[(ty, base_us + h * hour_us)] = (0, last, 1)
    assert got == want


@COMMON
@given(
    st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 5000),
                  st.integers(0, 100)),
        min_size=2,
        max_size=25,
    )
)
def test_twap_matches_python_model(spark, triples):
    """Model-based fuzz: holding-period weighting vs a sequential
    reference, including duplicate timestamps (zero-length holding
    periods contribute nothing to either sum)."""
    import datetime as dt

    from project_cortex_spark.operators.events import twap

    rows = [
        (i, dt.datetime(2026, 1, 1) + dt.timedelta(seconds=s), 7,
         f"t{ty}", float(v))
        for i, (ty, s, v) in enumerate(triples)
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"]
    )
    got = {
        r["event_type"]: (r["n_intervals"], r["twap"], r["plain_avg"])
        for r in twap(df).collect()
    }

    # Spark's F.round on a double is BigDecimal.valueOf(x) — i.e. the
    # SHORTEST decimal repr (Double.toString), not the exact binary
    # value — with HALF_UP (matching DuckDB's round-half-away-from-zero
    # in the oracle); Python's round() is banker's, so an exactly-
    # representable half point (e.g. 3507/896 = 3.9140625) diverges in
    # the last digit. The model replays HALF_UP on Decimal(repr(x)),
    # which mirrors BigDecimal.valueOf semantics exactly (ADVICE r9:
    # Decimal(x) would replay the exact binary value instead, which can
    # sit on the other side of a half point from the shortest repr).
    from decimal import ROUND_HALF_UP, Decimal

    def round6_half_up(x: float) -> float:
        return float(
            Decimal(repr(x)).quantize(
                Decimal("0.000001"), rounding=ROUND_HALF_UP
            )
        )

    want = {}
    by_type: dict[str, list[tuple[int, int, float]]] = {}
    for i, (ty, s, v) in enumerate(triples):
        by_type.setdefault(f"t{ty}", []).append((s * 1_000_000, i, float(v)))
    for ty, evs in by_type.items():
        evs.sort()
        n, svdt, sdt, sv = 0, 0.0, 0.0, 0.0
        for (us, _i, v), (nus, _ni, _nv) in zip(evs, evs[1:]):
            dtu = nus - us
            n += 1
            svdt += v * dtu
            sdt += dtu
            sv += v
        if n:
            tw = round6_half_up(svdt / sdt) if sdt > 0 else None
            want[ty] = (n, tw, round6_half_up(sv / n))
    assert got == want


@COMMON
@given(
    st.lists(
        st.floats(min_value=-500, max_value=500, allow_nan=False,
                  width=32),
        min_size=1,
        max_size=40,
    )
)
def test_value_histogram_matches_python_model(spark, values):
    """Model-based fuzz incl. NEGATIVE values: floor-division binning
    must agree with Python's floor on both sides of zero (the gate data
    is all-positive, so this is the only coverage of negative bins)."""
    import datetime as dt
    import math

    from project_cortex_spark.operators.events import value_histogram

    width = 25.0
    rows = [
        (i, dt.datetime(2026, 1, 1), 7, "m", float(v))
        for i, v in enumerate(values)
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"]
    )
    got = {
        r["bin"]: (r["n_events"], r["min_value"], r["max_value"])
        for r in value_histogram(df, width=width).collect()
    }
    want: dict[int, list[float]] = {}
    for v in values:
        want.setdefault(math.floor(float(v) / width), []).append(float(v))
    assert got == {
        b: (len(vs), round(min(vs), 6), round(max(vs), 6))
        for b, vs in want.items()
    }


@COMMON
@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),  # user
            st.integers(0, 2000),  # minutes
            st.sampled_from(["view", "click", "purchase", "noise"]),
        ),
        min_size=1,
        max_size=50,
    )
)
def test_funnel_matches_python_model(spark, triples):
    """Model-based fuzz of the 3-step funnel fold: anchored at the
    FIRST step-1, each later step strictly after the previous, within
    the horizon of the anchor — replayed sequentially in Python over
    the same (ts, type) sort order."""
    import datetime as dt

    from project_cortex_spark.operators.events import funnel

    horizon_min = 600
    rows = [
        (i, dt.datetime(2026, 1, 1) + dt.timedelta(minutes=m), u, ty, 0.0)
        for i, (u, m, ty) in enumerate(triples)
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"]
    )
    got = {
        r["steps_completed"]: r["n_users"]
        for r in funnel(df, horizon_minutes=horizon_min).collect()
    }

    steps = ("view", "click", "purchase")
    by_user: dict[int, list[tuple[int, str]]] = {}
    for u, m, ty in triples:
        by_user.setdefault(u, []).append((m * 60_000_000, ty))
    want: dict[int, int] = {}
    for u, evs in by_user.items():
        # the fold sorts by (ts_us, type) structs; non-step events are
        # dropped before the sort
        evs = sorted(e for e in evs if e[1] in steps)
        stage, t1, tp = 0, None, None
        for us, ty in evs:
            adv = False
            if stage == 0 and ty == steps[0]:
                adv, t1 = True, us
            elif (
                stage in (1, 2)
                and ty == steps[stage]
                and us > tp
                and us <= t1 + horizon_min * 60_000_000
            ):
                adv = True
            if adv:
                stage += 1
                tp = us
        want[stage] = want.get(stage, 0) + 1
    assert got == want


@COMMON
@given(
    st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 40)),  # (user, day)
        min_size=1,
        max_size=50,
    )
)
def test_retention_matches_python_model(spark, pairs):
    """Model-based fuzz of cohort retention: cohort = a user's first
    activity bucket; each (cohort, offset) counts distinct returning
    users."""
    import datetime as dt

    from project_cortex_spark.operators.events import retention_cohorts

    days = 7
    rows = [
        (i, dt.datetime(2026, 1, 1) + dt.timedelta(days=d), u, "click", 0.0)
        for i, (u, d) in enumerate(pairs)
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"]
    )
    got = {
        (r["cohort_bucket"], r["bucket_offset"]): r["n_users"]
        for r in retention_cohorts(df, days=days).collect()
    }

    # epoch-aligned buckets: bucket = floor(epoch_days / days)
    base_days = (dt.date(2026, 1, 1) - dt.date(1970, 1, 1)).days
    by_user: dict[int, set[int]] = {}
    for u, d in pairs:
        by_user.setdefault(u, set()).add((base_days + d) // days)
    want: dict[tuple[int, int], int] = {}
    for buckets in by_user.values():
        cohort = min(buckets)
        for b in buckets:
            key = (cohort, b - cohort)
            want[key] = want.get(key, 0) + 1
    assert got == want


@COMMON
@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1,
        max_size=40,
    ),
    st.integers(1, 4),
)
def test_kcore_matches_python_model(spark, raw_edges, k):
    """Model-based fuzz of k-core peeling vs a sequential
    peel-to-fixpoint reference over random small graphs."""
    from project_cortex_spark.operators.graph import kcore

    edges = sorted({(min(a, b), max(a, b)) for a, b in raw_edges if a != b})
    if not edges:
        return
    df = spark.createDataFrame(edges, ["a", "b"])
    got = {r["node"]: r["core_deg"] for r in kcore(df, k=k, rounds=12).collect()}

    surv = set(edges)
    while True:
        deg: dict[int, int] = {}
        for a, b in surv:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        keep = {n for n, d in deg.items() if d >= k}
        nxt = {(a, b) for a, b in surv if a in keep and b in keep}
        if nxt == surv:
            break
        surv = nxt
    want: dict[int, int] = {}
    for a, b in surv:
        want[a] = want.get(a, 0) + 1
        want[b] = want.get(b, 0) + 1
    assert got == want


@COMMON
@given(
    st.lists(
        st.tuples(st.integers(0, 5000), st.integers(0, 200)),  # (sec, value)
        min_size=1,
        max_size=30,
    )
)
def test_ohlc_matches_python_model(spark, pairs):
    """Model-based fuzz of OHLC bars incl. TIMESTAMP TIES: open/close
    follow (ts, event_id) order, which the model replays exactly."""
    import datetime as dt

    from project_cortex_spark.operators.events import ohlc_resample

    rows = [
        (i, dt.datetime(2026, 1, 1) + dt.timedelta(seconds=s), 7, "m", float(v))
        for i, (s, v) in enumerate(pairs)
    ]
    df = spark.createDataFrame(
        rows, ["event_id", "ts", "user_id", "event_type", "value"]
    )
    got = {
        r["bucket_start_us"]: (r["open"], r["high"], r["low"], r["close"],
                               r["n_events"])
        for r in ohlc_resample(df, bucket_minutes=60).collect()
    }

    base_us = int(
        dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc).timestamp()
    ) * 1_000_000
    hour_us = 3_600 * 1_000_000
    by_bucket: dict[int, list[tuple[int, int, float]]] = {}
    for i, (s, v) in enumerate(pairs):
        us = base_us + s * 1_000_000
        by_bucket.setdefault(us // hour_us, []).append((us, i, float(v)))
    want = {}
    for b, evs in by_bucket.items():
        evs.sort()
        vals = [v for _, _, v in evs]
        want[b * hour_us] = (
            round(evs[0][2], 6), round(max(vals), 6),
            round(min(vals), 6), round(evs[-1][2], 6), len(evs),
        )
    assert got == want


@COMMON
@given(
    st.lists(
        st.tuples(
            st.integers(1, 60),  # n_tokens
            st.floats(min_value=0, max_value=1, allow_nan=False, width=32),
        ),
        min_size=1,
        max_size=30,
    ),
    st.integers(20, 300),
)
def test_token_budget_matches_python_model(spark, docs_in, budget):
    """Model-based fuzz of the greedy budget fill: best quality first,
    kept while the budget is not exhausted when the doc STARTS (may
    overshoot by one), ties by id."""
    from project_cortex_spark.operators.corpus import token_budget_mix

    rows = [
        (i, "s", int(t), float(q)) for i, (t, q) in enumerate(docs_in)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "n_tokens", "quality"])
    got = {r["doc_id"] for r in token_budget_mix(
        df, key_col="source", budget_tokens=budget
    ).collect()}

    order = sorted(rows, key=lambda r: (-r[3], r[0]))
    want, cum = set(), 0
    for doc_id, _s, t, _q in order:
        if cum < budget:
            want.add(doc_id)
        cum += t
    assert got == want


@COMMON
@given(
    st.lists(
        st.tuples(st.integers(0, 8), st.integers(0, 8)),
        min_size=1,
        max_size=30,
    )
)
def test_node_similarity_matches_python_model(spark, raw_edges):
    """Model-based fuzz: neighbor-set Jaccard over random small graphs
    vs a direct set computation (every pair sharing >=1 neighbor)."""
    from itertools import combinations

    from project_cortex_spark.operators.graph import node_similarity

    edges = sorted({(min(a, b), max(a, b)) for a, b in raw_edges if a != b})
    if not edges:
        return
    df = spark.createDataFrame(edges, ["a", "b"])
    got = {
        (r["pa"], r["pb"]): (r["n_common"], r["jaccard"])
        for r in node_similarity(df, k=1000).collect()
    }

    nbrs: dict[int, set[int]] = {}
    for a, b in edges:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    want = {}
    for pa, pb in combinations(sorted(nbrs), 2):
        common = nbrs[pa] & nbrs[pb]
        if common:
            union = len(nbrs[pa] | nbrs[pb])
            want[(pa, pb)] = (len(common), round(len(common) / union, 6))
    assert got == want


@COMMON
@given(
    st.lists(
        st.tuples(st.integers(0, 8), st.integers(0, 8)),
        min_size=1,
        max_size=30,
    ),
    st.integers(1, 10),
    st.booleans(),
)
def test_bfs_multi_matches_python_model(spark, raw_edges, depth, reverse):
    """Model-based fuzz: the batched multi-root traversal, and a
    single-root bfs per root, vs a direct per-root BFS over random
    digraphs (cycles, self-loops filtered, disconnected parts) — min
    depth per (root, node), root excluded, rows in contract order."""
    from project_cortex_spark.operators.graph import bfs, bfs_multi

    edges = sorted({(a, b) for a, b in raw_edges if a != b})
    if not edges:
        return
    nodes = sorted({a for a, _ in edges} | {b for _, b in edges})
    roots = nodes[::2] or [nodes[0]]
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = [
        tuple(r) for r in bfs_multi(df, roots, depth=depth, reverse=reverse).collect()
    ]

    adj: dict[int, set[int]] = {}
    for a, b in edges:
        if reverse:
            a, b = b, a
        adj.setdefault(a, set()).add(b)
    want = []
    for root in roots:
        dist = {root: 0}
        frontier = {root}
        for d in range(1, depth + 1):
            frontier = {
                m for n in frontier for m in adj.get(n, ())
                if m not in dist
            }
            for m in frontier:
                dist[m] = d
        closure = sorted((d, n) for n, d in dist.items() if n != root)
        want.extend((root, n, d) for d, n in closure)
        single = bfs(df, [root], depth=depth, reverse=reverse).collect()
        assert [tuple(r) for r in single] == [(n, d) for d, n in closure]
    assert got == want


@COMMON
@given(
    st.lists(
        st.tuples(st.integers(0, 7), st.integers(0, 7)),
        min_size=1,
        max_size=24,
    ),
    st.integers(0, 7),
    st.integers(0, 7),
    st.integers(1, 6),
)
def test_shortest_path_matches_python_model(spark, raw_edges, s, t, max_depth):
    """Model-based fuzz over random digraphs with ties and cycles: the
    lexicographically least among the shortest paths s->t, found by
    enumerating every simple path of at most ``max_depth`` hops; ``[]``
    when t is not reachable within ``max_depth``, ``[s]`` when s == t."""
    from project_cortex_spark.operators.graph import shortest_path

    edges = sorted(set(raw_edges))
    df = spark.createDataFrame(edges, "src bigint, dst bigint")
    adj: dict[int, list[int]] = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)

    paths = []
    stack = [[s]]
    while stack:
        p = stack.pop()
        if p[-1] == t:
            paths.append(p)
            continue
        if len(p) <= max_depth:
            stack.extend(p + [m] for m in adj.get(p[-1], ()) if m not in p)
    want = min(paths, key=lambda p: (len(p), p)) if paths else []
    assert shortest_path(df, s, t, max_depth=max_depth) == want


@COMMON
@given(
    st.lists(TEXT, min_size=2, max_size=12),
    st.integers(1, 3),
)
def test_fts_batch_matches_single_query_search(spark, texts, n_terms):
    """Fuzz the batched conjunctive search against N independent
    fts_search calls on random corpora: identical doc sets and BM25
    ranking per query."""
    import re as _re

    from project_cortex_spark.functions.text import SEP_PY
    from project_cortex_spark.operators.fts import (
        FtsQueryError,
        build_fts_index,
        fts_search,
        fts_search_batch,
    )

    docs = spark.createDataFrame(
        list(enumerate(texts)), ["doc_id", "text"]
    )
    vocab = sorted(
        {t for x in texts for t in _re.split(SEP_PY, x.lower()) if t}
    )
    if not vocab:
        return
    queries = []
    for qid in range(3):
        terms = [vocab[(qid * 3 + j) % len(vocab)] for j in range(n_terms)]
        queries.append((qid, " ".join(terms)))
    idx = build_fts_index(docs, id_col="doc_id", text_col="text")
    try:
        batch = fts_search_batch(idx, queries, limit=5).collect()
    except FtsQueryError:
        return  # a generated token parsed as an operator — out of scope
    got: dict = {}
    for r in batch:
        got[(r["query_id"], r["rank"])] = (r["doc_id"], round(r["score"], 6))
    want: dict = {}
    for qid, q in queries:
        for i, r in enumerate(fts_search(idx, q, limit=5).collect(), start=1):
            want[(qid, i)] = (r["doc_id"], round(r["score"], 6))
    assert got == want


# ---------------------------------------------------------------------------
# BPE merge-application equivalence: the oracle's iterated first-
# occurrence replacement over sentinel-wrapped strings must equal the
# canonical leftmost scan for EVERY symbol sequence and merge pair —
# this is the load-bearing claim behind bpe_train_oracle_sql's recursive
# CTE (pure-Python twin of both sides; no Spark/DuckDB in the loop).
# ---------------------------------------------------------------------------

SYM = st.sampled_from(["a", "b", "ab", "aa", "</w>"])


@settings(max_examples=300, deadline=None)
@given(st.lists(SYM, min_size=0, max_size=12), SYM, SYM)
def test_bpe_scan_equals_iterated_first_replacement(syms, lhs, rhs):
    from project_cortex_spark.operators.bpe import _scan_merge

    # oracle semantics: '|'-wrapped string, replace FIRST occurrence of
    # '|L|R|' with '|LR|', iterate to fixpoint
    seq = "|" + "|".join(syms) + "|" if syms else "|"
    pat = f"|{lhs}|{rhs}|"
    rep = f"|{lhs}{rhs}|"
    while (pos := seq.find(pat)) != -1:
        seq = seq[:pos] + rep + seq[pos + len(pat):]
    via_sql = [s for s in seq.split("|") if s != ""]
    assert via_sql == _scan_merge(list(syms), lhs, rhs)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.floats(
            min_value=-10, max_value=10, allow_nan=False, width=32
        ),
        min_size=64,
        max_size=64,
    )
)
def test_binary_code_query_side_matches_column_side(vec):
    # the driver-side query packing (knn._query_code) is the same
    # function of the vector as the Catalyst column packing
    from project_cortex_spark.operators.knn import _query_code

    lo, hi = _query_code(vec)
    assert lo == sum(1 << j for j in range(32) if vec[j] > 0)
    assert hi == sum(1 << j for j in range(32) if vec[32 + j] > 0)
    assert 0 <= lo < (1 << 32) and 0 <= hi < (1 << 32)


# ---------------------------------------------------------------------------
# connected components: star alternation vs a union-find model
# ---------------------------------------------------------------------------


@COMMON
@given(
    st.lists(
        st.tuples(st.integers(0, 25), st.integers(0, 25)),
        min_size=1,
        max_size=60,
    )
)
def test_connected_components_matches_union_find(spark, raw_edges):
    from project_cortex_spark.operators.graph import connected_components

    pairs = [(a, b) for a, b in raw_edges if a != b]
    if not pairs:
        return
    got = {
        (r["doc_id"], r["cluster_id"], r["keep"])
        for r in connected_components(
            spark.createDataFrame(pairs, ["a", "b"])
        ).collect()
    }

    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    nodes = {n for p in pairs for n in p}
    want = {(n, find(n), n == find(n)) for n in nodes}
    assert got == want


# ---------------------------------------------------------------------------
# exact-substring rewrite vs a direct python model of the spec
# ---------------------------------------------------------------------------


@COMMON
@given(
    st.lists(
        st.text(alphabet="abAB ", min_size=0, max_size=24),
        min_size=1,
        max_size=8,
    ),
    st.integers(3, 6),
)
def test_substring_rewrite_matches_python_model(spark, texts, k):
    from project_cortex_spark.operators.dedup import exact_substring_rewrite

    docs = [(i, t) for i, t in enumerate(texts)]
    got = {
        r["doc_id"]: (r["removed_chars"], r["n_cut_spans"], r["cleaned_text"])
        for r in exact_substring_rewrite(
            spark.createDataFrame(docs, "doc_id bigint, text string"), k=k
        ).collect()
    }

    # model: gram -> min doc containing it; cut every non-canonical
    # occurrence's window; merge; rebuild
    owner: dict[str, int] = {}
    seen_docs: dict[str, set] = {}
    for i, t in docs:
        for p in range(len(t) - k + 1):
            g = t[p : p + k]
            owner[g] = min(owner.get(g, i), i)
            seen_docs.setdefault(g, set()).add(i)
    for i, t in docs:
        cut = [False] * len(t)
        for p in range(len(t) - k + 1):
            g = t[p : p + k]
            if len(seen_docs[g]) >= 2 and owner[g] != i:
                for j in range(p, p + k):
                    cut[j] = True
        cleaned = "".join(c for c, x in zip(t, cut) if not x)
        spans = sum(
            1 for j in range(len(t)) if cut[j] and (j == 0 or not cut[j - 1])
        )
        assert got[i] == (len(t) - len(cleaned), spans, cleaned), (i, t, k)


@COMMON
@given(
    st.lists(
        st.tuples(st.integers(0, 20), st.integers(0, 20)),
        min_size=1,
        max_size=40,
    ),
    st.lists(st.integers(0, 2), min_size=1, max_size=40),
)
def test_incremental_components_match_batch(spark, tmp_path_factory, raw_edges, split):
    """Any partition of any pair stream into batches yields the same
    component map as one-shot CC (self-loop-only nodes excepted: the
    stream keeps them, the batch operator drops them)."""
    from project_cortex_spark.operators.graph import connected_components
    from project_cortex_spark.streaming.components import (
        merge_pairs_batch,
        read_components,
    )

    pairs = [(a, b) for a, b in raw_edges if a != b]
    if not pairs:
        return
    store = str(tmp_path_factory.mktemp("ccprop") / "store")
    batches: dict[int, list] = {}
    for i, p in enumerate(pairs):
        batches.setdefault(split[i % len(split)], []).append(p)
    for _, b in sorted(batches.items()):
        merge_pairs_batch(spark, spark.createDataFrame(b, ["a", "b"]), store)
    got = {
        (r["doc_id"], r["cluster_id"], r["keep"])
        for r in read_components(spark, store).collect()
    }
    want = {
        (r["doc_id"], r["cluster_id"], r["keep"])
        for r in connected_components(
            spark.createDataFrame(pairs, ["a", "b"])
        ).collect()
    }
    assert got == want


# --- cortex_analysis ops vs pure-python oracles ---


def _brute_min_cycles(edges: list[tuple[int, int]], max_len: int) -> dict:
    """BFS from every node over the exact edge set; min length of a
    walk returning to the origin, capped."""
    adj: dict[int, set[int]] = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    out = {}
    nodes = {s for s, _ in edges} | {d for _, d in edges}
    for o in nodes:
        frontier = set(adj.get(o, ()))
        seen = set(frontier)
        for lvl in range(1, max_len + 1):
            if o in frontier:
                out[o] = lvl
                break
            frontier = {
                d for n in frontier for d in adj.get(n, ())
            } - (seen - {o})
            seen |= frontier
            if not frontier:
                break
    return out


@COMMON
@given(
    st.lists(
        st.tuples(st.integers(0, 12), st.integers(0, 12)),
        min_size=1,
        max_size=40,
        unique=True,
    ),
    st.integers(1, 6),
)
def test_cycle_members_matches_bruteforce(spark, edges, max_len):
    from project_cortex_spark.operators.graph import cycle_members

    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node"]: r["cycle_len"]
        for r in cycle_members(df, max_len=max_len).collect()
    }
    assert got == _brute_min_cycles(edges, max_len)


@COMMON
@given(
    st.lists(
        st.tuples(st.integers(0, 10), st.integers(11, 20)),
        min_size=1,
        max_size=30,
        unique=True,
    )
)
def test_hierarchy_closure_matches_bruteforce(spark, edges):
    """Parent edges always point low->high ids, so the hierarchy is a
    DAG; closure must equal python BFS min-depths."""
    from project_cortex_spark.operators.graph import hierarchy_closure

    df = spark.createDataFrame(edges, ["child", "parent"])
    got = {
        (r["node"], r["ancestor"]): r["depth"]
        for r in hierarchy_closure(df, max_depth=10).collect()
    }
    adj: dict[int, set[int]] = {}
    for c, p in edges:
        adj.setdefault(c, set()).add(p)
    want = {}
    for o in {c for c, _ in edges}:
        frontier = set(adj.get(o, ()))
        depth = 1
        seen = set()
        while frontier:
            for n in frontier:
                want.setdefault((o, n), depth)
            seen |= frontier
            frontier = {
                p for n in frontier for p in adj.get(n, ())
            } - seen
            depth += 1
    assert got == want


@COMMON
@given(
    st.lists(
        st.text(alphabet="ab ", min_size=6, max_size=30),
        min_size=2,
        max_size=12,
    ),
    st.sampled_from([0.3, 0.5, 0.7, 0.9]),
)
def test_ppjoin_matches_bruteforce_jaccard(spark, texts, threshold):
    """PPJoin vs python set Jaccard over tiny-alphabet corpora (maximal
    shingle sharing — the regime where a buggy prefix would lose
    pairs)."""
    from project_cortex_spark.operators.dedup import ppjoin_pairs

    docs = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["a"], r["b"]): round(r["jaccard"], 9)
        for r in ppjoin_pairs(df, shingle_n=2, threshold=threshold).collect()
    }

    def sh2(t: str) -> set:
        toks = t.split()
        return {tuple(toks[i : i + 2]) for i in range(len(toks) - 1)}

    want = {}
    for i, ti in docs:
        for j, tj in docs:
            if i >= j:
                continue
            a, b = sh2(ti), sh2(tj)
            if not a or not b:
                continue
            jac = len(a & b) / len(a | b)
            if jac >= threshold:
                want[(i, j)] = round(jac, 9)
    assert got == want


def _tarjan_scc(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Iterative Tarjan; returns node -> min-node-of-its-SCC."""
    adj: dict[int, list[int]] = {}
    nodes = set()
    for s, d in edges:
        adj.setdefault(s, []).append(d)
        nodes |= {s, d}
    index: dict[int, int] = {}
    low: dict[int, int] = {}
    on_stack: set[int] = set()
    stack: list[int] = []
    out: dict[int, int] = {}
    counter = [0]

    def strongconnect(root: int) -> None:
        work = [(root, 0)]
        while work:
            v, pi = work[-1]
            if pi == 0:
                index[v] = low[v] = counter[0]
                counter[0] += 1
                stack.append(v)
                on_stack.add(v)
            recurse = False
            succs = adj.get(v, [])
            for i in range(pi, len(succs)):
                w = succs[i]
                if w not in index:
                    work[-1] = (v, i + 1)
                    work.append((w, 0))
                    recurse = True
                    break
                if w in on_stack:
                    low[v] = min(low[v], index[w])
            if recurse:
                continue
            if low[v] == index[v]:
                comp = []
                while True:
                    w = stack.pop()
                    on_stack.discard(w)
                    comp.append(w)
                    if w == v:
                        break
                m = min(comp)
                for w in comp:
                    out[w] = m
            work.pop()
            if work:
                u, _ = work[-1]
                low[u] = min(low[u], low[v])

    for v in sorted(nodes):
        if v not in index:
            strongconnect(v)
    return out


@COMMON
@given(
    st.lists(
        st.tuples(st.integers(0, 11), st.integers(0, 11)),
        min_size=1,
        max_size=35,
        unique=True,
    )
)
def test_scc_matches_tarjan(spark, edges):
    from project_cortex_spark.operators.graph import (
        strongly_connected_components as scc,
    )

    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {r["node"]: r["scc_id"] for r in scc(df, max_rounds=60).collect()}
    assert got == _tarjan_scc(edges)


def _brute_min_cycle_paths(
    edges: list[tuple[int, int]], max_len: int
) -> dict:
    """Full walk enumeration: for each origin with a cycle of length
    L <= max_len (L from _brute_min_cycles), the lexicographically
    smallest '>'-joined closed walk string of length exactly L —
    the operator's documented canon, computed with zero pruning."""
    mins = _brute_min_cycles(edges, max_len)
    adj: dict[int, set[int]] = {}
    for s, d in edges:
        adj.setdefault(s, set()).add(d)
    out = {}
    for o, L in mins.items():
        best = None

        def walk(node, depth, path):
            nonlocal best
            if depth == L:
                if node == o:
                    s = ">".join(str(x) for x in path)
                    if best is None or s < best:
                        best = s
                return
            for nxt in adj.get(node, ()):
                walk(nxt, depth + 1, path + [nxt])

        walk(o, 0, [o])
        out[o] = (L, best)
    return out


@COMMON
@given(
    st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1,
        max_size=25,
        unique=True,
    ),
    st.integers(1, 4),
)
def test_cycle_paths_matches_bruteforce(spark, edges, max_len):
    """cycle_paths' per-level min(path) + visited pruning must equal
    the unpruned full-enumeration canon (smallest minimal-length closed
    walk string) on arbitrary small digraphs — the composition argument
    in the docstring, checked mechanically."""
    from project_cortex_spark.operators.graph import cycle_paths

    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node"]: (r["cycle_len"], r["path"])
        for r in cycle_paths(df, max_len=max_len).collect()
    }
    assert got == _brute_min_cycle_paths(edges, max_len)


@COMMON
@given(
    st.lists(st.floats(-100, 100, allow_nan=False), min_size=2, max_size=20),
    st.lists(st.floats(-100, 100, allow_nan=False), min_size=2, max_size=20),
)
def test_ks_drift_matches_bruteforce(spark, early, late):
    """ks_drift's RANGE-frame sup equals the textbook two-sample KS
    computed in python over the same halves (ties included on both
    sides)."""
    from datetime import datetime, timedelta

    from project_cortex_spark.operators.events import ks_drift

    t0 = datetime(2026, 1, 1)
    rows = [("g", float(v), t0 + timedelta(seconds=i)) for i, v in enumerate(early)]
    rows += [
        ("g", float(v), t0 + timedelta(hours=10, seconds=i))
        for i, v in enumerate(late)
    ]
    df = spark.createDataFrame(
        rows, "event_type string, value double, ts timestamp"
    )
    got = ks_drift(df).collect()[0]
    n1, n2 = len(early), len(late)
    xs = sorted(set(early) | set(late))
    want = max(
        abs(
            sum(1 for v in early if v <= x) / n1
            - sum(1 for v in late if v <= x) / n2
        )
        for x in xs
    )
    assert (got["n_early"], got["n_late"]) == (n1, n2)
    assert got["ks_stat"] == round(want, 6)


@COMMON
@given(
    st.lists(
        st.lists(st.integers(0, 15), min_size=5, max_size=12),
        min_size=2,
        max_size=8,
    )
)
def test_containment_matches_bruteforce(spark, word_lists):
    """containment_pairs equals exact set containment over the same
    3-shingle universe (no df cap) on random small corpora."""
    from project_cortex_spark.operators.dedup import containment_pairs

    docs = [(i, " ".join(f"w{w}" for w in ws)) for i, ws in enumerate(word_lists)]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        (r["a"], r["b"]): round(r["containment"], 9)
        for r in containment_pairs(df, threshold=0.3).collect()
    }
    shingles = {
        i: {
            tuple(f"w{w}" for w in ws[j : j + 3])
            for j in range(len(ws) - 2)
        }
        for i, ws in enumerate(word_lists)
    }
    want = {}
    for a, sa in shingles.items():
        for b, sb in shingles.items():
            if a == b or not sa:
                continue
            c = len(sa & sb) / len(sa)
            if c >= 0.3:
                want[(a, b)] = round(c, 9)
    assert got == want


@COMMON
@given(
    st.lists(st.integers(1, 30), min_size=2, max_size=12),
)
def test_cusum_matches_bruteforce(spark, counts):
    """cusum_series's seed-0 fold equals the textbook two-sided Page
    CUSUM computed in python over the same bucket counts with the same
    self-derived mu/sigma (k = 0.5 sigma). Engine values are rounded to
    6 dp; compare within that contract."""
    import math
    from datetime import datetime, timedelta

    from project_cortex_spark.operators.events import cusum_series

    t0 = datetime(2026, 1, 1)
    rows = []
    for h, n in enumerate(counts):
        for i in range(n):
            rows.append(("g", 1.0, t0 + timedelta(hours=h, seconds=i)))
    df = spark.createDataFrame(
        rows, "event_type string, value double, ts timestamp"
    )
    got = {
        r["window_start"]: r for r in cusum_series(df).collect()
    }
    assert len(got) == len(counts)
    n = len(counts)
    s1 = sum(counts)
    s2 = sum(c * c for c in counts)
    mu = s1 / n
    sigma = math.sqrt(max(s2 / n - mu * mu, 0.0))
    k = 0.5 * sigma
    sp = sn = 0.0
    for h, c in enumerate(counts):
        x = float(c)
        sp = max(0.0, sp + (x - mu - k))
        sn = max(0.0, sn - (x - mu + k))
        r = got[t0 + timedelta(hours=h)]
        assert r["n_events"] == c
        assert abs(r["cusum_pos"] - sp) <= 5.01e-7, (h, r["cusum_pos"], sp)
        assert abs(r["cusum_neg"] - sn) <= 5.01e-7, (h, r["cusum_neg"], sn)
        # alarm compared away from the threshold boundary only (the
        # fold values are bit-mirrored but the boundary itself is a
        # float equality)
        h4 = 4.0 * sigma
        if abs(sp - h4) > 1e-9 and abs(sn - h4) > 1e-9:
            assert r["alarm"] == (sp > h4 or sn > h4)


@COMMON
@given(
    st.lists(
        st.lists(st.integers(-3, 3), min_size=7, max_size=7),
        min_size=6,
        max_size=24,
    ),
    st.sampled_from([None, 4]),
)
def test_semdedup_matches_bruteforce(spark, raw_vecs, max_cluster):
    """semdedup's decision frame equals a direct python replay of the
    paper's rule: argmax-cosine assignment, (csim asc, id asc) rank
    within the (cluster, salt) cell, prune anything scoring >=
    threshold against a lower-ranked member. The brute force mirrors
    the engine's float64 numpy expressions, so the compare is exact."""
    import math

    import numpy as np

    from project_cortex_spark.operators import dedup as dd
    from project_cortex_spark.operators.knn import _kmeans_deterministic

    # append a constant component so no vector is all-zero
    vecs = [list(map(float, v)) + [1.0] for v in raw_vecs]
    emb = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)], ["vec_id", "embedding"]
    )
    cent = _kmeans_deterministic(vecs, n_centroids=3, iters=4)
    threshold = 0.9
    got = {
        r["doc_id"]: (
            r["cluster_id"],
            r["centroid_sim"],
            r["rank"],
            r["keep"],
        )
        for r in dd.semdedup(
            emb, threshold=threshold, centroids=cent, max_cluster=max_cluster
        ).collect()
    }
    # brute force with the same numpy ops as the engine's UDFs
    mat = np.array(vecs, dtype=np.float64)
    mat = mat / np.clip(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12, None)
    sims = mat @ cent.T
    cid = np.argmax(sims, axis=1)
    csim = sims[np.arange(len(cid)), cid]
    raw = np.array(vecs, dtype=np.float64)
    from collections import Counter

    sizes = Counter(int(c) for c in cid)
    cells: dict[tuple, list[int]] = {}
    for i in range(len(vecs)):
        if max_cluster is not None:
            n_sub = math.ceil(sizes[int(cid[i])] / max_cluster)
            salt = i % n_sub
        else:
            salt = 0
        cells.setdefault((int(cid[i]), salt), []).append(i)

    def score(a: int, b: int) -> float:
        dot = np.einsum("ij,ij->i", raw[a : a + 1], raw[b : b + 1])[0]
        na = np.linalg.norm(raw[a : a + 1], axis=1)[0]
        nb = np.linalg.norm(raw[b : b + 1], axis=1)[0]
        return 1.0 - (1.0 - dot / max(na * nb, 1e-300)) / 2.0

    for (c, _salt), members in cells.items():
        # rank on the quantized csim, mirroring the engine (csim is
        # batch-layout-dependent at the ulp level; the quantization IS
        # part of the contract)
        order = sorted(members, key=lambda i: (round(float(csim[i]), 12), i))
        for pos, i in enumerate(order):
            keep = not any(
                score(order[j], i) >= threshold for j in range(pos)
            )
            g = got[i]
            assert g[0] == c
            assert g[1] == round(float(csim[i]), 6)
            assert g[2] == pos + 1
            assert g[3] == keep, (i, c, keep)
