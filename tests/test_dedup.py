"""Dedup operators vs generated DuckDB oracles: exact groups, MinHash+LSH,
n-gram Jaccard, SimHash, embedding-cosine."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from project_cortex_spark.operators.dedup import (
    dedup_exact,
    embedding_near_duplicates,
    exact_duplicate_groups,
    minhash_near_duplicates,
    ngram_jaccard_pairs,
    simhash_fingerprints,
    simhash_near_duplicates,
)
from project_cortex_spark import oracle
from project_cortex_spark.operators import dedup

from .conftest import assert_matches_oracle


def test_exact_duplicate_groups(registry, duck):
    # part names repeat heavily -> real dup groups
    df = exact_duplicate_groups(
        registry.table("part"), id_col="p_partkey", text_col="p_name"
    )
    sql = oracle.exact_duplicate_groups_sql(
        table="part", id_col="p_partkey", text_col="p_name"
    )
    assert_matches_oracle(df, duck, sql)


def test_dedup_exact_keeps_min_id(spark):
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "Hello, world!"), (3, "different")],
        ["doc_id", "text"],
    )
    kept = sorted(r["doc_id"] for r in dedup_exact(docs).collect())
    assert kept == [1, 3]  # 2 normalizes to the same content as 1


def test_minhash_near_duplicates(registry, duck):
    df = minhash_near_duplicates(registry.table("documents"), threshold=0.5).withColumn(
        "jaccard", F.round("jaccard", 6)
    )
    sql = oracle.minhash_near_duplicates_sql(threshold=0.5)
    assert_matches_oracle(df, duck, sql)
    assert df.count() > 0, "synthetic corpus plants near-dups; none found"


def test_ngram_jaccard_pairs(registry, duck):
    df = ngram_jaccard_pairs(registry.table("documents"), threshold=0.5).withColumn(
        "jaccard", F.round("jaccard", 6)
    )
    sql = oracle.ngram_jaccard_pairs_sql(threshold=0.5)
    assert_matches_oracle(df, duck, sql)


def test_ngram_jaccard_max_df(registry, duck):
    # the df cut changes the shingle universe on BOTH sides identically
    df = ngram_jaccard_pairs(
        registry.table("documents"), threshold=0.5, max_df=20
    ).withColumn("jaccard", F.round("jaccard", 6))
    sql = oracle.ngram_jaccard_pairs_sql(threshold=0.5, max_df=20)
    assert_matches_oracle(df, duck, sql)


def test_minhash_max_bucket_matches_oracle(registry, duck):
    # the hot-bucket guard must be replayed by the oracle; max_bucket=2
    # BINDS on the fixture (largest band bucket = 3), so this equality
    # is non-vacuous
    df = minhash_near_duplicates(
        registry.table("documents"), threshold=0.5, max_bucket=2
    ).withColumn("jaccard", F.round("jaccard", 6))
    sql = oracle.minhash_near_duplicates_sql(threshold=0.5, max_bucket=2)
    assert_matches_oracle(df, duck, sql)


def test_minhash_max_bucket_drops_hot_band(spark):
    # 4 identical docs -> all 4 signature components equal -> every band
    # bucket has 4 members; one distinct pair (5,6) sits in buckets of 2.
    # cap=3 removes all identical-doc pairs, keeps the small bucket.
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta") for i in range(1, 5)]
        + [(5, "one two three four five six"), (6, "one two three four five seven")],
        ["doc_id", "text"],
    )
    from project_cortex_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    sigs = minhash_signatures(docs)
    uncapped = {(r["a"], r["b"]) for r in lsh_candidate_pairs(sigs).collect()}
    capped = {
        (r["a"], r["b"])
        for r in lsh_candidate_pairs(sigs, max_bucket=3).collect()
    }
    assert (1, 2) in uncapped and (5, 6) in uncapped
    assert capped == {(5, 6)}


def test_simhash_banded_max_bucket_bounds_pairs(spark):
    # 5 identical docs share every band value (buckets of 5); a cap of 4
    # drops those buckets entirely -> no candidate pairs survive, while
    # the uncapped run returns all 10 identical-doc pairs.
    docs = spark.createDataFrame(
        [(i, "repeated boilerplate text body here") for i in range(5)],
        ["doc_id", "text"],
    )
    from project_cortex_spark.operators.dedup import (
        simhash_band_pairs,
        simhash_fingerprints,
    )

    fps = simhash_fingerprints(docs)
    assert simhash_band_pairs(fps).count() == 10
    assert simhash_band_pairs(fps, max_bucket=4).count() == 0


def test_ngram_jaccard_max_df_frac_matches_oracle(registry, duck):
    # fractional cap: effective max_df = max(2, floor(0.05 * n_docs)) —
    # both engines compute it from the same corpus count
    df = ngram_jaccard_pairs(
        registry.table("documents"), threshold=0.5, max_df=2, max_df_frac=0.05
    ).withColumn("jaccard", F.round("jaccard", 6))
    sql = oracle.ngram_jaccard_pairs_sql(
        threshold=0.5, max_df=2, max_df_frac=0.05
    )
    assert_matches_oracle(df, duck, sql)


def test_ngram_jaccard_max_df_drops_hot_shingle(spark):
    # 3 docs share one stop-shingle; docs 1/2 also share a rare one.
    # With max_df=2 the stop-shingle leaves the universe: the 1-3/2-3
    # candidate pairs vanish and 1-2's jaccard is computed over the
    # capped sets (1 common rare shingle / union).
    docs = spark.createDataFrame(
        [
            (1, "the quick brown unique alpha beta"),
            (2, "the quick brown unique alpha gamma"),
            (3, "the quick brown zeta eta theta"),
        ],
        ["doc_id", "text"],
    )
    capped = ngram_jaccard_pairs(docs, threshold=0.0, max_df=2).collect()
    got = {(r["a"], r["b"]) for r in capped}
    assert (1, 3) not in got and (2, 3) not in got
    assert (1, 2) in got


def test_duplicated_ngram_stats(registry, duck):
    df = dedup.duplicated_ngram_stats(registry.table("documents"), shingle_n=8)
    assert_matches_oracle(df, duck, oracle.duplicated_ngram_stats_sql(shingle_n=8))
    assert df.filter(F.col("dup_fraction") > 0).count() > 0


def test_duplicated_ngram_stats_semantics(spark):
    """Doc 1 and 2 share their first 3-gram only; doc 3 is unique; doc 4
    is too short to emit any 3-gram and is absent from the output."""
    docs = spark.createDataFrame(
        [
            (1, "a b c x y z"),
            (2, "a b c p q r"),
            (3, "unique words only here now"),
            (4, "too short"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["n_ngrams"], r["n_dup_ngrams"])
        for r in dedup.duplicated_ngram_stats(docs, shingle_n=3).collect()
    }
    assert got == {1: (4, 1), 2: (4, 1), 3: (3, 0)}


def test_simhash_fingerprints(registry, duck):
    df = simhash_fingerprints(registry.table("documents"))
    assert_matches_oracle(df, duck, oracle.simhash_fingerprints_sql())


def test_simhash_near_duplicates(registry, duck):
    df = simhash_near_duplicates(registry.table("documents"), max_hamming=2)
    assert_matches_oracle(df, duck, oracle.simhash_near_duplicates_sql(max_hamming=2))


def test_embedding_near_duplicates(registry, duck):
    df = embedding_near_duplicates(registry.table("embeddings"), threshold=0.9).withColumn(
        "score", F.round("score", 6)
    )
    assert_matches_oracle(df, duck, oracle.embedding_near_duplicates_sql(threshold=0.9))


def test_simhash_banded_equals_exact(registry):
    # pigeonhole banding is EXACT: identical pair set to the O(n^2) join
    docs = registry.table("documents")
    exact = {
        (r["a"], r["b"], r["hamming"])
        for r in simhash_near_duplicates(docs, max_hamming=2).collect()
    }
    banded = {
        (r["a"], r["b"], r["hamming"])
        for r in dedup.simhash_near_duplicates_banded(docs, max_hamming=2).collect()
    }
    assert banded == exact and len(exact) > 0


def test_simhash_banded_plan_has_no_nested_loop(registry):
    plan = dedup.simhash_near_duplicates_banded(
        registry.table("documents"), max_hamming=2
    )._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_embedding_lsh_precision_and_recall(spark):
    # plant TRUE near-dups (cosine >= ~0.95): 40 base vectors, each with a
    # small-perturbation twin, plus 120 unrelated vectors. Precision is 1.0
    # by construction (exact verify); recall must be high at near-dup
    # angles — that is the regime the operator exists for.
    import numpy as np

    rng = np.random.RandomState(7)
    rows = []
    vid = 0
    for _ in range(40):
        base = rng.randn(64)
        base /= np.linalg.norm(base)
        # noise norm ≈ 0.04·√64 ≈ 0.32 ⇒ cosine ≈ 0.95, score ≈ 0.98
        twin = base + 0.04 * rng.randn(64)
        twin /= np.linalg.norm(twin)
        rows.append((vid, [float(x) for x in base])); vid += 1
        rows.append((vid, [float(x) for x in twin])); vid += 1
    for _ in range(120):
        v = rng.randn(64)
        v /= np.linalg.norm(v)
        rows.append((vid, [float(x) for x in v])); vid += 1
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])

    exact = {
        (r["a"], r["b"])
        for r in embedding_near_duplicates(emb, threshold=0.95).collect()
    }
    approx = {
        (r["a"], r["b"])
        for r in dedup.embedding_near_duplicates_lsh(
            emb, threshold=0.95, dim=64
        ).collect()
    }
    assert approx <= exact  # precision 1.0
    assert len(exact) >= 30  # the planted twins are found by brute force
    assert len(approx) >= 0.85 * len(exact), (len(approx), len(exact))


def test_embedding_lsh_hot_bucket_cap_and_auto_planes(spark):
    """The sf1 spot-check levers (SCALE.md r5): max_bucket drops a
    near-collinear mega-cluster from candidate generation (identical
    vectors share every table's signature, so capping removes ALL their
    meeting points — the documented recall tradeoff), while unrelated
    near-dup pairs survive; n_planes='auto' resolves to the explicit
    count for the corpus size."""
    import numpy as np

    rng = np.random.RandomState(5)  # twin pair collides in hot-free buckets
    rows = []
    hot = rng.randn(64)
    hot /= np.linalg.norm(hot)
    for vid in range(8):  # the hot cluster: 8 identical vectors
        rows.append((vid, [float(x) for x in hot]))
    base = rng.randn(64)
    base /= np.linalg.norm(base)
    twin = base + 0.03 * rng.randn(64)
    twin /= np.linalg.norm(twin)
    rows.append((100, [float(x) for x in base]))
    rows.append((101, [float(x) for x in twin]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])

    uncapped = {
        (r["a"], r["b"])
        for r in dedup.embedding_near_duplicates_lsh(
            emb, threshold=0.95, dim=64
        ).collect()
    }
    capped = {
        (r["a"], r["b"])
        for r in dedup.embedding_near_duplicates_lsh(
            emb, threshold=0.95, dim=64, max_bucket=5
        ).collect()
    }
    assert {(v, w) for v in range(8) for w in range(v + 1, 8)} <= uncapped
    assert (100, 101) in uncapped
    # cap drops every intra-hot-cluster pair, keeps the unrelated twin
    assert capped == {(100, 101)}

    auto = dedup.embedding_near_duplicates_lsh(
        emb, threshold=0.95, dim=64, n_planes="auto", target_bucket=32
    )
    explicit = dedup.embedding_near_duplicates_lsh(
        emb, threshold=0.95, dim=64, n_planes=6
    )  # max(6, ceil(log2(max(10/32, 2)))) = 6
    got_auto = {(r["a"], r["b"]) for r in auto.collect()}
    got_explicit = {(r["a"], r["b"]) for r in explicit.collect()}
    assert got_auto == got_explicit

    with pytest.raises(ValueError, match="auto"):
        dedup.embedding_near_duplicates_lsh(emb, n_planes="bogus")


def test_embedding_lsh_plan_has_no_nested_loop(registry):
    plan = dedup.embedding_near_duplicates_lsh(
        registry.table("embeddings"), threshold=0.9, dim=64
    )._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_duplicate_clusters_semantics(spark):
    # two chains (1-2-3 via pairs, 7-8) and an isolated pair (5,6)
    pairs = spark.createDataFrame(
        [(2, 3), (1, 2), (5, 6), (8, 7)], ["a", "b"]
    )
    got = {
        r["doc_id"]: (r["cluster_id"], r["keep"])
        for r in dedup.duplicate_clusters(pairs).collect()
    }
    assert got == {
        1: (1, True), 2: (1, False), 3: (1, False),
        5: (5, True), 6: (5, False),
        7: (7, True), 8: (7, False),
    }
    # a pair with a NULL or equal endpoint carries no edge and adds no doc
    degenerate = spark.createDataFrame(
        [(5, 5), (1, 2), (None, 2), (3, None), (None, None)], "a bigint, b bigint"
    )
    got = {
        r["doc_id"]: (r["cluster_id"], r["keep"])
        for r in dedup.duplicate_clusters(degenerate).collect()
    }
    assert got == {1: (1, True), 2: (1, False)}


def test_duplicate_clusters_oracle(registry, duck):
    pairs = dedup.minhash_near_duplicates(registry.table("documents"), threshold=0.5)
    got = dedup.duplicate_clusters(pairs.select("a", "b"))
    assert_matches_oracle(
        got,
        duck,
        oracle.duplicate_clusters_sql(
            oracle.minhash_near_duplicates_sql(threshold=0.5)
        ),
    )


def test_embedding_ivf_precision_and_recall(spark):
    # same planted-twin corpus shape as the LSH test: precision 1.0 by
    # construction; recall = 1 - (pairs straddling a cluster boundary)
    import numpy as np

    rng = np.random.RandomState(9)
    rows, vid = [], 0
    for _ in range(40):
        base = rng.randn(64); base /= np.linalg.norm(base)
        twin = base + 0.04 * rng.randn(64); twin /= np.linalg.norm(twin)
        rows.append((vid, [float(x) for x in base])); vid += 1
        rows.append((vid, [float(x) for x in twin])); vid += 1
    for _ in range(120):
        v = rng.randn(64); v /= np.linalg.norm(v)
        rows.append((vid, [float(x) for x in v])); vid += 1
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])

    exact = {(r["a"], r["b"]) for r in
             embedding_near_duplicates(emb, threshold=0.95).collect()}
    approx = {(r["a"], r["b"]) for r in
              dedup.embedding_near_duplicates_ivf(
                  emb, threshold=0.95, n_centroids=8).collect()}
    assert approx <= exact
    assert len(exact) >= 30
    assert len(approx) >= 0.85 * len(exact), (len(approx), len(exact))


def test_embedding_ivf_plan_has_no_nested_loop(registry):
    plan = dedup.embedding_near_duplicates_ivf(
        registry.table("embeddings"), threshold=0.9
    )._jdf.queryExecution().executedPlan().toString()
    assert "NestedLoop" not in plan and "CartesianProduct" not in plan


def test_semdedup_keep_rule(spark):
    """SemDeDup semantics pinned on a hand-built corpus: of a duplicate
    pair, the member with the LOWER centroid similarity survives and
    its twin is pruned; non-duplicated members all survive; rank 1 (the
    farthest-out member) is never pruned."""
    import numpy as np

    rng = np.random.RandomState(7)
    rows, vid = [], 0
    planted = []
    for _ in range(10):
        base = rng.randn(32); base /= np.linalg.norm(base)
        twin = base + 0.02 * rng.randn(32); twin /= np.linalg.norm(twin)
        rows.append((vid, [float(x) for x in base]))
        rows.append((vid + 1, [float(x) for x in twin]))
        planted.append((vid, vid + 1)); vid += 2
    for _ in range(40):
        v = rng.randn(32); v /= np.linalg.norm(v)
        rows.append((vid, [float(x) for x in v])); vid += 1
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = dedup.semdedup(emb, threshold=0.95, n_centroids=4).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert len(by_id) == 60  # one row per document
    n_pruned = 0
    for a, b in planted:
        ra, rb = by_id[a], by_id[b]
        if ra["cluster_id"] != rb["cluster_id"]:
            continue  # straddles a boundary: both honestly kept
        n_pruned += 1
        keeper, pruned = (
            (ra, rb) if ra["centroid_sim"] < rb["centroid_sim"] else (rb, ra)
        )
        assert keeper["keep"] and not pruned["keep"], (a, b)
        assert keeper["rank"] < pruned["rank"]
    assert n_pruned >= 8  # tight twins rarely straddle
    for r in out:
        if r["rank"] == 1:
            assert r["keep"]


def test_semdedup_salt_bounds_cells(spark):
    """max_cluster salts oversized clusters: with a cap of 1 every salt
    cell has <= ~1 member in expectation, so (a) nothing is ever
    compared across cells that hash apart, and (b) the per-cell rank
    never exceeds the actual cell population — the bounded-pairs
    guarantee the 100 TB posture rests on."""
    import numpy as np

    rng = np.random.RandomState(3)
    rows = []
    for vid in range(50):
        v = rng.randn(16); v /= np.linalg.norm(v)
        rows.append((vid, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    capped = dedup.semdedup(
        emb, threshold=0.0, n_centroids=2, max_cluster=5
    ).collect()
    # threshold 0.0 prunes EVERYTHING except each cell's rank 1: the
    # number of keepers equals the number of (cluster, salt) cells
    keepers = [r for r in capped if r["keep"]]
    assert all(r["rank"] == 1 for r in keepers)
    # cap 5 over 50 rows in 2 clusters -> ~ceil(n_c/5) cells per cluster
    assert 8 <= len(keepers) <= 12, len(keepers)
    assert max(r["rank"] for r in capped) <= 15  # no unsalted 25-deep cell


def test_duplicated_char_spans(registry, duck):
    df = dedup.duplicated_char_spans(registry.table("documents"), k=32)
    assert_matches_oracle(df, duck, oracle.duplicated_char_spans_sql(k=32))
    assert df.count() > 0


def test_duplicated_char_spans_exact_union(spark):
    """Two docs share one 40-char substring; with k=32 the duplicated
    windows union to exactly those 40 characters in each doc (first
    window contributes k, each of the 8 overlapping successors +1)."""
    shared = "0123456789abcdefghijklmnopqrstuvwxyzABCD"  # 40 chars
    assert len(shared) == 40
    docs = spark.createDataFrame(
        [
            (1, "qqqqqqqqqqqqqqq" + shared + "rrrrrrrrrrrrrrr"),
            (2, "sssssssssssssss" + shared + "ttttttttttttttt"),
            (3, "no overlap with anything else in this tiny corpus at all"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: (r["n_dup_positions"], r["covered_chars"])
        for r in dedup.duplicated_char_spans(docs, k=32).collect()
    }
    assert got == {1: (9, 40), 2: (9, 40)}


def test_dedup_paragraphs_first_occurrence_and_reassembly(spark):
    from project_cortex_spark.operators.dedup import dedup_paragraphs

    boiler = "subscribe to our newsletter for updates"
    docs = spark.createDataFrame(
        [
            (1, f"alpha unique paragraph one\n\n{boiler}\n\nok"),
            (2, f"{boiler}\n\nbeta distinct content here"),
            (3, f"{boiler}"),
        ],
        ["doc_id", "text"],
    )
    got = {
        r["doc_id"]: r
        for r in dedup_paragraphs(docs, min_chars=20).collect()
    }
    # doc 1 holds the first occurrence: untouched ("ok" is short — kept)
    assert got[1]["cleaned_text"] == f"alpha unique paragraph one\n\n{boiler}\n\nok"
    assert got[1]["n_dropped"] == 0
    # docs 2 and 3 lose the boilerplate; doc 3 loses everything
    assert got[2]["cleaned_text"] == "beta distinct content here"
    assert got[2]["n_dropped"] == 1
    assert got[3]["cleaned_text"] == "" and got[3]["n_dropped"] == 1
    # corpus-wide: the boilerplate paragraph survives exactly once
    all_text = "\n\n".join(r["cleaned_text"] for r in got.values())
    assert all_text.count(boiler) == 1


def test_dedup_paragraphs_short_fragments_kept_everywhere(spark):
    from project_cortex_spark.operators.dedup import dedup_paragraphs

    docs = spark.createDataFrame(
        [(1, "Thanks!\n\nlong enough paragraph aaa"),
         (2, "Thanks!\n\nlong enough paragraph bbb")],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in dedup_paragraphs(docs).collect()}
    assert got[1]["n_dropped"] == 0 and got[2]["n_dropped"] == 0
    assert got[2]["cleaned_text"].startswith("Thanks!")


def test_dedup_paragraphs_matches_oracle(registry, duck):
    from project_cortex_spark import oracle
    from project_cortex_spark.operators.dedup import dedup_paragraphs
    from tests.conftest import assert_matches_oracle

    assert_matches_oracle(
        dedup_paragraphs(registry.table("documents")),
        duck,
        oracle.dedup_paragraphs_sql(),
    )


def test_unicode_nfc_groups_catch_composition_variants(spark):
    from project_cortex_spark.operators.dedup import (
        exact_duplicate_groups,
        unicode_duplicate_groups,
    )

    rows = [
        (0, "caf\u00e9 menu"),      # precomposed
        (1, "cafe\u0301 menu"),     # e + combining acute
        (2, "caf\u00e9 menu"),      # byte-identical to 0
        (3, "unrelated text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.doc_id, r.group_size, r.keep)
        for r in unicode_duplicate_groups(df).collect()
    }
    assert got == {(0, 3, True), (1, 3, False), (2, 3, False)}
    # byte-level dedup (no token normalization) misses the combining form
    raw = {
        r.doc_id
        for r in exact_duplicate_groups(
            df, normalize=False
        ).collect()
    }
    assert raw == {0, 2}


def test_unicode_nfc_null_text_is_dropped(spark):
    from project_cortex_spark.operators.dedup import unicode_duplicate_groups

    df = spark.createDataFrame(
        [(0, None), (1, None), (2, "x")], "doc_id long, text string"
    )
    # md5(NULL) is NULL in both engines; NULL hashes never group
    assert unicode_duplicate_groups(df).count() == 0


def test_winnowing_guarantee_and_oracle(spark, registry, duck):
    from project_cortex_spark import oracle
    from project_cortex_spark.operators.dedup import winnowing_near_duplicates

    from .conftest import assert_matches_oracle

    df = winnowing_near_duplicates(
        registry.table("documents"), k=8, w=4, threshold=0.5, max_df=50
    )
    assert_matches_oracle(
        df, duck,
        oracle.winnowing_pairs_sql(k=8, w=4, threshold=0.5, max_df=50),
    )


def test_winnowing_detects_shared_substring(spark):
    """The MOSS guarantee: a shared substring of length >= k+w-1 chars
    yields at least one shared fingerprint — two docs sharing a long
    passage pair up even when the rest differs completely."""
    from project_cortex_spark.operators.dedup import (
        winnowing_fingerprints,
        winnowing_near_duplicates,
    )

    shared = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (0, f"alpha beta {shared} gamma delta"),
            (1, f"totally different prologue {shared} and epilogue"),
            (2, "no overlap here at all just unrelated words entirely"),
        ],
        "doc_id long, text string",
    )
    fp = winnowing_fingerprints(docs)
    by_doc = {}
    for r in fp.collect():
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[0] & by_doc[1], "shared passage must share fingerprints"
    pairs = winnowing_near_duplicates(
        docs, threshold=0.3, max_df=50
    ).collect()
    assert {(p.doc_a, p.doc_b) for p in pairs} == {(0, 1)}


def test_winnowing_short_doc_degrades_to_min(spark):
    from project_cortex_spark.operators.dedup import winnowing_fingerprints

    docs = spark.createDataFrame(
        [(0, "tiny"), (1, "")], "doc_id long, text string"
    )
    rows = winnowing_fingerprints(docs).collect()
    # 'tiny' has no 8-gram -> no fingerprints; '' likewise
    assert rows == []


def test_winnowing_fractional_df_cap_survives_replication(spark):
    """The sf1 lesson as a unit contract: with an absolute cap, heavy
    replication silently empties the pair set; a fractional cap scales
    with the corpus and keeps finding the duplicates."""
    from project_cortex_spark.operators.dedup import winnowing_near_duplicates

    shared = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, f"prefix {i % 3} {shared} suffix {i % 3}") for i in range(12)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # every fingerprint of the shared passage has df=12 > 5: absolute
    # cap of 5 drops them all
    none = winnowing_near_duplicates(
        docs, threshold=0.3, max_df=5
    ).count()
    assert none == 0
    # fractional cap (100% of corpus) keeps them; the 12 docs pair up
    some = winnowing_near_duplicates(
        docs, threshold=0.3, max_df=5, max_df_frac=1.0
    ).count()
    assert some > 0


def test_dedup_keep_best_prefers_priority_over_min_id(spark):
    """Three copies of one document: the best-priority copy wins even
    though it has the LARGEST id — the case min-id dedup gets wrong."""
    from project_cortex_spark.operators.dedup import dedup_keep_best

    rows = [
        (1, "same text here", 5),
        (2, "same text here", 3),
        (9, "same text here", 1),  # best priority, biggest id
        (4, "unique text", 2),     # no duplicates -> not in audit view
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string, priority bigint")
    out = dedup_keep_best(df).collect()
    assert len(out) == 1
    assert out[0].kept_id == 9
    assert out[0].kept_priority == 1
    assert out[0].n_dups == 3


def test_substring_rewrite_cuts_duplicate_keeps_canonical(spark):
    from project_cortex_spark.operators.dedup import exact_substring_rewrite

    docs = spark.createDataFrame(
        [
            (1, "AAAABBBBCCCCDDDD and some unique tail one"),
            (2, "xxxx AAAABBBBCCCCDDDD yyyy unique middle"),
            (3, "short"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in exact_substring_rewrite(docs, k=16).collect()}
    assert len(out) == 3
    # canonical (minimum doc) copy is untouched
    assert out[1].removed_chars == 0
    assert out[1].cleaned_text == "AAAABBBBCCCCDDDD and some unique tail one"
    # doc 2 loses the shared block; the two matching 16-grams (at the
    # block and one char later, absorbing the trailing space) merge to
    # one 17-char span
    assert out[2].cleaned_text == "xxxx yyyy unique middle"
    assert out[2].removed_chars == 17
    assert out[2].n_cut_spans == 1
    # shorter than k: passes through whole
    assert out[3].cleaned_text == "short"
    assert out[3].removed_chars == 0


def test_substring_rewrite_merges_disjoint_spans(spark):
    from project_cortex_spark.operators.dedup import exact_substring_rewrite

    shared1 = "0123456789abcdef"
    shared2 = "ghijklmnopqrstuv"
    docs = spark.createDataFrame(
        [
            (1, f"{shared1} |unrelated| {shared2}"),
            (2, f"A {shared1} BBB {shared2} C"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in exact_substring_rewrite(docs, k=16).collect()}
    assert out[1].removed_chars == 0
    assert out[2].n_cut_spans == 2
    # each shared block's boundary windows also match (both docs have
    # "...def " and " ghi..." with the same adjoining space), so the
    # cuts absorb one space on the shared side of each block
    assert out[2].cleaned_text == "A BBB C"
    assert out[2].removed_chars == 34


def test_substring_rewrite_matches_oracle(registry, duck):
    from project_cortex_spark import oracle
    from project_cortex_spark.operators.dedup import exact_substring_rewrite

    df = exact_substring_rewrite(registry.table("documents"), k=32)
    assert_matches_oracle(df, duck, oracle.exact_substring_rewrite_sql(k=32))


def test_substring_rewrite_null_empty_and_identical_docs(spark):
    from project_cortex_spark.operators.dedup import exact_substring_rewrite

    docs = spark.createDataFrame(
        [
            (1, None),
            (2, ""),
            (3, "AAAABBBBCCCCDDDDEEEE"),
            (4, "AAAABBBBCCCCDDDDEEEE"),
        ],
        "doc_id bigint, text string",
    )
    out = {r.doc_id: r for r in exact_substring_rewrite(docs, k=16).collect()}
    # null text passes through as null (no crash, no span)
    assert out[1].cleaned_text is None and out[1].n_cut_spans == 0
    assert out[2].cleaned_text == "" and out[2].removed_chars == 0
    # identical docs: canonical (min id) kept whole, the other fully cut
    assert out[3].cleaned_text == "AAAABBBBCCCCDDDDEEEE"
    assert out[4].cleaned_text == "" and out[4].removed_chars == 20


# --- prefix-filtering all-pairs (PPJoin) ---


def test_ppjoin_matches_unfiltered_exact_join(spark):
    """Lossless pruning: ppjoin == the uncapped shared-shingle exact
    join on a corpus with near-dups, disjoint docs, and a stop-shingle
    shared by everything (the prefix filter's worst enemy)."""
    base = "the quick brown fox jumps over the lazy dog "
    rows = []
    for i in range(30):
        # pairs 2i/2i+1 share most text; every doc shares `base`
        rows.append((2 * i, base + f"uniq{i} alpha beta gamma delta"))
        rows.append((2 * i + 1, base + f"uniq{i} alpha beta gamma epsilon"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    want = {
        (r["a"], r["b"], round(r["jaccard"], 9))
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    got = {
        (r["a"], r["b"], round(r["jaccard"], 9))
        for r in dedup.ppjoin_pairs(docs, threshold=0.5).collect()
    }
    assert got == want
    assert got  # the fixture really produces pairs


def test_ppjoin_threshold_boundary_and_empty(spark):
    # identical docs -> jaccard exactly 1.0 at threshold 1.0
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d e"), (3, "x y z w v")],
        ["doc_id", "text"],
    )
    rows = dedup.ppjoin_pairs(docs, threshold=1.0).collect()
    assert [(r["a"], r["b"], r["jaccard"]) for r in rows] == [(1, 2, 1.0)]
    # no qualifying pair -> empty
    assert dedup.ppjoin_pairs(docs, threshold=0.9).count() == 1  # only the dup
    docs2 = spark.createDataFrame(
        [(1, "a b c d e"), (2, "p q r s t")], ["doc_id", "text"]
    )
    assert dedup.ppjoin_pairs(docs2, threshold=0.3).count() == 0


def test_ppjoin_prefix_excludes_hot_shingles(spark):
    """The join key weight of a stop-shingle must be ZERO: it sorts
    last in every doc's (df, sh) order and never enters a prefix when
    docs have enough rare shingles."""
    # every doc: 6 unique shingle-producing words + the same hot tail
    rows = [
        (i, f"u{i}a u{i}b u{i}c u{i}d u{i}e u{i}f common common common")
        for i in range(10)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    sh = dedup.shingle_frame(docs, shingle_n=3).cache()
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("_df"))
    from pyspark.sql import Window

    wpos = Window.partitionBy("doc_id").orderBy("_df", "sh")
    wdoc = Window.partitionBy("doc_id")
    pos = (
        sh.join(dfreq, "sh")
        .withColumn("pos", F.row_number().over(wpos))
        .withColumn("n", F.count(F.lit(1)).over(wdoc))
    )
    pref = pos.filter(
        F.col("pos") <= F.col("n") - F.ceil(F.lit(0.5) * F.col("n")) + 1
    )
    hot = pref.join(dfreq.filter(F.col("_df") >= 10).select("sh"), "sh")
    assert hot.count() == 0  # the shared shingle is in no prefix
    assert dedup.ppjoin_pairs(docs, threshold=0.5).count() == 0


def test_ppjoin_degenerate_inputs(spark):
    from project_cortex_spark.operators.dedup import ppjoin_pairs

    # single doc: no pairs; empty corpus: no pairs; doc below shingle_n
    one = spark.createDataFrame([(1, "a b c d")], ["doc_id", "text"])
    assert ppjoin_pairs(one, threshold=0.5).count() == 0
    short = spark.createDataFrame(
        [(1, "a"), (2, "a")], ["doc_id", "text"]
    )  # < shingle_n tokens -> no shingles -> absent (minhash contract)
    assert ppjoin_pairs(short, threshold=0.5).count() == 0


def test_ppjoin_float_ceil_boundary_threshold(spark):
    """ADVICE r7: thresholds whose double repr exceeds the rational
    (0.55*100 -> 55.000000000000007) used to (a) ceil the prefix bound
    one too high, hiding the only common shingle from the larger doc's
    prefix, and (b) reject the exact-boundary subset pair in the size
    filter (55 >= 55.000000000000007 is false). Fixture: A (55
    shingles) is a word-prefix of B (100 shingles), so jaccard is
    exactly 55/100 = 0.55 at threshold 0.55."""
    words_a = [f"w{i:03d}" for i in range(57)]  # 55 shingles
    words_b = words_a + [f"x{i:03d}" for i in range(45)]  # 100 shingles
    docs = spark.createDataFrame(
        [(1, " ".join(words_a)), (2, " ".join(words_b))],
        ["doc_id", "text"],
    )
    rows = dedup.ppjoin_pairs(docs, threshold=0.55).collect()
    assert [(r["a"], r["b"], round(r["jaccard"], 9)) for r in rows] == [
        (1, 2, 0.55)
    ]


def test_similar_pairs_auto_dispatch_both_shapes(spark):
    """The cost-based dispatcher (one df-histogram aggregate) picks the
    capped co-occurrence join on bounded-df corpora and ppjoin when
    stop-shingle mass exceeds the plain arm's cap, and the returned
    pairs equal the chosen arm's output in both regimes."""
    base = "the quick brown fox jumps over the lazy dog "
    rows = []
    for i in range(30):
        rows.append((2 * i, base + f"uniq{i} alpha beta gamma delta"))
        rows.append((2 * i + 1, base + f"uniq{i} alpha beta gamma epsilon"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    # bounded df: cap = max(100, 0.2*60) = 100 > every df -> capped arm
    assert dedup.similar_pairs_choice(docs) == "capped"
    got = {
        (r["a"], r["b"], round(r["jaccard"], 9))
        for r in dedup.similar_pairs_auto(docs, threshold=0.5).collect()
    }
    want = {
        (r["a"], r["b"], round(r["jaccard"], 9))
        for r in dedup.ngram_jaccard_pairs(
            docs, threshold=0.5, max_df=100, max_df_frac=0.2
        ).collect()
    }
    assert got == want and got

    # stop-shingle regime: cap 5 puts every base shingle (df=60) into
    # the heavy mass -> ppjoin arm, output = the uncapped exact join
    assert (
        dedup.similar_pairs_choice(docs, max_df=5, max_df_frac=0.05)
        == "ppjoin"
    )
    got2 = {
        (r["a"], r["b"], round(r["jaccard"], 9))
        for r in dedup.similar_pairs_auto(
            docs, threshold=0.5, max_df=5, max_df_frac=0.05
        ).collect()
    }
    want2 = {
        (r["a"], r["b"], round(r["jaccard"], 9))
        for r in dedup.ppjoin_pairs(docs, threshold=0.5).collect()
    }
    assert got2 == want2 and got2


def test_containment_pairs_detects_quotes_jaccard_misses(spark):
    """A short doc quoted whole inside a long one: containment(a in b)
    is exactly 1.0 while jaccard is |A|/|B| — below any useful
    symmetric threshold. Both directions come from one co-occurrence
    row; scores are exact fractions."""
    words_a = [f"w{i}" for i in range(10)]  # 8 shingles
    words_b = words_a + [f"x{i}" for i in range(40)]  # 48 shingles
    docs = spark.createDataFrame(
        [(1, " ".join(words_a)), (2, " ".join(words_b)),
         (3, " ".join(words_a))],  # 3 == 1 exactly
        ["doc_id", "text"],
    )
    got = {
        (r["a"], r["b"]): round(r["containment"], 9)
        for r in dedup.containment_pairs(docs, threshold=0.6).collect()
    }
    assert got[(1, 2)] == 1.0 and got[(3, 2)] == 1.0
    assert got[(1, 3)] == 1.0 and got[(3, 1)] == 1.0
    assert (2, 1) not in got  # 8/48 back-containment, below threshold
    # the symmetric measure misses the quote pair entirely
    jac = {
        (r["a"], r["b"])
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert (1, 2) not in jac and (1, 3) in jac


def test_edit_distance_pairs_oracle(registry, duck):
    df = dedup.edit_distance_pairs(
        registry.table("documents"), k=2, key_len=32
    )
    assert_matches_oracle(
        df, duck, oracle.edit_distance_pairs_sql(k=2, key_len=32)
    )


def _brute_ed_pairs(texts, k, key_len):
    """Reference banded-DP Levenshtein over all pairs."""

    def ed(a, b):
        prev = list(range(len(b) + 1))
        for i in range(1, len(a) + 1):
            cur = [i] + [0] * len(b)
            for j in range(1, len(b) + 1):
                cur[j] = min(
                    prev[j] + 1,
                    cur[j - 1] + 1,
                    prev[j - 1] + (a[i - 1] != b[j - 1]),
                )
            prev = cur
        return prev[-1]

    keys = {
        i: t[:key_len].lower() for i, t in texts.items() if len(t) >= key_len
    }
    out = {}
    ids = sorted(keys)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            d = ed(keys[ids[x]], keys[ids[y]])
            if d <= k:
                out[(ids[x], ids[y])] = d
    return out


def test_edit_distance_pairs_planted_vs_brute(spark):
    """Planted mutations around every PassJoin blind spot candidate:
    edits ON segment boundaries, k edits in one segment (shift the
    rest), edits spread one-per-segment, pure inserts/deletes (offset
    drift), and beyond-k controls — engine must equal brute force."""
    base = "the quick brown fox jumps over x"  # exactly 32 chars
    assert len(base) == 32
    texts = {
        1: base,
        2: base,  # exact dup
        3: "The quick brown fox jumps over x",  # case-only => ed 0
        4: "xhe quick brown fox jumps over x",  # sub at pos 0
        5: "the quick brown fix jumps over x",  # sub mid
        6: "the quick brown fox jumps over Z",  # sub at last pos
        # on a fixed-width key an indel also shifts the tail across the
        # key boundary, so a within-k indel case needs text BEYOND the
        # key to absorb the shift: insert 't' at head -> key drops the
        # trailing 'x' (ed 2); delete 't' at head -> key gains a ' '
        7: "tthe quick brown fox jumps over xx",  # 1 insert + shift
        8: "he quick brown fox jumps over x and",  # 1 delete + shift
        9: "the quick brawn fox jamps over x",  # 2 subs, 2 segments
        10: "thequick brown foxjumps over xAB",  # 2 deletes interior
        11: "the quack brewn fax jomps ever x",  # ed 5 control
        12: "completely unrelated text here!!",  # far control
        13: "short",  # below key_len: excluded
    }
    docs = spark.createDataFrame(
        sorted(texts.items()), ["doc_id", "text"]
    )
    got = {
        (r["doc_id_a"], r["doc_id_b"]): r["edit_distance"]
        for r in dedup.edit_distance_pairs(
            docs, k=2, key_len=32
        ).collect()
    }
    want = _brute_ed_pairs(texts, 2, 32)
    assert got == want
    assert want[(1, 4)] == 1 and want[(1, 7)] == 2 and want[(1, 8)] == 2
    assert want[(1, 9)] == 2 and (1, 2) in want and (1, 3) in want
    assert (1, 10) not in want  # 2 interior deletes + shifted tail: ed 4
    assert (1, 11) not in want and (1, 12) not in want
    assert not any(13 in p for p in want)  # below key_len: excluded


def test_edit_distance_pairs_fuzz_vs_brute(spark):
    """Random small-alphabet fuzz: mutated copies at random positions
    (subs/inserts/deletes), engine pair set == brute force each time."""
    import random

    rng = random.Random(0xED9)
    alpha = "abcd"
    for trial in range(3):
        originals = [
            "".join(rng.choice(alpha) for _ in range(40)) for _ in range(6)
        ]
        texts = {}
        nid = 0
        for o in originals:
            for _ in range(3):
                s = list(o)
                for _ in range(rng.randrange(0, 4)):
                    op = rng.choice("sid")
                    p = rng.randrange(len(s))
                    if op == "s":
                        s[p] = rng.choice(alpha)
                    elif op == "i":
                        s.insert(p, rng.choice(alpha))
                    elif len(s) > 33:
                        del s[p]
                texts[nid] = "".join(s)
                nid += 1
        docs = spark.createDataFrame(
            sorted(texts.items()), ["doc_id", "text"]
        )
        got = {
            (r["doc_id_a"], r["doc_id_b"]): r["edit_distance"]
            for r in dedup.edit_distance_pairs(
                docs, k=2, key_len=32
            ).collect()
        }
        assert got == _brute_ed_pairs(texts, 2, 32), trial
