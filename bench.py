"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default: the sf0.1 test data) on local[$SPARK_GRAFT_CPUS] and prints THREE
JSON lines: first the full record {"metric": ..., "value": N, "unit":
"sec", "queries": {...}, "sf": ...}, then the per-query seconds
{"metric": "bench_queries", ...}, then a compact (<1 KB) summary as
the LAST line — the driver's tail capture truncates the full record's
head (BENCH_r5-r7 all landed "parsed": null), so the parseable line must
be small and last (VERDICT r7 item 3).

When the host-noise canary would mark the window noisy, the whole suite
re-runs (up to 2 retries), per-query minima are kept across windows, and
every window's canary reading is recorded (VERDICT r7 item 2) — noise
only ever ADDS time, so cross-window minima are always at least as good
as the quietest single window.

Each query runs once as warm-up (JVM/codegen warmup, file listing —
costs a long-lived cluster amortizes), then ``BENCH_RUNS`` timed runs;
the reported value is the MINIMUM of the timed runs. Min-of-N is the
right estimator here: the container shares a host, and wall-clock noise
(steal, IO contention) only ever adds time — the min is the closest
observable to the true plan cost. value = sum of per-query minima.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod
from project_cortex_spark.session import get_spark

# Headline set: one per operator family (DSL scan/join/agg incl. rollup,
# KNN exact + IVF ANN, FTS boolean+phrase composite, graph BFS +
# implements-inference, MinHash dedup, text analysis, event windows +
# sessions, build pipeline end-to-end). Names match queries() keys.
# Round-3 additions measured separately so HEADLINE stays comparable
# round-over-round (VERDICT r2 item 7). The streaming twins (r4,
# VERDICT r3 item 4) carry a fixed micro-batch setup cost on top of
# plan cost — tracked here so state-size/plan regressions show up
# round-over-round, kept out of HEADLINE so they don't drown it.
EXTENDED = [
    "dsl_tpch_q3",
    "dsl_tpch_q5",
    "join_salted",
    "corpus_importance_sample",
    "corpus_contamination",
    "corpus_shuffle",
    "stream_interval_join",
    "stream_asof_join",
    "stream_dedup",
    "stream_rollup",
    # r4 additions: the non-trivial new plans (wedge closure, shingle-df
    # join, one-shuffle funnel fold, SEMI join, PQ encode + ADC scan)
    "graph_triangles",
    "graph_pagerank",
    "dedup_ngram_spans",
    "events_funnel",
    "dsl_tpch_q4",
    "knn_recall_pq",
    "dedup_prune",
    "corpus_curate",
    "corpus_token_budget",
    "events_anomaly",
    # late-r4 additions
    "knn_mmr",  # exact candidate cut + applyInPandas greedy rerank
    "graph_kcore",  # 4 peel rounds: degree agg + broadcast semi joins
    "knn_topk_int8",  # dequantize-on-the-fly scan, fully oracle-gated
    "dedup_paragraphs",  # paragraph-md5 window + ordered reassembly
    "events_gapfill",  # dense grid from bounds frames + forward fill
    # final-r6 additions: the new non-trivial plans
    "knn_binary_rerank",  # XOR+popcount candidate cut + exact rerank
    "search_hybrid_rrf",  # two distributed top-N lists + rank fusion
    "text_bpe_train",  # 12 iterative rounds: pair-count agg + argmax
    "knn_join_binary",  # broadcast query codes vs corpus-code scan
    "embed_covariance",  # mapInPandas Gram partials + exploded reduce
    # late-r6 additions: sketches + layout/plan techniques
    "events_heavy_hitters",  # CMS cells (bounded agg) + broadcast min-join
    "stats_hll_distinct",  # 256-register HLL, integer harmonic sum
    "stats_exact_quantiles",  # two-pass rank selection per group
    "stats_kmv_overlap",  # bottom-k union sample per group pair
    "layout_zorder",  # morton interleave + bucket envelope agg
    "join_bloom_prefilter",  # 3 broadcast semi-joins ahead of the join
    "corpus_temperature_mix",  # sqrt-quota window selection
    # r7 additions: the new non-trivial plans
    "dedup_ppjoin",  # prefix-filter all-pairs: cap-free exact jaccard
    "dedup_substring_rewrite",  # per-char explode + interval merge + fold
    "graph_connected_components",  # large-star/small-star alternation
    "corpus_cluster_balance",  # replayable k-means + quota window
    # r8 additions
    "dedup_pairs_auto",  # df-histogram dispatch + the chosen pair join
    "graph_cycle_paths",  # path-carrying BFS with per-level min canon
    # r9 additions
    "dedup_semantic",  # assign + salted within-cluster prune rule
    "dsl_window_topn",  # DSL windows clause: fused rank pair + qualify
    "events_ks_drift",  # bounds broadcast + cells monoid + ECDF window
    # r9 continuation additions
    "graph_betweenness",  # Brandes fwd sigma BFS + e6-quantized bwd fold
    "dedup_edit_distance",  # PassJoin segment equi-join + lev verify
    "events_seasonal",  # cell-frame centered MA + broadcast phase means
    "graph_communities_lpa",  # synchronous min-tie label propagation rounds
]

HEADLINE = [
    "dsl_filter_bool_tree",
    "dsl_revenue_by_nation",
    "dsl_agg_full",
    "agg_rollup",
    "knn_topk",
    "knn_join",
    "knn_join_ivf",
    "fts_composite",
    "graph_callees_d3",
    "graph_implements",
    "dedup_minhash_lsh",
    "dedup_simhash_banded",  # scale path: pigeonhole equi-join, not O(n^2)
    "dedup_embedding_lsh",  # scale path: multi-table sign-LSH + exact verify
    "text_quality",
    "text_token_stats",
    "text_lm_score",  # corpus-trained bigram LM: count joins at scale
    "corpus_pack_sequences",  # single-shuffle training-sequence layout
    "events_windowed_agg",
    "events_sessionize",
    "pipeline_apply_changeset",
]


def _big_unstable_frac(
    times: dict[str, float], unstable: dict[str, float]
) -> float:
    """Fraction of substantial (>0.5 s) queries whose run batch saw
    >50% scatter — the suite-wide contention signal the before/after
    canary cannot see."""
    big = [n for n, t in times.items() if t > 0.5]
    if not big:
        return 0.0
    return sum(1 for n in big if n in unstable) / len(big)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)
    spark = get_spark(app_name="cortex-bench")

    # 5 timed runs: this host shows ±40% run-to-run contention noise (the
    # r2 "regression" was exactly this); min-of-5 tightens the estimator
    # and the JSON reports runs/estimator so rounds stay comparable
    n_runs = max(1, int(os.environ.get("BENCH_RUNS", "5")))
    qs = entrymod.queries()

    # Host-noise canary (VERDICT r6 item 3): the same fixed cheap query
    # timed in a batch before and after the whole suite. Two signals,
    # chosen so JVM warm-up (which only ever SPEEDS the canary up across
    # the suite — codegen JIT, parquet footer caches) cannot trip them:
    #   * within-batch dispersion ((max-min)/min over consecutive runs
    #     on an already-warmed canary) — CPU steal / IO contention shows
    #     up here on any single batch;
    #   * before->after SLOWDOWN of the batch minimum — contention that
    #     grew during the window; a speedup is warm-up and is ignored.
    # The r6 BENCH-of-record manufactured phantom regressions that took
    # pinned-binary forensics to dismiss; now the record adjudicates
    # itself via noisy=true.
    # ~1.3 s at sf0.1: heavy enough that a GC pause or scheduler blip
    # (~50 ms) reads as ~4%, not the 50% it reads on a 0.1 s query —
    # sub-second canaries false-alarmed every quiet run
    CANARY = "text_lm_score"

    def canary_run() -> tuple[float, float]:
        # 8 warm-ups (not 1): measured at sf0.1, the canary's cold curve
        # (codegen JIT, parquet footer + page cache) is 6.2s -> 0.20s and
        # only stabilizes around run 9; timing before stabilization reads
        # the warm-up slope as phantom dispersion.
        fn = qs[CANARY]
        for _ in range(8):
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        samples = []
        for _ in range(max(n_runs, 5)):
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            samples.append(time.time() - t0)
        # dispersion over the batch TAIL (last 3): by then the JVM's
        # residual warm-up slope has flattened (a monotone-descending
        # batch reads ~0, measured 5%), while steal/IO contention shows
        # as scatter wherever it lands; a spike in the early samples
        # cannot corrupt the min-of-N estimator anyway
        tail = samples[-3:]
        return min(samples), (max(tail) - min(tail)) / min(tail)

    # End-to-end indexing throughput — the reference's headline number
    # (~1,000 files/s: parse -> chunk -> embed -> store,
    # BASELINE.md "Initial indexing throughput"). Same composite here:
    # chunk every document (3 tiers), hash-embed every chunk
    # (Arrow-batched), write the index to parquet. Measured as docs/s
    # so the two engines' numbers are directly comparable at the same
    # scale factor.
    import shutil
    import tempfile

    from project_cortex_spark.operators.search import build_search_index
    from project_cortex_spark.sources.registry import load_tables

    reg = load_tables(spark, sf_dir)
    docs = reg.table("documents")
    n_docs = docs.count()

    def measure_indexing() -> dict:
        idx_dir = tempfile.mkdtemp(prefix="bench_index_")
        try:
            best_idx = float("inf")
            n_chunks = 0
            for _ in range(max(2, n_runs // 2)):
                t0 = time.time()
                idx = build_search_index(docs, dim=64)
                idx.write.mode("overwrite").parquet(os.path.join(idx_dir, "idx"))
                best_idx = min(best_idx, time.time() - t0)
            n_chunks = spark.read.parquet(os.path.join(idx_dir, "idx")).count()
        finally:
            shutil.rmtree(idx_dir, ignore_errors=True)
        return {
            "docs": n_docs,
            "chunks": n_chunks,
            "sec": round(best_idx, 3),
            "docs_per_sec": round(n_docs / best_idx, 1),
        }

    # Batched-throughput section (VERDICT r4 item 2): the reference's
    # per-query numbers (BASELINE.md rows: DSL <10 ms agg, KNN 10-20 ms,
    # FTS 2-8 ms, graph 1-20 ms) are single-request latencies on a
    # warm single-process engine; Spark's analogue of "one request" at
    # scale is a BATCH of requests amortizing one job. Each family runs
    # N queries as ONE job (broadcast param/query-side against a single
    # scan) and reports amortized per-query ms + the ratio vs the
    # reference's published upper bound — this is the measured form of
    # the 2x gate, complementing the per-job headline latencies above.
    from project_cortex_spark.operators import fts as fts_mod
    from project_cortex_spark.operators import graph as graph_mod
    from project_cortex_spark.operators import knn as knn_mod

    N_Q = 100

    def timed(df_fn) -> float:
        df_fn().write.format("noop").mode("overwrite").save()  # warm-up
        best = float("inf")
        for _ in range(n_runs):
            t0 = time.time()
            df_fn().write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        return best

    li = reg.table("lineitem")
    emb = reg.table("embeddings")

    # DSL: 100 parameterized Q6-shape revenue aggregates, one scan
    params = spark.createDataFrame(
        [
            (i, 0.01 + (i % 9) * 0.01, 10 + (i % 15))
            for i in range(N_Q)
        ],
        ["param_id", "disc_lo", "qty_cap"],
    )

    def dsl_batch():
        import pyspark.sql.functions as FF

        return (
            li.join(
                FF.broadcast(params),
                (li["l_discount"] >= params["disc_lo"])
                & (li["l_discount"] <= params["disc_lo"] + 0.02)
                & (li["l_quantity"] < params["qty_cap"]),
            )
            .groupBy("param_id")
            .agg(FF.sum(li["l_extendedprice"] * li["l_discount"]).alias("revenue"))
        )

    # KNN: 100 query vectors, map-side partial top-k per Arrow batch
    # (knn_join ships the bounded query batch as a matrix). The timed
    # region INCLUDES knn_join's query-side collect job each run — a
    # conservative choice: the reference's per-query number also pays
    # query prep (its 50-100 ms embed step is excluded on both sides)
    knn_queries = (
        emb.filter(emb["vec_id"] < N_Q)
        .selectExpr("vec_id AS query_id", "embedding AS query_vec")
    )

    def knn_batch():
        return knn_mod.knn_join(knn_queries, emb, k=10)

    # FTS: 100 conjunctive 2-term queries over one posting scan
    # NOTE on density: the synthetic corpus has ~30 distinct words, each
    # in ~75% of documents — every possible conjunction matches most of
    # the corpus, i.e. EVERY query here is FTS5's complex/large-result
    # class (<10 ms bound, CLAUDE.md:211), not its 0-5 ms point-lookup
    # class. The ratio below still uses the stricter 8 ms "typical"
    # bound.
    vocab = [
        "join", "hash", "row", "batch", "scan", "customer", "column",
        "filter", "small", "merge", "slow", "order", "vector", "line",
        "data", "table", "agg", "value", "key", "stream", "window",
        "spark", "group", "part", "big", "sort", "query", "fast",
    ]
    fts_queries = [
        (i, f"{vocab[i % len(vocab)]} {vocab[(i * 7 + 3) % len(vocab)]}")
        for i in range(N_Q)
        if vocab[i % len(vocab)] != vocab[(i * 7 + 3) % len(vocab)]
    ]
    # queries run against a STORED index (store_fts_index), matching the
    # reference's model: its 2-8 ms FTS5 latency is a lookup on a
    # maintained index table, not a re-tokenize of the corpus — index
    # CONSTRUCTION is what the indexing section above measures. Same
    # justification as the stored edge projection (SCALE.md r4 A/B).
    fts_store = os.path.join("spark-warehouse", "_bench_fts_index")
    fts_mod.store_fts_index(
        fts_mod.build_fts_index(
            reg.table("documents"), id_col="doc_id", text_col="text"
        ),
        fts_store,
    )
    fts_index = fts_mod.load_fts_index(
        spark, fts_store, reg.table("documents"), id_col="doc_id", text_col="text"
    )

    def fts_batch():
        return fts_mod.fts_search_batch(fts_index, fts_queries, limit=15)

    # Graph: 100-root depth-3 traversal, edges never shuffled
    edges = entrymod._order_edges(spark, sf_dir)
    roots = [
        int(r["src"])
        for r in edges.select("src").distinct().orderBy("src").limit(N_Q).collect()
    ]

    def graph_batch():
        return graph_mod.bfs_multi(edges, roots, depth=3)

    _FAMILIES = [
        ("dsl", dsl_batch, 10.0, "Files DSL aggregation <10 ms (CLAUDE.md:493-496)"),
        ("knn", knn_batch, 20.0, "vector KNN 10-20 ms (CLAUDE.md:1098)"),
        ("fts", fts_batch, 8.0, "FTS5 keyword 2-8 ms (CLAUDE.md:1099)"),
        ("graph", graph_batch, 20.0, "graph query 1-20 ms (CLAUDE.md:1100)"),
    ]

    def measure_throughput() -> dict[str, dict]:
        throughput: dict[str, dict] = {}
        for fam, fn, ref_ms, ref_src in _FAMILIES:
            n = N_Q if fam != "fts" else len(fts_queries)
            best = timed(fn)
            per_ms = best / n * 1000.0
            throughput[fam] = {
                "batch_sec": round(best, 3),
                "n_queries": n,
                "per_query_ms": round(per_ms, 3),
                "ref_ms": ref_ms,
                "ratio_vs_ref": round(per_ms / ref_ms, 3),
                "ref": ref_src,
            }
        return throughput

    # One measurement window = canary / headline / extended / indexing /
    # throughput / canary. Per-query dispersion record: the window
    # canary catches suite-level contention, but a TRANSIENT (GC storm,
    # one noisy neighbor burst) can inflate a single query's whole
    # min-of-N batch and read as a plan regression (the r7 forensics
    # case: join_bloom_prefilter 4.9 s in-suite vs 2.1 s isolated).
    def run_window() -> dict:
        unstable: dict[str, float] = {}

        def run_set(names: list[str]) -> dict[str, float]:
            times: dict[str, float] = {}
            for name in names:
                fn = qs[name]
                # warm-up: build + run once (JIT/codegen, file listing)
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                samples = []
                for _ in range(n_runs):
                    t0 = time.time()
                    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                    samples.append(time.time() - t0)
                times[name] = round(min(samples), 3)
                disp = (max(samples) - min(samples)) / max(min(samples), 1e-9)
                if disp > 0.5 and len(samples) >= 3:
                    unstable[name] = round(disp, 2)
            return times

        canary_before, disp_before = canary_run()
        times = run_set(HEADLINE)
        extended = run_set(EXTENDED)
        indexing = measure_indexing()
        throughput = measure_throughput()
        canary_after, disp_after = canary_run()
        # slowdown only: contention grew during the window; a speedup
        # is JVM/page-cache warm-up and expected
        canary_slowdown = max(
            0.0, (canary_after - canary_before) / canary_before
        )
        canary_dispersion = max(disp_before, disp_after)
        # threshold overrides exist for testing the retry path (force a
        # noisy window with BENCH_NOISY_DISPERSION=0) and for hosts
        # whose baseline scatter differs from this one's. Default 0.12
        # (r9, VERDICT r8 item 7): quiet windows on this host measure
        # dispersion ~0.086; the old 0.25 accepted windows up to ~1.9x
        # that (BENCH_r08 recorded one at 0.165), where sub-second
        # per-query deltas are noise-dominated. Retries are cheap
        # (3 max, cross-window minima merge), so the artifact-of-record
        # should be near-quiet by default.
        disp_thresh = float(os.environ.get("BENCH_NOISY_DISPERSION", "0.12"))
        slow_thresh = float(os.environ.get("BENCH_NOISY_SLOWDOWN", "0.15"))
        noisy = (
            canary_dispersion > disp_thresh
            or canary_slowdown > slow_thresh
            or _big_unstable_frac({**times, **extended}, unstable) > 0.3
        )
        return {
            "times": times,
            "extended": extended,
            "indexing": indexing,
            "throughput": throughput,
            "canary": {
                "query": CANARY,
                "before_sec": round(canary_before, 3),
                "after_sec": round(canary_after, 3),
                "dispersion": round(canary_dispersion, 3),
                "slowdown": round(canary_slowdown, 3),
                "runs": max(n_runs, 5),
            },
            "noisy": noisy,
            "unstable": unstable,
        }

    # Noisy-window auto-retry (VERDICT r7 item 2): when a window's
    # canary trips, re-run the whole suite (up to 2 retries). Noise only
    # ever ADDS wall-clock, so keeping per-query minima ACROSS windows
    # is always at least as good as the quietest single window; every
    # window's canary reading is recorded so a still-noisy record shows
    # the host never quieted rather than that we never looked.
    max_attempts = max(1, int(os.environ.get("BENCH_MAX_ATTEMPTS", "3")))
    windows: list[dict] = []
    for _attempt in range(max_attempts):
        windows.append(run_window())
        if not windows[-1]["noisy"]:
            break

    def _merge_min(key: str) -> dict[str, float]:
        merged: dict[str, float] = {}
        for w in windows:
            for name, t in w[key].items():
                merged[name] = min(t, merged.get(name, t))
        return merged

    times = _merge_min("times")
    extended = _merge_min("extended")
    indexing = min(windows, key=lambda w: w["indexing"]["sec"])["indexing"]
    throughput = {}
    for fam, _fn, ref_ms, ref_src in _FAMILIES:
        best_w = min(
            (w["throughput"][fam] for w in windows),
            key=lambda t: t["batch_sec"],
        )
        throughput[fam] = best_w
    # a query's merged number is its min across windows; flag it only if
    # EVERY window scattered (one quiet window = a clean measurement)
    unstable = {
        name: min(w["unstable"][name] for w in windows)
        for name in set.intersection(*(set(w["unstable"]) for w in windows))
    }
    # the merged record is noisy only if every attempt was — one quiet
    # window means every merged min is at least that window's value
    noisy = all(w["noisy"] for w in windows)
    canary = windows[-1]["canary"]

    out = {
        "metric": "headline-query wall time at sf (min of N warm runs, noop sink)",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "runs": n_runs,
        "estimator": "min",
        # value/queries cover the stable HEADLINE set only; new operators
        # land here so round-over-round deltas stay attributable
        "extended_queries": extended,
        # chunk+embed+write composite, comparable to the reference's
        # "~1,000 files/second" initial-indexing headline
        "indexing": indexing,
        # N queries per family as ONE batched job: amortized per-query
        # latency vs the reference's published per-request numbers —
        # the measured form of BASELINE.md's 2x throughput gate
        "throughput": throughput,
        # self-adjudication: same cheap query batched before and after
        # the suite. dispersion = worst (max-min)/min over a batch's
        # last-3 tail (steal/IO scatter on a warmed canary, insensitive
        # to the residual JIT slope); slowdown = how much
        # the batch minimum ROSE across the suite (growth of contention;
        # speedups are JVM warm-up and ignored). Either signal past its
        # threshold marks the window contended — treat per-query deltas
        # in a noisy record as unattributable. This is the LAST window's
        # reading; every window's is under "attempts".
        "canary": canary,
        # one entry per measurement window (1 unless the canary tripped;
        # then up to BENCH_MAX_ATTEMPTS) — a still-noisy record carries
        # the full evidence that the host never quieted
        "attempts": [
            {"canary": w["canary"], "noisy": w["noisy"]} for w in windows
        ],
        # merged-record noise flag: per-query values are minima across
        # all windows, so one quiet window makes the record quiet. The
        # per-window flag combines three signals: canary dispersion >
        # 0.25, canary slowdown > 0.15, or >30% of substantial (>0.5 s)
        # queries scattering >50% within their run batch (a transient
        # can sit between the canary's two batches and still pollute
        # half the suite — observed in r7).
        "noisy": noisy,
        # queries whose min-of-N batch saw >50% run-to-run scatter in
        # EVERY window: their numbers were measured under a transient —
        # re-measure in isolation before calling them regressions
        "unstable_queries": unstable,
    }
    print(json.dumps(out))

    # Per-query seconds (ms precision) on a line of their own: the full
    # record above is too long for a tail capture to keep whole.
    per_query = {
        "metric": "bench_queries",
        "unit": "sec",
        "sf": sf,
        "headline": times,
        "extended": extended,
    }
    print(json.dumps(per_query, separators=(",", ":")))

    # Compact (<1 KB) summary as the LAST line (VERDICT r7 item 3): the
    # driver's tail capture truncates the full record's head, leaving
    # "parsed": null three rounds running — this line is what it parses.
    compact = {
        "metric": "bench_summary",
        "value": round(sum(times.values()), 3),
        "unit": "sec",
        "sf": sf,
        "headline_s": round(sum(times.values()), 3),
        "dsl_ratio": throughput["dsl"]["ratio_vs_ref"],
        "knn_ratio": throughput["knn"]["ratio_vs_ref"],
        "fts_ratio": throughput["fts"]["ratio_vs_ref"],
        "graph_ratio": throughput["graph"]["ratio_vs_ref"],
        "docs_per_sec": indexing["docs_per_sec"],
        "canary_dispersion": canary["dispersion"],
        "noisy": noisy,
        "attempts": len(windows),
    }
    print(json.dumps(compact))


if __name__ == "__main__":
    main()
