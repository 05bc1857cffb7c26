"""Regenerate PLANS.md: formatted physical plans of representative
headline queries with what-to-look-for annotations.

Usage: python scripts/gen_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from project_cortex_spark.session import get_spark

PICKS = {
    "dsl_revenue_by_nation": "3-table join + agg: broadcast dims, partial aggs, pushed filters",
    "knn_topk": "exact KNN: narrow scan + codegen scoring + TakeOrderedAndProject (no global sort)",
    "dedup_simhash_banded": "exact pigeonhole banding: equi-join on band values, no nested loop",
    "graph_callees_d3": "depth-3 BFS, frontier on the driver: the result is a local relation; each level was one broadcast semi-join scan of the edges, no shuffle",
    "join_asof": "as-of join: ONE shuffle (union + window), no range probe",
    "events_sessionize": "gap sessions: single shuffle on user_id, window assembly",
    "pipeline_chunk_markdown": "structure-aware chunking: zero Exchange (narrow Arrow map)",
    "fts_composite": "FTS bool+phrase, one-pass compiler: ONE postings scan filtered to every leaf, ONE groupBy(doc_id) aggregate (BM25 sum over the positive leaves + bit_or of the leaf bits), then the payload join carrying the mask predicate and the phrase regex — no per-leaf subplans, joins, unions or anti-joins between posting sets (this registry query reads a live index, so df is one more aggregate over the same filtered postings, broadcast back, and dl joins from doc_stats; a stored index carries both in the posting row)",
    "corpus_pack_sequences": "sequence packing: EXACTLY ONE hash Exchange (writer shard) — no global sort",
    "text_lm_score": "bigram LM: two count aggregates with map-side partials, natural-key joins, 1-row broadcast vocab",
    "text_c4_clean": "C4 cleaning: zero Exchange — line rules are collection expressions at scan bandwidth",
    "embed_quantize": "int8 re-encode: zero Exchange, pure codegen projection",
    "graph_callees_cte": "native WITH RECURSIVE (UnionLoop): the declarative twin of the driver-frontier BFS",
    "dsl_tpch_q5": "six-way join chain from the JSON DSL: every dim broadcast at this SF (AQE re-plans at scale), no sort-merge",
    "join_salted": "skew-mitigated join: salt column on the probe side, replicated build side, salt dropped before the aggregate",
    "corpus_contamination": "near-dup decontamination: fan-out shingle projection, benchmark side broadcast — corpus never shuffles through the join",
    "corpus_shuffle": "seeded shard shuffle: ONE hash Exchange + within-shard sort, no rangepartitioning (no global sort)",
    "corpus_importance_sample": "quality-weighted sampling: zero Exchange — md5-bucket filter at scan bandwidth",
    "events_funnel": "3-step funnel: ONE shuffle (groupBy user) + JVM higher-order fold over sorted per-user arrays — no self-joins",
    "search_lexical_recall": "retrieval contract: broadcast query side vs corpus scan, map-side partial window top-1",
    "graph_triangles": "wedge closure: lazily checkpointed edge list feeding three join inputs; the wedge frame (quadratic in degree, not linear in edges) is repartitioned to ~5M rows/partition from the EXACT wedge count when that exceeds the session default, and the closure join is SHUFFLE-HASH (edge list builds, wedges STREAM — a sort-merge plan would sort the wedge frame, the dominant cost at sf1)",
    "graph_pagerank": "power iteration: plan shows only the final checkpointed RDD (the kernel's lazy localCheckpoint truncates lineage per step BY DESIGN — an un-truncated 5-step plan would be a 5-deep join tower); per step: |V|-row rank frame broadcast onto the stationary edges + one hash aggregate; N is observed by the node frame's eager checkpoint, no count job",
    "dedup_ngram_spans": "duplicated-span fraction: shingle-df join lands back on the SAME shuffle key, 1:1 fan-out (no hot-key blowup)",
    "graph_hotspots": "degree hotspots: ONE scan (edge pair exploded map-side, not a twice-derived Union), ONE aggregate exchange, TakeOrderedAndProject top-N",
    "events_moments": "single-pass higher moments: exact decimal power sums in one hash aggregate with map-side partials — a scan plus one tiny exchange",
    "dedup_ppjoin": "prefix-filter all-pairs: df agg joins back on its OWN key, per-doc prefix window, candidates join only each doc's rarest shingles — hot keys carry zero join weight without any cap",
    "graph_scc": "FW-BW peel: plan shows the union of the settled filters over each peel's final checkpointed label frame (per-round lineage cuts BY DESIGN); per label round ONE edge join + min aggregate, convergence = the (count, xxhash-sum) fingerprint observed by the round's own checkpoint job — no comparison join, no probe job",
    "events_anomaly": "rolling z-score: events collapse to |buckets| rows in one hash aggregate BEFORE the bounded rows-window",
    "dsl_tpch_q4": "EXISTS as a native left_semi hash join from the JSON DSL — no subquery, no distinct",
    "source_jsonl_roundtrip": "JSONL ingest: line-splittable scan with explicit schema, per-source hash aggregate",
    "events_ohlc": "OHLC bars: ONE shuffle — the aggregate reuses the row_number window's (type, bucket) partitioning",
    "corpus_token_budget": "token-budget fill: per-source window cumsum, integer-exact, no global sort",
    "dedup_prune": "end-user dedup: pairs -> min-label components -> left_anti drop of non-canonical members",
    "corpus_curate": "curation chain: language gate semi-join, dedup, quality weights, zero-shuffle sampler filter",
    "dsl_tpch_q6": "scan-dominated global agg: all three range predicates in PushedFilters, map-side partial + single-row merge — zero wide shuffle",
    "dsl_tpch_q19": "disjunctive OR-of-ANDs over a join: per-branch dim conjuncts pushed to the part scan, cross-table OR as post-join filter",
    "events_histogram": "fixed-width histogram: ONE map-side-partial hash aggregate, bin is a per-row function (no pre-pass, no sort)",
    "knn_mmr": "MMR rerank: distributed exact top-k candidate cut feeding ONE constant-sized applyInPandas group — corpus never collected",
    "graph_kcore": "k-core peeling: plan shows the final checkpointed degree frame (lineage cut per round); per round one degree aggregate + two BROADCAST semi joins — edges never shuffle during peeling; the keep count that stops the loop is observed by the round's own checkpoint job",
    "knn_topk_int8": "quantized search: dequantize-on-the-fly is a codegen projection over the scan, then TakeOrderedAndProject — zero extra shuffle vs exact KNN",
    "dedup_paragraphs": "paragraph dedup: two hash exchanges total (paragraph-md5 window, doc-id reassembly), nothing event- or pair-quadratic",
    "events_gapfill": "grid resample: events collapse to buckets FIRST, the sequence() fan-out explodes from two-row bounds frames, fill reuses the join's partitioning",
    "validate_expectations": "data-quality gates: all row rules in ONE conditional-count aggregate over a single scan; only uniqueness rules add groupBys",
    "corpus_weighted_sample": "A-Res weighted sampling: the key is a pure per-row function (codegen), one window shuffle on the stratum",
    "corpus_curriculum": "curriculum ntile: partition-local window sort per source, no global sort",
    "agg_count_distribution": "aggregate pyramid: level-1 shuffle on custkey, level-2 input is one row per customer with tiny key cardinality",
    "events_debounce": "leading-edge debounce: the sequential-looking 'previous kept event' rule is the gap-session leader — ONE lag window, one shuffle",
    "events_heavy_hitters": "count-min sketch: the cell build collapses events to <= depth*width rows in ONE map-side-partial aggregate; the estimate is a BROADCAST join of those cells — nothing downstream is data-sized",
    "stats_hll_distinct": "HyperLogLog: events collapse to <= m registers per group in one MAX aggregate; the estimate is integer arithmetic over a 256-row-per-group frame",
    "stats_exact_quantiles": "exact quantiles: one count aggregate + one per-group ranked window + a BROADCAST of the tiny (group x q) target frame — no percentile_approx, no collect",
    "layout_zorder": "Morton envelopes: 1-row min/max aggregate broadcast into a codegen interleave projection, then a <= 2^bucket_bits-key aggregate — shuffle width is the bucket count",
    "join_bloom_prefilter": "runtime bloom prefilter: three BROADCAST left-semi joins ahead of the join — the probe side never shuffles until after it is pruned",
    "stats_kmv_overlap": "KMV overlap (r7 sketch-bounded): per-group bottom-k window FIRST, pair stage consumes only the G*k sketch frame equi-joined twice against the broadcast pair frame (<= k*G^2 rows, never |keys|*G^2); exact audit is a sparse key self-join",
    "corpus_temperature_mix": "temperature mix: one count aggregate broadcast back as integer quotas + one window shuffle on the group — selection is a rank filter",
    "graph_communities_lpa": "label propagation: per round the |V|-row label frame BROADCASTS onto stationary edges; the argmax window reuses the (node,label) count aggregate's partitioning (A/B-measured vs an aggregate-only rewrite: 45 s vs 75 s at sf1)",
    "text_source_divergence": "source KL: two map-side-partial postings aggregates + a natural-key term join; contributions are scaled BIGINTs so the final sum is an integer fold",
    "dedup_keep_best": "precedence dedup: ONE window over the content hash (high-cardinality partition key); the audit join reuses the same hash partitioning",
    "graph_bfs_multi": "batched 20-root traversal: the roots' frontiers advance together on the driver, one broadcast semi-join scan of the edges per level, no shuffle; the result is a local relation",
    "fts_batch_topk": "batched keyword search: ONE broadcast (query terms, carrying n_terms), df AND dl ride in the stored posting row so there are NO other broadcast-build jobs; BM25 contribution computed MAP-SIDE so the single data-sized exchange (~25k rows/partition small-scale, 5M cap large-scale) moves only (query_id, doc_id, contrib, n_terms); AND-match + aggregate + window top-k all reuse that one partitioning",
    "agg_tpch_q21_shape": "correlated EXISTS + NOT EXISTS (inequality on the correlation alias): LEFT SEMI then LEFT ANTI on the SAME orderkey shuffle, anti build side pre-filtered to returned lines, supplier dim broadcast",
    "media_bmp_roundtrip": "real BMP decode: two narrow Arrow-batched maps (synthesize, decode), zero Exchange",
    "dedup_embedding_lsh": "capped sign-LSH: signature matmul in one Arrow pass, bucket-occupancy guard (max_bucket) before pair generation, exact verify only on surviving candidates",
    "events_twap": "time-weighted average: one lead window + one map-side-partial aggregate, integer-microsecond weights",
    "agg_top_supplier": "argmax with ties: 1-row max broadcast back as a filter — no whole-frame window, no global sort",
    "agg_tpch_q17": "correlated-aggregate filter de-correlated: per-part average as its own aggregate hash-joined back on the part key",
    "events_heatmap": "day-hour heatmap: ONE map-side-partial aggregate over <=168 integer-arithmetic keys — no calendar functions",
    "knn_join_ivf": "IVF ANN join: tiny exploded query->probe frame BROADCAST against the cluster-assigned corpus — an equi-join on cluster_id scoring |corpus|*nprobe/n_centroids rows instead of |corpus|; at scale the assignment store is partitioned by cluster_id and the same join prunes partitions",
    "knn_binary_rerank": "two-stage binary ANN: sign-code packing + XOR+popcount Hamming are ALL codegen integer ops over the scan; float vectors are read only for the n_candidates-row TakeOrderedAndProject output — at scale the 8 B/vector code column scans where the 256 B floats never do",
    "search_hybrid_rrf": "hybrid RRF: the two distributed top-N lists (BM25 posting aggregate / KNN scoring scan) run and are collected inside the call and fused on the driver; the returned plan is a LocalTableScan of the <=k fused rows — no windows, no full-outer join, no job at collect",
    "dedup_unicode_nfc": "canonical dedup: one Arrow-batched NFC map then the standard hash-groupBy — one shuffle on the normalized hash, same plan family as exact dedup",
    "dedup_substring_rewrite": "exact-substring rewrite: per-char explode at scan parallelism, dup-gram detection join lands on the gram aggregate's own hash key (min!=max, no countDistinct expand), cummax interval merge + aggregate() fold are window/codegen — full texts never shuffle as join payloads",
    "graph_connected_components": "large-star/small-star CC: each half-round is ONE window over the edge frame's own shuffle key (no agg+join), frame CONTRACTS per round, lineage cut per round; converges in O(log^2 n) rounds on any topology (chain A/B in SCALE.md); the convergence fingerprint is observed by each round's checkpoint job, not a separate aggregate",
    "corpus_cluster_balance": "topic balancing: bounded-sample trainer, Arrow-batched argmax assignment (tiny centroid matrix in the UDF closure), ONE window shuffle on cluster_id for the quota",
    "graph_cycle_paths": "cycle paths: same level-synchronous BFS shape as cycle_members with distinct() replaced by a min(path) aggregate on the frontier's own (origin, node) key — per level one join + one aggregate, rows widened only by a <= max_len-id string; plan shows the final checkpointed level (lineage cut per level by design)",
    "dedup_pairs_auto": "cost-based pair-join dispatch: the df-histogram decision (one scan-shaped aggregate) runs at plan-build time; the physical plan IS the chosen arm's — on this corpus the fractional-cap co-occurrence join (kept-shingle semi-join, co-occurrence agg on the shingle key, size join) over ONE cached shingle explode shared with the decision",
    "dedup_containment": "directed containment: the SAME capped co-occurrence core as the jaccard join (shared _cooccurrence_counts), both directions projected from one unordered pair row — the directed answer adds a 2x projection, never a second shuffle",
    "graph_ppr": "personalized pagerank: pagerank's stationary-edge/broadcast-rank shape with a static |V|-row teleport frame left-joined per step; plan shows the final checkpointed step (lineage cut per step by design)",
    "events_ks_drift": "exact two-sample KS: one bounds aggregate broadcast back, the (group, value) cells monoid (r9 — the streaming state form; the only data-sized exchange, map-side partial), then the RANGE-frame ECDF window over CELLS not rows",
    "events_psi_drift": "PSI drift: bucket index is pure per-row arithmetic off a broadcast bounds row — one count aggregate on (group, bucket, side) (the r9 streaming monoid), then a k-rows-per-group fold; nothing after the scan is data-sized",
    "corpus_cluster_split": "leakage-safe split: near-dup cluster frame (small) broadcast-left-joined onto the corpus ids, split = per-row hash CASE on the representative — no extra shuffle vs the per-doc split",
    "dedup_semantic": "SemDeDup decision frame: Arrow assign UDF, salt from a count-over-cluster window, rank window on (cluster, salt), prune self-join keyed on (cluster, salt) over the CACHED ranked frame — bounded pairs by the salt cap, never a cross product",
    "dsl_window_topn": "DSL windows clause: two rank functions sharing the o_custkey partition fuse into consecutive Window nodes over ONE Exchange; qualify (rn <= 3) filters before the projection — top-N per group at one shuffle, no self-join",
    "dsl_window_running": "DSL running/offset functions: RUNNING_SUM + LAG + LEAD over the same (p_brand, p_partkey) spec share one Exchange+Sort; default cumulative frame (RANGE..CURRENT ROW) — the oracle-replayable tie behavior",
    "events_cusum": "CUSUM change-point: one bucket count aggregate, group-window power sums (exact ints), collect_list + seed-0 aggregate fold per row — the 'stateful' detector as pure expressions, no Python in the loop",
    "events_mad_outliers": "robust MAD outliers: two exact-median aggregate passes shuffled on the group key, both tiny per-group stat frames BROADCAST back into codegen projections — the fact side shuffles once per median pass and the flag filter is pure scalar expressions",
    "events_autocorr": "lag-k ACF: bucket-count cells (map-side partial), max_lag-way explode of the CELL frame (not raw events), one equi-join on (group, bucket), then BIGINT power sums map-side-combined to |groups|*max_lag rows — nothing event-sized past the first aggregate",
    "events_holt": "Holt level+trend: the cusum/ewma fold family — one bucket aggregate, collect_list window, struct-accumulator aggregate() fold per row; all codegen expressions, no Python",
    "graph_closeness": "seed-sampled BFS closeness on betweenness's forward pass (sigma carried, ignored): per level ONE broadcast equi-join on node==src, a packed-key sum aggregate, and a broadcast anti-join vs the running seen frame (frontier under BROADCAST_NODE_LIMIT — the stationary edge list never shuffles), lineage cut per level; plan shows the final checkpointed level + the |seeds|-wide conditional aggregate",
    "events_seasonal": "classical decomposition: one bucket-count aggregate (map-side partial), a rows-window centered MA over the CELL frame, then the tiny (group, phase) mean frame BROADCAST back — two cell-sized exchanges total, nothing event-sized past the first aggregate",
    "events_ttest_drift": "Welch t drift: one bounds aggregate broadcast back, ONE (group, side) decimal power-sum aggregate (<= 2 cells/group, map-side combinable) — the smallest monoid in the drift family; everything after is scalar codegen",
    "dedup_edit_distance": "PassJoin ED join: candidate generation is an equi-join on (seg_id, substring) over DISTINCT keys (template skew collapses pre-join), exploded segment/probe frames are key-count-sized; verify = one JVM levenshtein per candidate; id expansion broadcasts the tiny key-pair frame",
    "graph_betweenness": "sampled Brandes: forward BFS carries (seed, node, sigma) with integer map-side-combined path-count sums, backward pass one join per level folding e6-quantized dependency terms (order-free BIGINT sums); state hard-bounded at max_seeds*|V|, lineage cut per level; plan shows the final score aggregate",
    "stream_quantiles": "exact quantiles twin: (group, distinct value) count cells monoid, cumulative RANGE window over CELLS (tie multiplicity collapsed), percentile ranks picked by a broadcast target join + min aggregate — the sort input is value cardinality, never row count",
    "events_seasonal_outliers": "seasonal residual + MAD rule: the decomposition's cell-frame plan feeding two cell-sized median passes with broadcast stat frames — nothing event-sized after the decomposition's first aggregate",
}


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="gen-plans")
    qs = entrymod.queries()
    out = [
        "# PLANS — physical plans of representative headline queries",
        "",
        'Generated from `.explain("formatted")` at sf0.01. What to look for',
        "per plan is annotated; regenerate with `python scripts/gen_plans.py`.",
        "",
    ]
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    for name, note in PICKS.items():
        df = qs[name](spark, sf)
        plan = df._jdf.queryExecution().explainString(mode)
        lines = plan.split("\n")
        tree_end = next(
            (i for i, l in enumerate(lines) if not l.strip()), len(lines)
        )
        tree = "\n".join(lines[:tree_end])
        out.append(f"## {name}\n\n*{note}*\n\n```\n{tree}\n```\n")
    with open(os.path.join(os.path.dirname(__file__), "..", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("PLANS.md regenerated")


if __name__ == "__main__":
    main()
