"""Plan-property tests: the scale guarantees, asserted on explain output.

These check what a 1000-executor cluster depends on — shuffles absent
where layout makes them unnecessary, scans pruned by partition and
predicate — rather than local timings.
"""

from __future__ import annotations

import uuid

import pytest
from pyspark.sql import functions as F

from project_cortex_spark.sources import layout

from .conftest import SF_DIR


def test_partition_pruning(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    path = str(tmp_path / "docs_by_lang")
    layout.write_partitioned(docs, path, partition_cols=["lang"])
    back = layout.read_partitioned(spark, path).filter(F.col("lang") == "en")
    plan = layout.plan_of(back)
    assert "PartitionFilters: [isnotnull(lang" in plan
    # non-partition predicate reaches the parquet reader as a pushed filter
    filtered = layout.read_partitioned(spark, path).filter(F.col("n_chars") > 100)
    assert "PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,100)]" in (
        layout.plan_of(filtered)
    )


def test_predicate_pushdown_registry_scan(registry):
    df = registry.table("orders").filter(F.col("o_custkey") == 42).select(
        "o_orderkey", "o_custkey"
    )
    plan = layout.plan_of(df)
    assert "PushedFilters: [IsNotNull(o_custkey), EqualTo(o_custkey,42)]" in plan
    # column pruning: the scan reads only the projected columns
    assert "ReadSchema: struct<o_orderkey:bigint,o_custkey:bigint>" in plan


@pytest.fixture()
def bucketed_pair(spark):
    suffix = uuid.uuid4().hex[:8]
    a_name, b_name = f"t_orders_{suffix}", f"t_cust_{suffix}"
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
    customer = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    layout.write_bucketed(
        orders.select("o_orderkey", "o_custkey", "o_totalprice"),
        a_name,
        bucket_cols=["o_custkey"],
        n_buckets=8,
        sort_cols=["o_custkey"],
    )
    layout.write_bucketed(
        customer.select("c_custkey", "c_name"),
        b_name,
        bucket_cols=["c_custkey"],
        n_buckets=8,
        sort_cols=["c_custkey"],
    )
    yield a_name, b_name
    spark.sql(f"DROP TABLE IF EXISTS {a_name}")
    spark.sql(f"DROP TABLE IF EXISTS {b_name}")


def test_bucketed_join_no_shuffle(spark, bucketed_pair):
    a_name, b_name = bucketed_pair
    # force the sort-merge path so the bucket layout (not a broadcast)
    # is what eliminates the exchanges
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table(a_name).join(
            spark.table(b_name),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        plan = layout.plan_of(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join must not shuffle"
        # correctness unchanged by layout
        n = joined.count()
        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet")
        customer = spark.read.parquet(f"{SF_DIR}/customer.parquet")
        want = orders.join(
            customer, F.col("o_custkey") == F.col("c_custkey")
        ).count()
        assert n == want
    finally:
        spark.conf.set(
            "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
        )


def test_salted_join_equivalence(spark):
    """Salting must not change the join result — only how it shards."""
    from project_cortex_spark.sources.layout import salted_join

    # 90% of left rows share one hot key
    left = spark.createDataFrame(
        [(i, 1 if i % 10 else i) for i in range(2000)], ["row_id", "k"]
    ).select("row_id", F.col("k").alias("key"))
    right = spark.createDataFrame(
        [(k, f"v{k}") for k in range(0, 2000, 7)], ["key", "val"]
    )
    got = sorted(
        map(tuple, salted_join(left, right, "key", n_salts=4).collect())
    )
    want = sorted(map(tuple, left.join(right, "key", "inner").collect()))
    assert got == want and got
    got_left = salted_join(left, right, "key", n_salts=4, how="left").count()
    assert got_left == left.count()


def test_salted_join_broadcast_dispatch(spark, tmp_path):
    """r10: a broadcast-eligible right side (known, small stats) takes
    the plain broadcast join (no salt column anywhere in the plan —
    broadcast joins have no per-reducer skew to mitigate); threshold -1
    forces the salted (key, salt) arm; both arms return identical rows.
    A right side with UNKNOWN stats (e.g. a local relation reporting
    Long.MaxValue) conservatively keeps the salted path — covered by
    test_salted_join_equivalence running on exactly such frames."""
    from project_cortex_spark.sources.layout import salted_join

    left = spark.createDataFrame(
        [(i, 1 if i % 10 else i) for i in range(2000)], ["row_id", "k"]
    ).select("row_id", F.col("k").alias("key"))
    rpath = str(tmp_path / "salted_right.parquet")
    spark.createDataFrame(
        [(k, f"v{k}") for k in range(0, 2000, 7)], ["key", "val"]
    ).write.parquet(rpath)
    right = spark.read.parquet(rpath)
    plan_of = lambda df: df._jdf.queryExecution().toString()  # noqa: E731
    bcast = salted_join(left, right, "key", n_salts=4)
    # "_salt#N" is how the salt column prints in a plan; a bare "_salt"
    # would also match the pytest tmp-dir path embedded in the FileScan
    assert "_salt#" not in plan_of(bcast)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        salted = salted_join(left, right, "key", n_salts=4)
        assert "_salt#" in plan_of(salted)
        assert sorted(map(tuple, bcast.collect())) == sorted(
            map(tuple, salted.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_salted_join_keeps_salted_path_when_stats_fail(spark, tmp_path, monkeypatch):
    """The broadcast dispatch reads the right side's size from the JVM
    plan (``_jdf`` → ``optimizedPlan().stats()``; no public API exposes
    it). If that call raises, salted_join must not fail: it keeps the
    salted (key, salt) path and returns the plain join's rows."""
    from project_cortex_spark.sources.layout import salted_join

    left = spark.createDataFrame(
        [(i, 1 if i % 10 else i) for i in range(2000)], ["row_id", "k"]
    ).select("row_id", F.col("k").alias("key"))
    rpath = str(tmp_path / "right.parquet")
    spark.createDataFrame(
        [(k, f"v{k}") for k in range(0, 2000, 7)], ["key", "val"]
    ).write.parquet(rpath)
    right = spark.read.parquet(rpath)
    plan_of = lambda df: df._jdf.queryExecution().toString()  # noqa: E731
    # with working stats this right side takes the broadcast arm
    assert "_salt#" not in plan_of(salted_join(left, right, "key", n_salts=4))

    class NoStats:
        """The right side's JVM frame, except that its plan (and so its
        size statistic) cannot be read."""

        def __init__(self, jdf):
            self._jdf = jdf

        def queryExecution(self):
            raise RuntimeError("plan statistics unavailable")

        def __getattr__(self, name):
            return getattr(self._jdf, name)

    monkeypatch.setattr(right, "_jdf", NoStats(right._jdf))
    salted = salted_join(left, right, "key", n_salts=4)
    assert "_salt#" in plan_of(salted)
    want = left.join(spark.read.parquet(rpath), "key", "inner")
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, want.collect()))



def test_ivf_partitioned_corpus_prunes_probes(spark, tmp_path, registry):
    """The SCALE.md claim for IVF: persist assign_clusters output
    partitioned by cluster_id and a probe's cluster filter prunes file
    listings (PartitionFilters), not just rows."""
    from project_cortex_spark.operators import knn

    emb = registry.table("embeddings")
    cent = knn.train_centroids(emb, n_centroids=4, seed=42)
    assigned = knn.assign_clusters(emb, cent)
    path = str(tmp_path / "emb_by_cluster")
    layout.write_partitioned(assigned, path, partition_cols=["cluster_id"])
    probe = layout.read_partitioned(spark, path).filter(
        F.col("cluster_id").isin(1, 2)
    )
    plan = layout.plan_of(probe)
    assert "PartitionFilters" in plan and "cluster_id" in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0]


def test_context_snippets_broadcast_not_streamed(spark):
    """with_context must broadcast the (pruned) files side — the files
    table is never on the streamed side of the join."""
    from project_cortex_spark.operators import graph

    files = spark.createDataFrame(
        [(f"f{i}.go", "L1\nL2\nL3") for i in range(100)],
        ["file_path", "content"],
    )
    results = spark.createDataFrame(
        [("x", "f1.go", 1, 2)], ["id", "file_path", "start_line", "end_line"]
    )
    plan = graph.with_context(results, files)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoop" not in plan
    assert "CartesianProduct" not in plan


def test_markdown_chunker_plan_is_narrow(spark):
    """Chunking is embarrassingly parallel: no Exchange in the plan."""
    from project_cortex_spark.pipeline import chunks

    files = spark.createDataFrame(
        [("a.md", "## H\n\ntext")], ["file_path", "text"]
    )
    plan = chunks.chunk_markdown(files)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Exchange" not in plan


def test_parse_entities_plan_is_narrow(spark):
    from project_cortex_spark.pipeline import parse

    files = spark.createDataFrame(
        [("a.py", bytearray(b"x = 1"))], "file_path string, content binary"
    )
    plan = parse.parse_entities(files)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Exchange" not in plan


def test_pack_sequences_single_shuffle(spark):
    """Packing shuffles exactly once — on the writer shard for the
    running-sum window; no global sort, no second exchange."""
    from project_cortex_spark.operators import corpus

    docs = spark.createDataFrame([(1, "abcd" * 30)], ["doc_id", "text"])
    plan = corpus.pack_sequences(docs, writers=4)._jdf.queryExecution(
    ).executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "rangepartitioning" not in plan  # a global sort would be this


def test_quantize_plan_is_narrow(spark):
    """Int8 re-encoding is a pure projection: zero Exchange, so a 100 TB
    re-encode runs at scan bandwidth."""
    from project_cortex_spark.operators import knn

    emb = spark.createDataFrame([(1, [0.1, 0.2])], ["vec_id", "embedding"])
    plan = knn.quantize_embeddings(emb)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Exchange" not in plan


def test_importance_sample_is_shuffle_free(registry):
    from project_cortex_spark.operators import corpus
    from project_cortex_spark.operators.textstats import quality_scores

    df = corpus.importance_sample(
        quality_scores(registry.table("documents")), weight_col="quality"
    )
    plan = layout.plan_of(df)
    assert "Exchange" not in plan


def test_contamination_broadcasts_benchmark(registry):
    from project_cortex_spark.operators import corpus

    docs = registry.table("documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    plan = layout.plan_of(
        corpus.contamination_pairs(docs, bench, ngram=3, max_df=50)
    )
    # the tiny benchmark side must broadcast: the 100 TB corpus side never
    # shuffles through a sort-merge join
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_shuffle_shards_single_exchange_no_global_sort(registry):
    from project_cortex_spark.operators import corpus

    plan = layout.plan_of(
        corpus.shuffle_shards(registry.table("documents"), seed="e0", shards=8)
    )
    assert plan.count("hashpartitioning") == 1
    assert "rangepartitioning" not in plan  # a global sort would show here


def test_tpch_q6_filters_reach_the_scan(spark):
    """The Q6 contract: every range predicate lands in PushedFilters and
    the scan reads only the four referenced columns — at 100 TB this is
    the difference between a page-skipping scan and a full read."""
    import __spark_entry__ as entrymod

    plan = layout.plan_of(entrymod.queries()["dsl_tpch_q6"](spark, SF_DIR))
    assert "PushedFilters:" in plan
    for frag in (
        "GreaterThanOrEqual(l_shipdate,",
        "LessThan(l_shipdate,",
        "GreaterThanOrEqual(l_discount,0.05)",
        "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24",
    ):
        assert frag in plan, frag
    assert (
        "ReadSchema: struct<l_quantity:double,l_extendedprice:double,"
        "l_discount:double,l_shipdate:timestamp>" in plan
    )


def test_kcore_broadcasts_keep_set(registry):
    """Peeling must never shuffle the edge list through a sort-merge
    join: the keep set is node-sized and broadcast every round."""
    from project_cortex_spark.operators import graph as graph_mod

    edges = graph_mod.cooccurrence_edges(
        registry.table("lineitem"),
        group_col="l_orderkey",
        item_col="l_partkey",
        max_df=50,
    )
    plan = layout.plan_of(graph_mod.kcore(edges, k=3, rounds=2))
    assert "SortMergeJoin" not in plan


def test_compact_store_preserves_content_atomically(spark, tmp_path):
    """Five appended micro-batches -> many small files; compaction must
    shrink the file count without changing a single row."""
    store = str(tmp_path / "store")
    for i in range(5):
        spark.range(i * 10, i * 10 + 10).withColumn(
            "v", F.col("id") * 2
        ).repartition(4).write.mode("append").parquet(store)
    before = sorted(map(tuple, spark.read.parquet(store).collect()))
    stats = layout.compact_store(spark, store, target_files=2)
    assert stats["files_before"] >= 10
    assert stats["files_after"] <= 4
    after = sorted(map(tuple, spark.read.parquet(store).collect()))
    assert after == before
    assert not (tmp_path / "store__bak").exists()
    assert not (tmp_path / "store__compact").exists()


def test_recover_store_heals_mid_swap_crash(spark, tmp_path):
    """A crash INSIDE compact_store's two-rename window leaves only
    __bak; recover_store must restore it as the live dir (and a later
    compaction must do the same on entry). A leftover __bak NEXT TO a
    live dir is stale and must be dropped instead."""
    import os
    import shutil

    store = str(tmp_path / "store")
    spark.range(20).withColumn("v", F.col("id") * 3).repartition(4) \
        .write.parquet(store)
    before = sorted(map(tuple, spark.read.parquet(store).collect()))

    # simulate the mid-window crash: live renamed away, new never moved in
    os.rename(store, store + "__bak")
    assert layout.recover_store(store) is True
    assert sorted(map(tuple, spark.read.parquet(store).collect())) == before
    assert not os.path.exists(store + "__bak")

    # stale __bak next to a live dir: dropped, live untouched
    shutil.copytree(store, store + "__bak")
    assert layout.recover_store(store) is False
    assert not os.path.exists(store + "__bak")
    assert sorted(map(tuple, spark.read.parquet(store).collect())) == before

    # compact_store itself recovers from the mid-window state
    os.rename(store, store + "__bak")
    stats = layout.compact_store(spark, store, target_files=1)
    assert stats["files_after"] <= 2
    assert sorted(map(tuple, spark.read.parquet(store).collect())) == before


def test_compact_store_keeps_partition_pruning(spark, tmp_path):
    """Compacting a hive-partitioned store must preserve the directory
    layout so partition filters still prune at planning time."""
    store = str(tmp_path / "pstore")
    for _ in range(3):
        spark.range(100).withColumn("part", F.col("id") % 4).write.mode(
            "append"
        ).partitionBy("part").parquet(store)
    before = sorted(map(tuple, spark.read.parquet(store).collect()))
    layout.compact_store(spark, store, target_files=1, partition_cols=["part"])
    after_df = spark.read.parquet(store)
    assert sorted(map(tuple, after_df.collect())) == before
    plan = layout.plan_of(after_df.filter(F.col("part") == 2))
    assert "PartitionFilters: [isnotnull(part" in plan


def test_zorder_buckets_are_spatially_local(registry):
    """The pruning argument: summed per-bucket envelope area must be a
    small fraction of n_buckets x full area (a random assignment gives
    ~full area per bucket; a 1-D sort gives full extent on the other
    dimension)."""
    from project_cortex_spark.sources.layout import zorder_bucket_stats

    rows = zorder_bucket_stats(registry.table("orders")).collect()
    assert len(rows) > 16
    full_area = 1024.0 * 1024.0
    covered = sum(
        (r.nx_max - r.nx_min + 1) * (r.ny_max - r.ny_min + 1) for r in rows
    )
    # each bucket's envelope is at most ~1/16 of the plane for 64
    # buckets of a balanced z-curve (2 orders of magnitude better than
    # the 1-D sort's 1/8-by-full-extent stripes on the minor dimension)
    assert covered < 0.35 * len(rows) * full_area


def test_bloom_prefilter_has_no_false_negatives_and_prunes(registry):
    from pyspark.sql import functions as F

    from project_cortex_spark.sources.layout import bloom_semi_filter

    orders = registry.table("orders")
    lineitem = registry.table("lineitem")
    build = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey"
    )
    survivors = bloom_semi_filter(lineitem, "l_orderkey", build, "o_orderkey")
    exact = lineitem.join(
        build, lineitem.l_orderkey == build.o_orderkey, "left_semi"
    )
    n_probe, n_surv, n_exact = lineitem.count(), survivors.count(), exact.count()
    # every true match survives the prefilter...
    assert n_surv >= n_exact
    # ...and the prefilter actually prunes (the point of the exercise)
    assert n_surv < n_probe
    # the exact join AFTER the prefilter is the unfiltered join
    assert (
        survivors.join(build, survivors.l_orderkey == build.o_orderkey).count()
        == lineitem.join(build, lineitem.l_orderkey == build.o_orderkey).count()
    )


def test_bloom_prefilter_is_broadcast_only(registry):
    """No probe-side shuffle: the position set broadcasts into LEFT SEMI
    joins — the plan must not sort-merge or exchange the probe."""
    from pyspark.sql import functions as F

    from project_cortex_spark.sources.layout import bloom_semi_filter, plan_of

    orders = registry.table("orders")
    build = orders.filter(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey"
    )
    plan = plan_of(
        bloom_semi_filter(
            registry.table("lineitem"), "l_orderkey", build, "o_orderkey"
        )
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_zorder_write_bounds_both_dimensions_in_file_footers(registry, tmp_path):
    """The end goal of z-ordering: parquet FILE statistics (what a
    100 TB reader prunes on) bound both filter dimensions. A 1-D sort
    on custkey leaves each file spanning ~the full date range; the
    z-ordered layout must cut the summed date-envelope by a large
    factor."""
    import glob

    import pyarrow.parquet as pq

    from project_cortex_spark.sources.layout import write_zordered

    orders = registry.table("orders")
    zpath = str(tmp_path / "z")
    spath = str(tmp_path / "s")
    write_zordered(orders, zpath, n_files=8)
    conf = orders.sparkSession.conf
    conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try:
        (
            orders.repartitionByRange(8, "o_custkey")
            .sortWithinPartitions("o_custkey")
            .write.mode("overwrite")
            .parquet(spath)
        )
    finally:
        conf.unset("spark.sql.parquet.outputTimestampType")

    def date_extent_sum(path):
        total = 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.read_metadata(f)
            lo = hi = None
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    if col.path_in_schema == "o_orderdate" and col.statistics:
                        st = col.statistics
                        lo = st.min if lo is None else min(lo, st.min)
                        hi = st.max if hi is None else max(hi, st.max)
            if lo is not None:
                total += (hi - lo).days
        return total

    z_extent, s_extent = date_extent_sum(zpath), date_extent_sum(spath)
    assert z_extent > 0 and s_extent > 0
    # 8 z-files each cover ~1/4 of the date range (2 bucket_bits worth);
    # 8 custkey-sorted files each cover ~the WHOLE range
    assert z_extent < 0.5 * s_extent
