"""Graph operator tests: BFS vs DuckDB recursive-CTE oracle on an
order-chain edge graph, plus fixture-graph unit tests for cycles,
disconnected components, shortest path, implements inference, impact."""

from __future__ import annotations

import pytest
from pyspark.sql import Window

from project_cortex_spark.operators import graph
from pyspark.sql import functions as F

from project_cortex_spark.operators.graph import (
    bfs,
    callees,
    callers,
    impact,
    infer_implements,
    neighbors,
    shortest_path,
    type_usages,
)

from .conftest import assert_matches_oracle

# edges: consecutive orders of the same customer (chains ~10 long, acyclic)
EDGES_SQL = """
    SELECT src, dst FROM (
        SELECT o_orderkey AS src,
               lead(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS dst
        FROM orders
    ) WHERE dst IS NOT NULL
"""


@pytest.fixture(scope="module")
def order_edges(registry):
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    return (
        registry.table("orders")
        .select(
            F.col("o_orderkey").alias("src"),
            F.lead("o_orderkey").over(w).alias("dst"),
        )
        .filter(F.col("dst").isNotNull())
    )


@pytest.fixture(scope="module")
def chain_start(duck):
    return duck.execute(
        """SELECT min(o_orderkey) FROM orders WHERE o_custkey =
           (SELECT o_custkey FROM orders GROUP BY 1 ORDER BY count(*) DESC, o_custkey LIMIT 1)"""
    ).fetchone()[0]


def test_callees_depth3_oracle(order_edges, chain_start, duck):
    df = callees(order_edges, [chain_start], depth=3)
    sql = f"""
        WITH RECURSIVE e AS ({EDGES_SQL}),
        walk(node, depth) AS (
            SELECT CAST({chain_start} AS BIGINT), 0
            UNION ALL
            SELECT e.dst, w.depth + 1 FROM walk w JOIN e ON e.src = w.node
            WHERE w.depth < 3
        )
        SELECT node, min(depth) AS depth FROM walk WHERE depth > 0 GROUP BY node
    """
    assert_matches_oracle(df, duck, sql)


def test_callers_depth2_oracle(order_edges, chain_start, duck):
    # walk upstream from the 4th node of the longest chain
    target = duck.execute(
        f"""WITH RECURSIVE e AS ({EDGES_SQL}),
        walk(node, depth) AS (
            SELECT CAST({chain_start} AS BIGINT), 0
            UNION ALL SELECT e.dst, depth+1 FROM walk w JOIN e ON e.src = w.node WHERE depth < 3)
        SELECT node FROM walk WHERE depth = 3"""
    ).fetchone()[0]
    df = callers(order_edges, [target], depth=2)
    sql = f"""
        WITH RECURSIVE e AS ({EDGES_SQL}),
        walk(node, depth) AS (
            SELECT CAST({target} AS BIGINT), 0
            UNION ALL
            SELECT e.src, w.depth + 1 FROM walk w JOIN e ON e.dst = w.node
            WHERE w.depth < 2
        )
        SELECT node, min(depth) AS depth FROM walk WHERE depth > 0 GROUP BY node
    """
    assert_matches_oracle(df, duck, sql)


def test_depth_clamp(order_edges, chain_start):
    # depth>10 clamps to 10
    d11 = bfs(order_edges, [chain_start], depth=99)
    assert d11.agg(F.max("depth")).first()[0] <= 10


# ---------------------------------------------------------------------------
# fixture graph: cycles, branches, disconnected component
#
#   1 -> 2 -> 3 -> 4
#   1 -> 5 -> 6 -> 1   (cycle back to 1)
#   7 -> 8             (disconnected from 1's component)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def fixture_edges(spark):
    rows = [(1, 2), (2, 3), (3, 4), (1, 5), (5, 6), (6, 1), (7, 8)]
    return spark.createDataFrame(rows, ["src", "dst"])


def test_bfs_multi_matches_per_root_bfs(fixture_edges):
    """The batched traversal must equal N single-root traversals —
    including cycle collapse (root 1) and the disconnected component
    (root 7); a root with no outgoing edges (4) contributes no rows."""
    roots = [1, 5, 7, 4]
    got = {
        (r["root"], r["node"]): r["depth"]
        for r in graph.bfs_multi(fixture_edges, roots, depth=10).collect()
    }
    want = {
        (root, r["node"]): r["depth"]
        for root in roots
        for r in graph.bfs(fixture_edges, [root], depth=10).collect()
    }
    assert got == want
    assert (1, 1) not in got  # root excluded from its own closure


def test_bfs_multi_reverse(fixture_edges):
    got = {
        (r["root"], r["node"]): r["depth"]
        for r in graph.bfs_multi(fixture_edges, [4], depth=3, reverse=True).collect()
    }
    assert got == {(4, 3): 1, (4, 2): 2, (4, 1): 3}


def test_bfs_cycle_termination(fixture_edges):
    out = {r["node"]: r["depth"] for r in bfs(fixture_edges, [1], depth=10).collect()}
    # 1 not revisited (visited set), every reachable node at min depth
    assert out == {2: 1, 5: 1, 3: 2, 6: 2, 4: 3}


def test_shortest_path_known(fixture_edges):
    assert shortest_path(fixture_edges, 1, 4) == [1, 2, 3, 4]
    assert shortest_path(fixture_edges, 5, 2) == [5, 6, 1, 2]
    assert shortest_path(fixture_edges, 3, 3) == [3]


def test_shortest_path_none(fixture_edges):
    assert shortest_path(fixture_edges, 1, 8) == []
    assert shortest_path(fixture_edges, 1, 4, max_depth=2) == []


def test_traversals_drop_null_endpoints(spark):
    """A NULL endpoint carries no edge: (1, NULL) and (NULL, 4) are
    never walked, in either direction and at any depth, and produce no
    NULL row."""
    edges = spark.createDataFrame(
        [(1, None), (1, 2), (2, 3), (None, 4), (3, 1)], "src bigint, dst bigint"
    )
    for depth in (3, 6):
        assert callees(edges, [1], depth=depth).collect() == [(2, 1), (3, 2)]
        assert callers(edges, [1], depth=depth).collect() == [(3, 1), (2, 2)]
    assert graph.bfs_multi(edges, [1, 2], depth=3).collect() == [
        (1, 2, 1), (1, 3, 2), (2, 3, 1), (2, 1, 2),
    ]
    assert graph.bfs_multi(edges, [4], depth=3, reverse=True).collect() == []
    assert shortest_path(edges, 1, 4) == []
    assert shortest_path(edges, 2, 1) == [2, 3, 1]


def test_traversal_runs_two_jobs_per_level(fixture_edges):
    """callees at depth 3 runs at most 2 Spark jobs per level (the
    broadcast of the frontier and the semi-join scan); the result and
    every frontier are local relations, which run no job of their own."""
    spark = fixture_edges.sparkSession
    sc = spark.sparkContext
    group = "test_traversal_runs_two_jobs_per_level"
    sc.setJobGroup(group, group)
    try:
        rows = callees(fixture_edges, [1], depth=3).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert rows == [(2, 1), (5, 1), (3, 2), (6, 2), (4, 3)]
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2 * 3

    from project_cortex_spark.session import local_frame

    frame = local_frame(spark, [(1,), (2,)], "node bigint")
    plan = frame._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"


def test_neighbors(fixture_edges):
    outs = {r["node"] for r in neighbors(fixture_edges, 1, direction="out").collect()}
    ins = {r["node"] for r in neighbors(fixture_edges, 1, direction="in").collect()}
    assert outs == {2, 5}
    assert ins == {6}


# ---------------------------------------------------------------------------
# implements inference (J5/G10 semantics, inferencer.go:84-173)
# ---------------------------------------------------------------------------


def test_infer_implements(spark):
    iface_methods = spark.createDataFrame(
        [
            ("Reader", "read", 1, 2),
            ("Writer", "write", 1, 2),
            ("ReadWriter", "read", 1, 2),
            ("ReadWriter", "write", 1, 2),
        ],
        ["iface_id", "name", "param_count", "return_count"],
    )
    struct_methods = spark.createDataFrame(
        [
            ("File", "read", 1, 2),
            ("File", "write", 1, 2),
            ("File", "close", 0, 1),
            ("Buffer", "read", 1, 2),
            ("Socket", "read", 2, 2),  # wrong param count: no match
        ],
        ["struct_id", "name", "param_count", "return_count"],
    )
    interfaces = spark.createDataFrame(
        [("Reader",), ("Writer",), ("ReadWriter",), ("Any",)], ["iface_id"]
    )
    structs = spark.createDataFrame(
        [("File",), ("Buffer",), ("Socket",)], ["struct_id"]
    )
    got = {
        (r["struct_id"], r["iface_id"])
        for r in infer_implements(
            iface_methods, struct_methods, interfaces=interfaces, structs=structs
        ).collect()
    }
    assert got == {
        ("File", "Reader"),
        ("File", "Writer"),
        ("File", "ReadWriter"),
        ("Buffer", "Reader"),
        # empty interface matches every struct (inferencer.go:104-110)
        ("File", "Any"),
        ("Buffer", "Any"),
        ("Socket", "Any"),
    }


def test_impact_composite(spark, fixture_edges):
    implements = spark.createDataFrame(
        [("StructA", 2), ("StructB", 9)], ["struct_id", "iface_id"]
    )
    out = impact(fixture_edges, implements, 2, depth=2).collect()
    by_node = {(r["node"], r["impact_type"], r["severity"]) for r in out}
    assert ("StructA", "implementation", "must_update") in by_node
    assert ("1", "direct_caller", "must_update") in by_node
    assert ("6", "transitive_caller", "review_needed") in by_node


def test_type_usages(spark):
    functions = spark.createDataFrame(
        [("f1", "handler"), ("f2", "worker"), ("f3", "main")],
        ["function_id", "fname"],
    )
    params = spark.createDataFrame(
        [
            ("f1", "*User"),
            ("f2", "Repo[User]"),
            ("f3", "string"),
        ],
        ["function_id", "param_type"],
    )
    got = {
        r["function_id"]
        for r in type_usages(functions, params, "%User%").collect()
    }
    assert got == {"f1", "f2"}


def test_resolve_type_refs(spark):
    refs = spark.createDataFrame(
        [("r1", "*pkg.Foo"), ("r2", "[]Bar"), ("r3", "map[string]Foo"),
         ("r4", "other.Foo"), ("r5", "Missing")],
        ["ref_id", "type_name"],
    )
    types = spark.createDataFrame(
        [("t-foo", "Foo", "pkg"), ("t-bar", "Bar", "lib"), ("t-foo2", "Foo", "other")],
        ["type_id", "name", "module"],
    )
    got = {
        r["ref_id"]: r["resolved_type_id"]
        for r in graph.resolve_type_refs(refs, types).collect()
        if r["resolved_type_id"] is not None or r["ref_id"] == "r5"
    }
    assert got["r1"] == "t-foo"          # pointer + module-qualified
    assert got["r2"] == "t-bar"          # slice stripped, unqualified
    assert got["r4"] == "t-foo2"         # module prefix disambiguates
    assert got["r5"] is None             # unresolved stays NULL
    # unqualified ambiguous ref (r3) matches both Foo types: one row each
    rows = graph.resolve_type_refs(refs, types).filter(F.col("ref_id") == "r3").collect()
    assert {r["resolved_type_id"] for r in rows} == {"t-foo", "t-foo2"}


def test_pattern_search_signature(spark):
    from project_cortex_spark.pipeline import parse as ps
    from project_cortex_spark.sources import files as fsrc

    files = fsrc.discover_files(
        spark, "/root/repo/project_cortex_spark", glob="*.py", recursive=True
    )
    ents = ps.parse_entities(files)
    # all public two-plus-arg functions named like the traversals
    hits = graph.pattern_search(
        ents, kind="function", name_like="call%", min_params=2, limit=10
    ).collect()
    names = {r["name"] for r in hits}
    assert {"callees", "callers"} <= names
    methods = graph.pattern_search(ents, kind="function", methods_only=True, limit=50)
    assert methods.filter(~F.col("is_method")).count() == 0


def test_with_context_snippets(spark):
    # 10-line file; context clamps at both edges and prefixes the span
    content = "\n".join(f"L{i}" for i in range(1, 11))
    files = spark.createDataFrame([("f.go", content)], ["file_path", "content"])
    results = spark.createDataFrame(
        [("top", "f.go", 1, 2), ("mid", "f.go", 5, 6), ("end", "f.go", 9, 10),
         ("gone", "missing.go", 3, 3)],
        ["id", "file_path", "start_line", "end_line"],
    )
    got = {
        r["id"]: r["context"]
        for r in graph.with_context(results, files, context_lines=2).collect()
    }
    assert got["top"] == "// Lines 1-4\nL1\nL2\nL3\nL4"
    assert got["mid"] == "// Lines 3-8\nL3\nL4\nL5\nL6\nL7\nL8"
    assert got["end"] == "// Lines 7-10\nL7\nL8\nL9\nL10"
    assert got["gone"] is None  # graceful skip, like the reference


def test_with_context_caps_at_20_lines(spark):
    content = "\n".join(f"L{i}" for i in range(1, 101))
    files = spark.createDataFrame([("f.go", content)], ["file_path", "content"])
    results = spark.createDataFrame(
        [("x", "f.go", 50, 50)], ["id", "file_path", "start_line", "end_line"]
    )
    row = graph.with_context(results, files, context_lines=99).first()
    assert row["context"].startswith("// Lines 30-70\n")  # 50 ± 20


def test_recursive_cte_matches_bfs(spark):
    """Spark 4's WITH RECURSIVE computes the same min-depth closure as
    the driver-loop BFS (SURVEY §2.7: 'or SQL recursive CTE where
    available') — including on converging paths and cycles."""
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 1), (4, 5)], ["src", "dst"]
    ).withColumn("src", F.col("src").cast("bigint")).withColumn(
        "dst", F.col("dst").cast("bigint")
    )
    bfs = {
        (r["node"], r["depth"])
        for r in graph.callees(edges, [1], depth=3).collect()
    }
    edges.createOrReplaceTempView("_t_rec_edges")
    cte = {
        (r["node"], r["depth"])
        for r in spark.sql(
            """
            WITH RECURSIVE walk(node, depth) AS (
              SELECT CAST(1 AS BIGINT) AS node, 0 AS depth
              UNION ALL
              SELECT e.dst, w.depth + 1
              FROM walk w JOIN _t_rec_edges e ON e.src = w.node
              WHERE w.depth < 3
            )
            SELECT node, min(depth) AS depth FROM walk
            WHERE depth > 0 AND node <> 1 GROUP BY node
            """
        ).collect()
    }
    # start-node exclusion (node <> 1) mirrors the BFS visited-set
    # semantics: a cycle back to the start is not a "callee of the start"
    assert bfs == cte == {(2, 1), (3, 1), (4, 2), (5, 3)}


def test_triangles_per_node(spark):
    """K4 minus one edge: triangles (1,2,3) and (1,2,4) — nodes 1,2 in
    two each, 3,4 in one each; co-occurrence edges built from groups."""
    from project_cortex_spark.operators.graph import (
        cooccurrence_edges,
        triangles_per_node,
    )

    rows = [("g1", 1), ("g1", 2), ("g1", 3), ("g2", 1), ("g2", 2), ("g2", 4)]
    items = spark.createDataFrame(rows, ["grp", "item"])
    edges = cooccurrence_edges(items, group_col="grp", item_col="item")
    assert {tuple(r) for r in edges.collect()} == {
        (1, 2), (1, 3), (2, 3), (1, 4), (2, 4)
    }
    got = {r["node"]: r["n_triangles"] for r in triangles_per_node(edges).collect()}
    assert got == {1: 2, 2: 2, 3: 1, 4: 1}


def test_cooccurrence_degree_cap(spark):
    """max_df drops ubiquitous items BEFORE pairing: item 9 appears in
    3 groups and vanishes under max_df=2, taking its edges with it."""
    from project_cortex_spark.operators.graph import cooccurrence_edges

    rows = [("g1", 1), ("g1", 9), ("g2", 2), ("g2", 9), ("g3", 3), ("g3", 9)]
    items = spark.createDataFrame(rows, ["grp", "item"])
    assert cooccurrence_edges(
        items, group_col="grp", item_col="item", max_df=2
    ).count() == 0


def test_triangles_match_oracle(registry, duck):
    from project_cortex_spark import oracle
    from project_cortex_spark.operators.graph import (
        cooccurrence_edges,
        triangles_per_node,
    )
    from tests.conftest import assert_matches_oracle

    edges = cooccurrence_edges(
        registry.table("lineitem"),
        group_col="l_orderkey",
        item_col="l_partkey",
        max_df=50,
    )
    assert_matches_oracle(
        triangles_per_node(edges), duck, oracle.triangles_sql(max_df=50)
    )


def test_pagerank_star_graph(spark):
    """Star c-{1,2,3}: leaves tie by symmetry, the hub dominates, and
    total mass stays 1 (the power step is stochastic)."""
    from project_cortex_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3)], ["a", "b"]
    )
    got = {r["node"]: r["pr"] for r in pagerank(edges, iters=10).collect()}
    assert got[1] == got[2] == got[3]
    assert got[0] > got[1]
    assert abs(sum(got.values()) - 1.0) < 1e-6


def test_pagerank_matches_oracle(registry, duck):
    from project_cortex_spark import oracle
    from project_cortex_spark.operators.graph import (
        cooccurrence_edges,
        pagerank,
    )
    from tests.conftest import assert_matches_oracle

    edges = cooccurrence_edges(
        registry.table("lineitem"),
        group_col="l_orderkey",
        item_col="l_partkey",
        max_df=50,
    )
    assert_matches_oracle(
        pagerank(edges, iters=5),
        duck,
        oracle.pagerank_sql(max_df=50, iters=5),
    )


def test_iterative_ops_shuffle_fallback_identical(registry):
    """VERDICT r6 item 7: the >BROADCAST_NODE_LIMIT fallback (no
    broadcast hint; stationary edges pre-partitioned on the join key)
    must produce results identical to the broadcast plan. Plan-shape
    evidence lives in scripts/ab_graph_broadcast.py (the per-round
    localCheckpoint truncates loop rounds out of any final explain, and
    AQE may legitimately re-broadcast a small frame at runtime — the
    switch controls the HINT, the measured A/B shows the plans really
    diverge at scale)."""
    from project_cortex_spark.operators.graph import (
        communities_lpa,
        cooccurrence_edges,
        kcore,
        pagerank,
    )

    edges = cooccurrence_edges(
        registry.table("lineitem"),
        group_col="l_orderkey",
        item_col="l_partkey",
        max_df=50,
    )
    for fn, base_kw, fall_kw in (
        (pagerank, {"iters": 3}, {"broadcast_ranks": False}),
        (kcore, {"k": 3, "rounds": 3}, {"broadcast_keep": False}),
        (communities_lpa, {"rounds": 2}, {"broadcast_labels": False}),
    ):
        base = {tuple(r) for r in fn(edges, **base_kw).collect()}
        fall = {tuple(r) for r in fn(edges, **base_kw, **fall_kw).collect()}
        assert fall == base and len(base) > 0, fn.__name__


def test_kcore_peels_tail_iteratively(spark):
    """Triangle 1-2-3 with a pendant chain 3-4, 4-5: k=2 peeling must
    cascade (5 falls first, then 4 becomes degree-1 and falls) — the
    case a single-pass degree filter gets wrong."""
    from project_cortex_spark.operators.graph import kcore

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (4, 5)], ["a", "b"]
    )
    got = {r["node"]: r["core_deg"] for r in kcore(edges, k=2, rounds=4).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


def test_kcore_matches_unrolled_oracle(registry, duck):
    from project_cortex_spark import oracle
    from project_cortex_spark.operators.graph import cooccurrence_edges, kcore
    from tests.conftest import assert_matches_oracle

    edges = cooccurrence_edges(
        registry.table("lineitem"),
        group_col="l_orderkey",
        item_col="l_partkey",
        max_df=50,
    )
    assert_matches_oracle(
        kcore(edges, k=3, rounds=6), duck, oracle.kcore_sql(max_df=50, k=3, rounds=6)
    )


def test_kcore_nested_cores(spark):
    """k-cores nest: the k=3 core's node set is a subset of the k=2
    core's, and at the fixpoint every surviving degree is >= k."""
    from project_cortex_spark.operators.graph import kcore

    # K4 (nodes 1-4) plus a triangle (5,6,7) hanging off node 4 via 5
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
         (5, 6), (5, 7), (6, 7), (4, 5)],
        ["a", "b"],
    )
    c2 = {r["node"] for r in kcore(edges, k=2, rounds=6).collect()}
    c3 = {r["node"]: r["core_deg"] for r in kcore(edges, k=3, rounds=6).collect()}
    assert set(c3) <= c2
    assert set(c3) == {1, 2, 3, 4}
    assert all(d >= 3 for d in c3.values())


def test_degree_distribution_matches_oracle(registry, duck):
    from project_cortex_spark import oracle
    from project_cortex_spark.operators.graph import (
        cooccurrence_edges,
        degree_distribution,
    )
    from tests.conftest import assert_matches_oracle

    edges = cooccurrence_edges(
        registry.table("lineitem"),
        group_col="l_orderkey",
        item_col="l_partkey",
        max_df=50,
    )
    assert_matches_oracle(
        degree_distribution(edges), duck, oracle.degree_distribution_sql(max_df=50)
    )


def test_node_similarity_matches_oracle(registry, duck):
    from project_cortex_spark import oracle
    from project_cortex_spark.operators.graph import (
        cooccurrence_edges,
        node_similarity,
    )
    from tests.conftest import assert_matches_oracle

    edges = cooccurrence_edges(
        registry.table("lineitem"),
        group_col="l_orderkey",
        item_col="l_partkey",
        max_df=50,
    )
    assert_matches_oracle(
        node_similarity(edges, k=20),
        duck,
        oracle.node_similarity_sql(max_df=50, k=20),
        ordered=True,
    )


def test_node_similarity_semantics(spark):
    """Square 1-2-3-4 (cycle): opposite corners share BOTH neighbors
    (jaccard 1.0); adjacent corners share none."""
    from project_cortex_spark.operators.graph import node_similarity

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4)], ["a", "b"]
    )
    got = {(r["pa"], r["pb"]): r["jaccard"] for r in node_similarity(edges).collect()}
    assert got == {(1, 3): 1.0, (2, 4): 1.0}


def test_bfs_multi_empty_starts_returns_empty_frame(fixture_edges):
    """An empty root batch has a well-defined answer — zero rows with
    the (root, node, depth) schema and the edge table's node dtype —
    not Spark's 'can not infer schema from empty dataset' error."""
    out = graph.bfs_multi(fixture_edges, [], depth=3)
    assert out.columns == ["root", "node", "depth"]
    assert dict(out.dtypes)["root"] == dict(fixture_edges.dtypes)["src"]
    assert out.count() == 0


@pytest.mark.parametrize("depth", [3, 6])
def test_bfs_empty_start_returns_empty_frame(fixture_edges, depth):
    """No start nodes: zero (node, depth) rows typed like the edge
    columns, in both the fused (depth <= 4) and the loop arm."""
    for fn in (bfs, callers, callees):
        out = fn(fixture_edges, [], depth=depth)
        assert out.dtypes == [("node", "bigint"), ("depth", "int")]
        assert out.count() == 0


def _cached_rdd_ids(spark) -> set:
    # persisted RDDs that are not local checkpoints: what
    # .cache()/.persist() leaves behind. A localCheckpoint also persists
    # its RDD, but only the frames that read it hold it, and the JVM
    # drops its blocks once they are garbage-collected, so its count is
    # not a leak signal. isLocallyCheckpointed, not isCheckpointed: a
    # lazy local checkpoint that only a shuffle-map stage computed is
    # stored but never marked checkpointed.
    rdds = spark.sparkContext._jsc.getPersistentRDDs()
    return {
        int(i)
        for i in rdds.keySet()
        if not rdds.get(i).rdd().isLocallyCheckpointed()
    }


@pytest.mark.parametrize("shape", ["empty", "null_endpoint"])
def test_frontier_loop_callers_degenerate_inputs(spark, shape):
    """Every caller of the shared frontier loop and of the fixpoint
    kernel, and the two wedge operators (triangles, node similarity),
    takes an empty edge frame and an edge frame with NULL endpoints
    without raising, returns its documented schema, and leaves no cached
    frame behind. A NULL endpoint carries no edge: where that
    contract holds, the call equals the same call on the NULL-free rows
    (3 and 4 are reached only through a NULL endpoint, so they are no
    nodes)."""
    from collections import Counter

    from project_cortex_spark.operators.dedup import duplicate_clusters
    from project_cortex_spark.operators.graph import (
        betweenness_centrality,
        closeness_centrality,
        communities_lpa,
        connected_components,
        hierarchy_closure,
        kcore,
        node_similarity,
        pagerank,
        pagerank_personalized,
        strongly_connected_components,
        triangles_per_node,
    )

    clean = [] if shape == "empty" else [(0, 1), (1, 2)]
    rows = clean if shape == "empty" else (
        [(0, None), (None, 2), (3, None), (None, 4)] + clean
    )
    seeds = spark.createDataFrame([(0,)], "node bigint")

    def frame(rows, cols):
        return spark.createDataFrame(rows, f"{cols[0]} bigint, {cols[1]} bigint")

    undirected = ["a", "b"]
    # (call, documented columns, does the NULL-endpoint contract hold)
    calls = [
        (lambda r: bfs(frame(r, ["src", "dst"]), [0], depth=6),
         ["node", "depth"], True),
        (lambda r: hierarchy_closure(frame(r, ["child", "parent"]), max_depth=6),
         ["node", "ancestor", "depth"], False),
        (lambda r: closeness_centrality(frame(r, undirected), seed_mod=1),
         ["node", "n_reached", "sum_dist", "harmonic", "closeness"], True),
        (lambda r: betweenness_centrality(frame(r, undirected), seed_mod=1),
         ["node", "betweenness", "n_seeds"], True),
        (lambda r: pagerank(frame(r, undirected), iters=3),
         ["node", "pr"], True),
        (lambda r: pagerank_personalized(frame(r, undirected), seeds, iters=3),
         ["node", "pr"], True),
        (lambda r: communities_lpa(frame(r, undirected), rounds=3, min_size=1),
         ["label", "n_nodes", "min_node"], True),
        (lambda r: strongly_connected_components(frame(r, ["src", "dst"])),
         ["node", "scc_id"], True),
        (lambda r: kcore(frame(r, undirected), k=1, rounds=3),
         ["node", "core_deg"], False),
        (lambda r: connected_components(frame(r, undirected)),
         ["doc_id", "cluster_id", "keep"], True),
        (lambda r: duplicate_clusters(frame(r, undirected)),
         ["doc_id", "cluster_id", "keep"], True),
        (lambda r: triangles_per_node(frame(r, undirected)),
         ["node", "n_triangles"], False),
        (lambda r: node_similarity(frame(r, undirected)),
         ["pa", "pb", "n_common", "jaccard"], False),
    ]
    for call, columns, null_free in calls:
        before = _cached_rdd_ids(spark)
        out = call(rows)
        got = Counter(map(tuple, out.collect()))
        assert out.columns == columns
        assert _cached_rdd_ids(spark) - before == set(), columns
        if shape == "null_endpoint" and null_free:
            assert got == Counter(map(tuple, call(clean).collect())), columns


def test_dedup_operators_leave_no_cached_frame(spark, registry):
    """The dedup and text operators that reuse an intermediate frame
    (minhash's shingles and signatures, the LSH band frame, SemDeDup's
    ranked members, the IVF cluster assignment, the capped and uncapped
    shingle universes of the exact pair joins, the simhash
    fingerprints, the exact-substring grams, the bigram frame) hold it
    as a local checkpoint: a call, run to the end, leaves no cached
    frame behind. The cache is cleared before each call, so a frame an
    earlier call left cached cannot stand in for a new one with the
    same plan."""
    from project_cortex_spark.operators.dedup import (
        containment_pairs,
        duplicated_ngram_stats,
        embedding_near_duplicates_ivf,
        embedding_near_duplicates_lsh,
        exact_substring_rewrite,
        minhash_near_duplicates,
        ngram_jaccard_pairs,
        ppjoin_pairs,
        semdedup,
        similar_pairs_auto,
        simhash_near_duplicates_banded,
    )
    from project_cortex_spark.operators.knn import train_centroids_ordered
    from project_cortex_spark.operators.textstats import bigram_lm_score

    docs, emb = registry.table("documents"), registry.table("embeddings")
    cents = train_centroids_ordered(
        emb, id_col="vec_id", vec_col="embedding", n_centroids=4, iters=2
    )
    calls = [
        (lambda: minhash_near_duplicates(docs, threshold=0.5, max_bucket=50),
         ["a", "b", "jaccard"]),
        (lambda: embedding_near_duplicates_lsh(emb, threshold=0.9, max_bucket=200),
         ["a", "b", "score"]),
        (lambda: semdedup(emb, threshold=0.7, centroids=cents, max_cluster=20),
         ["doc_id", "cluster_id", "centroid_sim", "rank", "keep"]),
        (lambda: embedding_near_duplicates_ivf(emb, threshold=0.7, centroids=cents),
         ["a", "b", "score"]),
        (lambda: ngram_jaccard_pairs(docs, max_df=50), ["a", "b", "jaccard"]),
        (lambda: containment_pairs(docs, max_df_frac=0.2),
         ["a", "b", "containment"]),
        (lambda: similar_pairs_auto(docs), ["a", "b", "jaccard"]),
        (lambda: duplicated_ngram_stats(docs),
         ["doc_id", "n_ngrams", "n_dup_ngrams", "dup_fraction"]),
        (lambda: simhash_near_duplicates_banded(docs), ["a", "b", "hamming"]),
        (lambda: exact_substring_rewrite(docs),
         ["doc_id", "n_chars", "removed_chars", "n_cut_spans", "cleaned_text"]),
        (lambda: ppjoin_pairs(docs), ["a", "b", "jaccard"]),
        (lambda: bigram_lm_score(docs), ["doc_id", "n_bigrams", "avg_logprob"]),
    ]
    for call, columns in calls:
        spark.catalog.clearCache()
        before = _cached_rdd_ids(spark)
        out = call()
        out.collect()
        assert out.columns == columns
        assert _cached_rdd_ids(spark) - before == set(), columns


def test_held_frames_read_every_shuffle_partition(spark, monkeypatch):
    """Every frame an operator spreads and holds for re-reading reads
    exactly ``spark.sql.shuffle.partitions`` partitions after the call:
    AQE coalesces a repartition without an explicit count (a small
    ``repartition("src")`` checkpoint reads 1), and the tasks that scan
    a held frame are the ones that produce its joins' fan-out. The test
    records every frame checkpointed straight from a repartition (under
    an observation, for the eager form of SCC's live edges)."""
    from project_cortex_spark.operators.graph import (
        betweenness_centrality,
        communities_lpa,
        pagerank,
        strongly_connected_components,
    )

    c1 = [(a, b) for a in range(1, 9) for b in range(1, 9) if a < b]
    c2 = [(a, b) for a in range(11, 19) for b in range(11, 19) if a < b]
    edges = spark.createDataFrame(c1 + c2 + [(8, 11)], "a bigint, b bigint")
    frame_cls = type(edges)
    checkpoint = frame_cls.localCheckpoint
    held = []

    def recording(self, eager=True, *args, **kwargs):
        out = checkpoint(self, eager, *args, **kwargs)
        plan = self._jdf.queryExecution().logical()
        while plan.nodeName() == "CollectMetrics":
            plan = plan.child()
        if plan.nodeName() == "RepartitionByExpression":
            held.append(out)
        return out

    monkeypatch.setattr(frame_cls, "localCheckpoint", recording)
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    calls = {
        "pagerank": lambda: pagerank(edges, iters=3, broadcast_ranks=False),
        "lpa": lambda: communities_lpa(edges, rounds=3, broadcast_labels=False),
        "betweenness": lambda: betweenness_centrality(edges, seed_mod=1),
        "scc": lambda: strongly_connected_components(edges, src="a", dst="b"),
    }
    for name, call in calls.items():
        held.clear()
        call().collect()
        assert held, name
        assert [f.rdd.getNumPartitions() for f in held] == [parts] * len(held), name


def test_only_the_two_holders_checkpoint_or_cache():
    """In graph.py, dedup.py and textstats.py only ``_checkpoint`` and
    ``_stationary`` call ``localCheckpoint``, ``cache``, ``persist`` or
    ``unpersist``: every other frame is held through them, so each
    held frame gets the one placement and lifetime rule."""
    import ast
    import pathlib

    ops = pathlib.Path(graph.__file__).parent
    holders = {"_checkpoint", "_stationary"}
    stray = []

    def walk(node, owner):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                walk(child, child.name)
                continue
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr
                in {"localCheckpoint", "cache", "persist", "unpersist"}
                and owner not in holders
            ):
                stray.append(f"{path.name}:{child.lineno} in {owner}")
            walk(child, owner)

    for name in ("graph.py", "dedup.py", "textstats.py"):
        path = ops / name
        walk(ast.parse(path.read_text()), None)
    assert stray == []


def _run_in_job_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        rows = sorted(map(tuple, fn().collect()))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return rows, len(sc.statusTracker().getJobIdsForGroup(group))


def test_fixpoint_rounds_run_no_convergence_job(spark):
    """The convergence test rides each round's checkpoint job: per
    round, connected_components drops its fingerprint aggregate and
    kcore its keep-set count. Fixed inputs, counted by job group:
    before, the 17-node path took 5 star rounds and 46 jobs, and the
    peel of a 3-node tail off a K4 took 4 rounds and 24 jobs; both must
    now run at least one job fewer per round."""
    from project_cortex_spark.operators.graph import connected_components, kcore

    path = spark.createDataFrame([(i, i + 1) for i in range(16)], "a bigint, b bigint")
    rows, jobs = _run_in_job_group(
        spark, "test_fixpoint_cc", lambda: connected_components(path)
    )
    assert rows == [(i, 0, i == 0) for i in range(17)]
    assert jobs <= 46 - 5

    tail = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (4, 5), (5, 6), (6, 7)],
        "a bigint, b bigint",
    )
    rows, jobs = _run_in_job_group(
        spark, "test_fixpoint_kcore", lambda: kcore(tail, k=2, rounds=8)
    )
    assert rows == [(1, 3), (2, 3), (3, 3), (4, 3)]
    assert jobs <= 24 - 4


def test_communities_lpa_honours_broadcast_labels(spark, monkeypatch):
    """``broadcast_labels=False`` plans every round's label join without
    a broadcast hint; the automatic switch hints it. Each round is a
    lazy checkpoint, so the test records the extended plan of every
    frame lazily checkpointed during the call."""
    import contextlib
    import io

    from project_cortex_spark.operators.graph import communities_lpa

    c1 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    c2 = [(a, b) for a in range(11, 15) for b in range(11, 15) if a < b]
    edges = spark.createDataFrame(c1 + c2 + [(4, 11)], "a bigint, b bigint")
    frame_cls = type(edges)
    checkpoint = frame_cls.localCheckpoint
    plans = []

    def recording(self, eager=True, *args, **kwargs):
        if not eager:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                self.explain(extended=True)
            plans.append(buf.getvalue())
        return checkpoint(self, eager, *args, **kwargs)

    monkeypatch.setattr(frame_cls, "localCheckpoint", recording)

    def run(**kw):
        plans.clear()
        rows = sorted(map(tuple, communities_lpa(edges, rounds=3, **kw).collect()))
        return rows, sum("strategy=broadcast" in p for p in plans)

    auto_rows, auto_hinted = run()
    off_rows, off_hinted = run(broadcast_labels=False)
    assert auto_rows == off_rows
    assert auto_hinted == 3
    assert off_hinted == 0


def test_communities_lpa_separates_two_cliques(spark):
    """Two 4-cliques joined by one bridge edge: synchronous min-tie LPA
    must converge each clique onto its own (minimum-id) label."""
    from project_cortex_spark.operators.graph import communities_lpa

    c1 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a < b]
    c2 = [(a, b) for a in range(11, 15) for b in range(11, 15) if a < b]
    edges = spark.createDataFrame(c1 + c2 + [(4, 11)], "a bigint, b bigint")
    rows = communities_lpa(edges, rounds=4).collect()
    sizes = sorted(r.n_nodes for r in rows)
    assert sum(sizes) == 8
    assert len(rows) == 2
    assert {r.min_node for r in rows} == {1, 11}


def test_communities_lpa_matches_oracle(registry, duck):
    from project_cortex_spark import oracle as ora
    from project_cortex_spark.operators.graph import (
        communities_lpa,
        cooccurrence_edges,
    )
    from tests.conftest import assert_matches_oracle

    out = communities_lpa(
        cooccurrence_edges(
            registry.table("lineitem"),
            group_col="l_orderkey",
            item_col="l_partkey",
            max_df=50,
        )
    )
    assert_matches_oracle(out, duck, ora.communities_lpa_sql())


# ---------------------------------------------------------------------------
# connected components (large-star / small-star alternation)
# ---------------------------------------------------------------------------


class TestConnectedComponents:
    def _cc(self, spark, pairs):
        df = graph.connected_components(
            spark.createDataFrame(pairs, ["a", "b"])
        )
        return {
            (r["doc_id"], r["cluster_id"], r["keep"]) for r in df.collect()
        }

    def test_path_graph(self, spark):
        # a 64-node chain: the adversarial shape for min-label
        # propagation (diameter 63); star alternation must still label
        # every node with the chain minimum
        pairs = [(i, i + 1) for i in range(64)]
        got = self._cc(spark, pairs)
        assert got == {(i, 0, i == 0) for i in range(65)}

    def test_two_components_and_cycle(self, spark):
        pairs = [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12)]
        got = self._cc(spark, pairs)
        assert got == {
            (1, 1, True), (2, 1, False), (3, 1, False),
            (10, 10, True), (11, 10, False), (12, 10, False),
        }

    def test_matches_min_label_on_random_graph(self, spark):
        import random

        rng = random.Random(7)
        pairs = [
            (rng.randrange(200), rng.randrange(200)) for _ in range(150)
        ]
        pairs = [(x, y) for x, y in pairs if x != y]
        from project_cortex_spark.operators import dedup as dd

        star = self._cc(spark, pairs)
        label = {
            (r["doc_id"], r["cluster_id"], r["keep"])
            for r in dd.duplicate_clusters(
                spark.createDataFrame(pairs, ["a", "b"])
            ).collect()
        }
        assert star == label

    def test_empty_pairs(self, spark):
        df = graph.connected_components(
            spark.createDataFrame([], "a bigint, b bigint")
        )
        assert df.count() == 0
        assert df.columns == ["doc_id", "cluster_id", "keep"]

    def test_self_pairs_only(self, spark):
        # self loops carry no connectivity; the node set is empty too
        # (contract: only nodes participating in a real pair appear)
        df = graph.connected_components(
            spark.createDataFrame([(5, 5)], ["a", "b"])
        )
        assert df.count() == 0

def test_cooccurrence_df_cap_drops_hot_items(spark):
    """The df cap must remove hot items from the edge universe while
    keeping cold co-occurrences (the contract the reverted literal-path
    variant also satisfied - see cooccurrence_edges plan history)."""
    rows = []
    for g in range(4):
        rows += [(g, 100), (g, 101), (g, g * 2 + 1), (g, g * 2 + 2)]
    df = spark.createDataFrame(rows, ["grp", "item"])
    pairs = {
        (r["a"], r["b"])
        for r in graph.cooccurrence_edges(
            df, group_col="grp", item_col="item", max_df=3
        ).collect()
    }
    flat = {n for p in pairs for n in p}
    assert 100 not in flat and 101 not in flat  # the cap bound
    assert pairs  # cold pairs survive



# --- cortex_analysis surface (canopy spec overview.md:16) ---


def test_cycle_members_topologies(spark):
    """Self-loop, 3-ring, branch into a ring, and a pure DAG tail."""
    edges = spark.createDataFrame(
        [
            (1, 1),            # self-loop: cycle_len 1
            (2, 3), (3, 4), (4, 2),   # 3-ring
            (5, 2),            # feeds the ring but is NOT on a cycle
            (6, 7),            # DAG tail
        ],
        ["src", "dst"],
    )
    got = {
        r["node"]: r["cycle_len"]
        for r in graph.cycle_members(edges, max_len=6).collect()
    }
    assert got == {1: 1, 2: 3, 3: 3, 4: 3}


def test_cycle_members_min_length_and_cap(spark):
    """A node on both a 2-cycle and a 4-cycle reports 2; a cycle longer
    than max_len is not reported."""
    edges = spark.createDataFrame(
        [
            (1, 2), (2, 1),                 # 2-cycle through 1,2
            (2, 3), (3, 4), (4, 1),         # plus a 4-cycle through 1..4
            (10, 11), (11, 12), (12, 10),   # 3-ring, below the cap
        ],
        ["src", "dst"],
    )
    got = {
        r["node"]: r["cycle_len"]
        for r in graph.cycle_members(edges, max_len=2).collect()
    }
    assert got == {1: 2, 2: 2}  # the 3-ring exceeds max_len=2
    got6 = {
        r["node"]: r["cycle_len"]
        for r in graph.cycle_members(edges, max_len=6).collect()
    }
    # 3 and 4 lie on the 4-cycle (1->2->3->4->1); 1 and 2 keep the 2-cycle
    assert got6 == {1: 2, 2: 2, 3: 4, 4: 4, 10: 3, 11: 3, 12: 3}


def test_cycle_members_dag_empty(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4)], ["src", "dst"]
    )
    assert graph.cycle_members(edges, max_len=6).count() == 0


def test_cycle_functional_fast_path_equivalence(spark):
    """The max-out-degree==1 fast path (skip per-level distinct /
    min(path) and visited pruning) returns IDENTICAL rows to the
    general path, including on a rho shape (9->8 tail into the 7<->8
    2-cycle) where the pruned path would drop revisits: origin 9's
    walk oscillates 8,7,8,7... and must report no cycle either way."""
    edges = spark.createDataFrame(
        [
            (1, 1),                  # self-loop
            (2, 3), (3, 4), (4, 2),  # 3-ring
            (7, 8), (8, 7),          # 2-cycle
            (9, 8),                  # rho tail: revisits without closing
            (5, 6),                  # DAG tail
        ],
        ["src", "dst"],
    )
    fast = {
        (r["node"], r["cycle_len"])
        for r in graph.cycle_members(edges, max_len=6, functional=True).collect()
    }
    slow = {
        (r["node"], r["cycle_len"])
        for r in graph.cycle_members(edges, max_len=6, functional=False).collect()
    }
    auto = {
        (r["node"], r["cycle_len"])
        for r in graph.cycle_members(edges, max_len=6).collect()
    }
    assert fast == slow == auto
    assert fast == {(1, 1), (2, 3), (3, 3), (4, 3), (7, 2), (8, 2)}

    fast_p = {
        (r["node"], r["cycle_len"], r["path"])
        for r in graph.cycle_paths(edges, max_len=6, functional=True).collect()
    }
    slow_p = {
        (r["node"], r["cycle_len"], r["path"])
        for r in graph.cycle_paths(edges, max_len=6, functional=False).collect()
    }
    auto_p = {
        (r["node"], r["cycle_len"], r["path"])
        for r in graph.cycle_paths(edges, max_len=6).collect()
    }
    assert fast_p == slow_p == auto_p

    # multi-out-degree graphs must auto-detect the general path and
    # still agree with the forced general path (duplicate rows count)
    multi = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 1), (3, 1)], ["src", "dst"]
    )
    assert graph._max_out_degree(
        multi.select(F.col("src").alias("_s"), F.col("dst").alias("_d"))
    ) == 2
    got_auto = {
        (r["node"], r["cycle_len"])
        for r in graph.cycle_members(multi, max_len=6).collect()
    }
    got_slow = {
        (r["node"], r["cycle_len"])
        for r in graph.cycle_members(multi, max_len=6, functional=False).collect()
    }
    assert got_auto == got_slow == {(1, 2), (2, 2), (3, 3)}


def test_unused_symbols_anti_join_and_exclusion(spark):
    nodes = spark.createDataFrame([(i,) for i in range(1, 7)], ["node"])
    edges = spark.createDataFrame([(1, 2), (2, 3), (4, 3)], ["src", "dst"])
    # unreferenced: 1, 4, 5, 6; exclude entry points {5}
    exclude = spark.createDataFrame([(5,)], ["node"])
    got = {
        r["node"]
        for r in graph.unused_symbols(nodes, edges, exclude=exclude).collect()
    }
    assert got == {1, 4, 6}


def test_hotspots_degrees_and_tie_order(spark):
    edges = spark.createDataFrame(
        # node 3: fan_in 2, fan_out 1; nodes 1 and 2 tie on degree 2
        [(1, 3), (2, 3), (3, 1), (2, 4)],
        ["src", "dst"],
    )
    rows = graph.hotspots(edges, top_n=3).collect()
    assert [(r["node"], r["fan_in"], r["fan_out"], r["degree"]) for r in rows] == [
        (3, 2, 1, 3),
        (1, 1, 1, 2),   # degree tie with 2 -> node asc
        (2, 0, 2, 2),
    ]


def test_hierarchy_closure_diamond_min_depth(spark):
    # diamond: 1 -> {2, 3} -> 4, plus a direct 1 -> 4 edge: depth(1,4)=1
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4), (1, 4)], ["child", "parent"]
    )
    got = {
        (r["node"], r["ancestor"]): r["depth"]
        for r in graph.hierarchy_closure(edges, max_depth=5).collect()
    }
    assert got == {
        (1, 2): 1, (1, 3): 1, (1, 4): 1,
        (2, 4): 1, (3, 4): 1,
    }


def test_hierarchy_closure_chain_depths(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], ["child", "parent"]
    )
    got = {
        (r["node"], r["ancestor"]): r["depth"]
        for r in graph.hierarchy_closure(edges, max_depth=10).collect()
    }
    assert got == {
        (1, 2): 1, (2, 3): 1, (3, 4): 1,
        (1, 3): 2, (2, 4): 2,
        (1, 4): 3,
    }
    # depth clamp respected
    got2 = {
        (r["node"], r["ancestor"]): r["depth"]
        for r in graph.hierarchy_closure(edges, max_depth=2).collect()
    }
    assert (1, 4) not in got2 and (1, 3) in got2


def test_analysis_ops_degenerate_inputs(spark):
    """Empty / single-row frames must produce well-formed empties, not
    errors — the same battery the r6 operators got."""
    from project_cortex_spark.operators.graph import (
        cycle_members,
        hierarchy_closure,
        hotspots,
        unused_symbols,
    )

    empty = spark.createDataFrame([], "src bigint, dst bigint")
    assert cycle_members(empty, max_len=4).count() == 0
    assert hotspots(empty).count() == 0
    one = spark.createDataFrame([(1, 2)], ["src", "dst"])
    assert cycle_members(one, max_len=4).count() == 0
    rows = hotspots(one, top_n=10).collect()
    assert {(r["node"], r["degree"]) for r in rows} == {(1, 1), (2, 1)}
    nodes = spark.createDataFrame([(1,), (2,)], ["node"])
    assert {
        r["node"] for r in unused_symbols(nodes, empty).collect()
    } == {1, 2}
    h_empty = spark.createDataFrame([], "child bigint, parent bigint")
    assert hierarchy_closure(h_empty).count() == 0
    h_one = spark.createDataFrame([(1, 2)], ["child", "parent"])
    got = hierarchy_closure(h_one, max_depth=10).collect()
    assert [(r["node"], r["ancestor"], r["depth"]) for r in got] == [(1, 2, 1)]


def test_scc_topologies(spark):
    from project_cortex_spark.operators.graph import (
        strongly_connected_components as scc,
    )

    edges = spark.createDataFrame(
        [
            # ring A: 1-2-3; ring B: 10-11; bridge A->B (one-way)
            (1, 2), (2, 3), (3, 1),
            (10, 11), (11, 10),
            (3, 10),
            # DAG tail: singletons
            (20, 21), (21, 22),
            # figure-eight: 30-31-30 and 31-32-31 share node 31 -> ONE scc
            (30, 31), (31, 30), (31, 32), (32, 31),
            # self-loop
            (40, 40),
        ],
        ["src", "dst"],
    )
    got = {r["node"]: r["scc_id"] for r in scc(edges).collect()}
    assert got == {
        1: 1, 2: 1, 3: 1,
        10: 10, 11: 10,
        20: 20, 21: 21, 22: 22,
        30: 30, 31: 30, 32: 30,
        40: 40,
    }


def test_scc_empty_and_pure_dag(spark):
    from project_cortex_spark.operators.graph import (
        strongly_connected_components as scc,
    )

    empty = spark.createDataFrame([], "src bigint, dst bigint")
    assert scc(empty).count() == 0
    dag = spark.createDataFrame([(3, 2), (2, 1), (3, 1)], ["src", "dst"])
    got = {r["node"]: r["scc_id"] for r in scc(dag).collect()}
    assert got == {1: 1, 2: 2, 3: 3}


def test_cycles_and_scc_agree(spark):
    """Cross-operator invariant: nodes with a bounded cycle (len <= L)
    are exactly the nodes whose SCC is non-trivial (size >= 2 or
    self-loop) whenever all cycles fit under L."""
    from project_cortex_spark.operators.graph import (
        cycle_members,
        strongly_connected_components as scc,
    )

    edges = spark.createDataFrame(
        [
            (1, 2), (2, 3), (3, 1),        # 3-ring
            (4, 4),                        # self-loop
            (5, 6), (6, 7),                # DAG tail
            (8, 9), (9, 8),                # 2-ring
        ],
        ["src", "dst"],
    )
    cyc = {r["node"] for r in cycle_members(edges, max_len=8).collect()}
    comp = scc(edges).collect()
    sizes: dict[int, int] = {}
    for r in comp:
        sizes[r["scc_id"]] = sizes.get(r["scc_id"], 0) + 1
    loops = {r["src"] for r in edges.filter("src = dst").collect()}
    nontrivial = {
        r["node"] for r in comp if sizes[r["scc_id"]] >= 2
    } | loops
    assert cyc == nontrivial


def test_scc_string_node_ids(spark):
    """ADVICE r7: the convergence checksum cast labels to
    decimal(38,0); non-numeric ids (the namespaced 'c:123' style the
    hierarchy closure uses) became NULL, sum(NULL) == sum(NULL) read
    as instant convergence, and the peel returned silently wrong SCCs.
    Min-label propagation is valid for any orderable id type — string
    rings must resolve exactly like numeric ones (scc_id = the
    lexicographically smallest member)."""
    from project_cortex_spark.operators.graph import (
        strongly_connected_components as scc,
    )

    edges = spark.createDataFrame(
        [
            # 3-ring, 2-ring reachable from it, DAG tail, self-loop
            ("c:1", "c:2"), ("c:2", "c:3"), ("c:3", "c:1"),
            ("c:3", "c:10"), ("c:10", "c:11"), ("c:11", "c:10"),
            ("c:20", "c:21"),
            ("c:40", "c:40"),
        ],
        ["src", "dst"],
    )
    got = {r["node"]: r["scc_id"] for r in scc(edges).collect()}
    assert got == {
        "c:1": "c:1", "c:2": "c:1", "c:3": "c:1",
        "c:10": "c:10", "c:11": "c:10",
        "c:20": "c:20", "c:21": "c:21",
        "c:40": "c:40",
    }


def test_cycle_paths_canonical_selection(spark):
    """Branching fixtures (which the out-degree-1 ring gate cannot
    exercise): among multiple minimal cycles the lexicographically
    smallest '>'-joined walk string wins, including when two prefixes
    meet at the same node mid-walk and when string order differs from
    numeric order."""
    from project_cortex_spark.operators.graph import cycle_members, cycle_paths

    edges = spark.createDataFrame(
        [
            # node 1 on TWO 2-cycles: canon picks 1>2>1 over 1>3>1
            (1, 2), (2, 1), (1, 3), (3, 1),
            # 3-cycle with a dead-end branch off node 5
            (5, 6), (6, 7), (7, 5), (5, 8),
            # two len-3 cycles through 10 merging at node 13:
            # 10>11>13>10 beats 10>12>13>10 (prefix min composes)
            (10, 11), (10, 12), (11, 13), (12, 13), (13, 10),
            # string order, not numeric: 9>100>9 beats 9>20>9
            (9, 100), (100, 9), (9, 20), (20, 9),
        ],
        ["src", "dst"],
    )
    got = {
        r["node"]: (r["cycle_len"], r["path"])
        for r in cycle_paths(edges, max_len=6).collect()
    }
    assert got[1] == (2, "1>2>1")
    assert got[2] == (2, "2>1>2")
    assert got[3] == (2, "3>1>3")
    assert got[5] == (3, "5>6>7>5")
    assert got[6] == (3, "6>7>5>6")
    assert got[7] == (3, "7>5>6>7")
    assert 8 not in got  # dead-end: not on any cycle
    assert got[10] == (3, "10>11>13>10")
    assert got[13] == (3, "13>10>11>13")
    assert got[9] == (2, "9>100>9")
    assert got[100] == (2, "100>9>100")
    assert got[20] == (2, "20>9>20")
    # every path's length and endpoints agree with its row, and the
    # (node, cycle_len) projection equals cycle_members exactly
    for node, (ln, path) in got.items():
        parts = path.split(">")
        assert len(parts) == ln + 1
        assert parts[0] == parts[-1] == str(node)
    members = {
        r["node"]: r["cycle_len"]
        for r in cycle_members(edges, max_len=6).collect()
    }
    assert members == {n: ln for n, (ln, _p) in got.items()}


def test_cycle_paths_self_loop_and_max_len(spark):
    from project_cortex_spark.operators.graph import cycle_paths

    edges = spark.createDataFrame(
        [(4, 4), (1, 2), (2, 3), (3, 1)], ["src", "dst"]
    )
    got = {
        r["node"]: (r["cycle_len"], r["path"])
        for r in cycle_paths(edges, max_len=2).collect()
    }
    # self-loop closes at level 1; the 3-ring exceeds max_len=2
    assert got == {4: (1, "4>4")}


def test_pagerank_personalized_properties(spark):
    """(a) with seeds == all nodes, PPR is exactly global pagerank
    (identical teleport); (b) probability mass stays 1 at every fixed
    iteration (undirected contract: no dangling loss); (c) the seed
    concentrates mass relative to a symmetric non-seed."""
    from project_cortex_spark.operators.graph import (
        pagerank,
        pagerank_personalized,
    )

    # symmetric 4-ring: 1-2-3-4-1 (undirected a<b list)
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4)], ["a", "b"]
    )
    all_nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 4)], ["node"])
    ppr_all = {
        r["node"]: r["pr"]
        for r in pagerank_personalized(edges, all_nodes, iters=4).collect()
    }
    pr = {r["node"]: r["pr"] for r in pagerank(edges, iters=4).collect()}
    assert ppr_all == pr
    one = spark.createDataFrame([(1,)], ["node"])
    got = {
        r["node"]: r["pr"]
        for r in pagerank_personalized(edges, one, iters=4).collect()
    }
    assert abs(sum(got.values()) - 1.0) < 1e-6
    # the 4-ring is BIPARTITE: after an even number of power steps the
    # walk's mass sits on the seed's parity class, so the ANTIPODE
    # outranks the neighbors — seed > antipode > neighbor at iters=4
    assert got[1] > got[3] > got[2]
    assert got[2] == got[4]  # ring symmetry around the seed
    # seeds that are not graph nodes raise rather than divide by zero
    import pytest as _pytest

    ghost = spark.createDataFrame([(99,)], ["node"])
    with _pytest.raises(ValueError, match="no seed"):
        pagerank_personalized(edges, ghost, iters=2)


def test_cycle_selfloop_with_out_edges_closes_at_level_one(spark):
    """A self-loop origin that also has other out-edges closes at
    level 1 and leaves the frontier (the same anti-join discipline as
    every later level) — its longer walks must not resurface."""
    from project_cortex_spark.operators.graph import cycle_members, cycle_paths

    edges = spark.createDataFrame(
        [("x", "x"), ("x", "y"), ("y", "x")], ["src", "dst"]
    )
    members = {
        r["node"]: r["cycle_len"]
        for r in cycle_members(edges, max_len=6).collect()
    }
    assert members == {"x": 1, "y": 2}
    paths = {
        r["node"]: (r["cycle_len"], r["path"])
        for r in cycle_paths(edges, max_len=6).collect()
    }
    assert paths == {"x": (1, "x>x"), "y": (2, "y>x>y")}


def test_closeness_path_graph(spark):
    """Hand graph: path 0-1-2-3-4 (a<b edges). Seeds % 20 == 0 -> {0,
    20}; 20 is isolated-from-the-path via its own edge to 21. From 0
    with radius 3: dists 1,2,3 -> n_reached 3, sum 6, harmonic
    1 + 1/2 + 1/3, closeness 0.5. From 20: one neighbor at dist 1."""
    from project_cortex_spark.operators.graph import closeness_centrality

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (20, 21)], ["a", "b"]
    )
    got = {r["node"]: r for r in closeness_centrality(edges).collect()}
    assert set(got) == {0, 20}
    r0 = got[0]
    assert (r0["n_reached"], r0["sum_dist"]) == (3, 6)
    assert r0["harmonic"] == round(1 + 1 / 2 + 1 / 3, 6)
    assert r0["closeness"] == 0.5
    assert (got[20]["n_reached"], got[20]["closeness"]) == (1, 1.0)


def test_closeness_matches_recursive_oracle(registry, duck):
    from project_cortex_spark import oracle
    from project_cortex_spark.operators.graph import (
        closeness_centrality,
        cooccurrence_edges,
    )

    df = closeness_centrality(
        cooccurrence_edges(
            registry.table("lineitem"),
            group_col="l_orderkey",
            item_col="l_partkey",
            max_df=50,
        )
    )
    assert_matches_oracle(df, duck, oracle.closeness_sql(max_df=50))


def test_closeness_seed_cap_bounds_state(spark):
    """max_seeds is a hard bound: with 4 qualifying seed ids and
    max_seeds=2, only the first two (ORDER BY node) get BFS'd — the
    property that keeps frontier state max_seeds*|V| at any scale."""
    from project_cortex_spark.operators.graph import closeness_centrality

    edges = spark.createDataFrame(
        [(0, 1), (20, 21), (40, 41), (60, 61)], ["a", "b"]
    )
    got = {r["node"] for r in closeness_centrality(
        edges, max_seeds=2
    ).collect()}
    assert got == {0, 20}


def test_betweenness_path_graph(spark):
    """P4 path 1-2-3-4, every node a seed: raw Brandes betweenness of
    an interior node is 2x its interior-pair count — node 2 sits
    inside {1,3} and {1,4} -> 4.0; endpoints 0. (Hand-derived: from
    s=1 the backward fold gives delta(2)=2, from s=3 and s=4 one
    each.)"""
    from project_cortex_spark.operators.graph import betweenness_centrality

    edges = spark.createDataFrame([(1, 2), (2, 3), (3, 4)], ["a", "b"])
    got = {
        r["node"]: (r["betweenness"], r["n_seeds"])
        for r in betweenness_centrality(
            edges, seed_mod=1, max_seeds=99
        ).collect()
    }
    assert got[2] == (4.0, 3) and got[3] == (4.0, 3)
    assert got[1][0] == 0.0 and got[4][0] == 0.0


def test_betweenness_diamond_fractional_sigma(spark):
    """Diamond 1-2, 1-3, 2-4, 3-4: two equal shortest paths 1<->4, so
    each middle node carries sigma-fraction 1/2 per direction ->
    betweenness 1.0 — exercises the rational term + e6 quantization
    path (path counts > 1)."""
    from project_cortex_spark.operators.graph import betweenness_centrality

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4)], ["a", "b"]
    )
    got = {
        r["node"]: r["betweenness"]
        for r in betweenness_centrality(
            edges, seed_mod=1, max_seeds=99
        ).collect()
    }
    assert got[2] == 1.0 and got[3] == 1.0
    assert got[1] == 1.0 and got[4] == 1.0  # 1 bridges 2-3, 4 bridges 2-3


def test_betweenness_matches_unrolled_oracle(registry, duck):
    from project_cortex_spark import oracle
    from project_cortex_spark.operators.graph import (
        betweenness_centrality,
        cooccurrence_edges,
    )

    df = betweenness_centrality(
        cooccurrence_edges(
            registry.table("lineitem"),
            group_col="l_orderkey",
            item_col="l_partkey",
            max_df=50,
        )
    )
    assert_matches_oracle(df, duck, oracle.betweenness_sql(max_df=50))
