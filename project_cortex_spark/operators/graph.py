"""Graph operators (``cortex_graph`` parity): bounded-depth traversals,
shortest path, implements-inference, impact analysis.

Reference: all eight operations dispatch from
/root/reference/internal/graph/searcher_sql.go:56-75 over edge tables
(function_calls, type_relationships, imports) using recursive CTEs with
depth clamp (default 3, max 6 engine / 10 tool, searcher_sql.go:43-50);
results are deterministic via ORDER BY depth, id (searcher_sql.go:425).

Spark-first design: a traversal (callers, callees, impact, bfs_multi,
shortest_path) keeps its frontier and visited set on the driver, like
the reference's in-memory visited set (searcher_sql.go:185-209). Each
level is one broadcast scan: the frontier's distinct nodes, as a small
local relation, are broadcast-joined to the stationary edge table, and
the scan's matching (src, dst) pairs are collected. Min depth, the visited set
and path choice are then set operations on the driver, and the result
comes back as a local relation already in contract order — the edge
table is never shuffled and no distinct, union or sort runs in Spark.
This costs no new scale limit: broadcasting the frontier already
shipped every level's nodes through the driver, so the driver holds the
same bytes it did before, now without a per-level plan over them.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..session import local_frame

MAX_DEPTH = 10  # tool-level clamp (internal/mcp/graph_tool.go:30-55)
DEFAULT_DEPTH = 3


def _clamp_depth(depth: int) -> int:
    return max(1, min(depth, MAX_DEPTH))


def _union_all(frames: list) -> DataFrame:
    return reduce(DataFrame.unionByName, frames)


def _checkpoint(df: DataFrame, **observe) -> tuple:
    """Eager local checkpoint of ``df`` plus what the checkpoint's own
    job observed: ``n`` (row count), ``fp`` (an order-insensitive
    fingerprint) and every named aggregate in ``observe``. The numbers
    come from an :class:`Observation` on the checkpointed plan, so no
    second Spark job (count, isEmpty, first, a fingerprint aggregate)
    re-reads the frame to produce them.

    ``fp`` is the sum of a per-row xxhash64. An unchanged (n, fp) pair
    misreads a changed frame only if distinct 64-bit hash deltas cancel
    exactly — far below hardware soft-error rates, and every capped loop
    still bounds its rounds. Hashing, NOT a numeric cast of the values:
    node ids need not be numeric (hierarchy_closure's namespaced 'c:123'
    strings), and a cast-to-decimal maps those to NULL, whose sum
    compares NULL == NULL after one round — phantom convergence. The
    decimal(38,0) accumulator is because a BIGINT sum of xxhash64
    values overflows under ANSI mode on any non-trivial frame."""
    obs = Observation()
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*df.columns).cast("decimal(38,0)")).alias("fp"),
        *[agg.alias(name) for name, agg in observe.items()],
    ).localCheckpoint(eager=True)
    return out, obs.get


def _repeated(prev, obs) -> bool:
    return prev == obs


def _emptied(prev, obs) -> bool:
    return obs["n"] == 0


def _iterate(
    state: DataFrame,
    step,
    *,
    max_rounds: int | None = None,
    until=_repeated,
    strict: bool = True,
    lazy: bool = False,
    **observe,
) -> tuple:
    """The one iterate-and-checkpoint loop every fixpoint operator runs:
    ``state := step(state, obs)`` until ``until(prev_obs, obs)`` holds.
    Returns ``(state, obs)`` of the last round.

    Every round's state, the initial one included, is one
    :func:`_checkpoint`: the lineage is cut, and the observation the
    stop test reads (``n``, ``fp`` and the named ``observe``
    aggregates) comes from that checkpoint's own job — no round runs a
    separate probe job. ``until`` defaults to "the observation
    repeated", a fixpoint; it also sees the initial observation, with
    ``prev`` None. ``step`` receives the observation of the state it
    advances, so a node count for :func:`_bcast` costs nothing. The
    previous round's state is released as the round ends: the loop
    drops its only reference, and Spark's context cleaner frees the
    checkpoint blocks once the frame is garbage-collected.

    ``max_rounds`` (None = uncapped) raises ``RuntimeError`` if the
    loop has not stopped by then, or with ``strict=False`` ends it
    quietly (a fixed round budget). ``lazy=True`` is the fixed-round
    power loop of pagerank, personalized pagerank and LPA: exactly
    ``max_rounds`` steps with ``localCheckpoint(eager=False)``, no
    observation and no stop test, so every round folds into the
    consuming job. Those loops never stop early, so an eager observed
    round would only add a blocking job per round."""
    if lazy:
        for _ in range(max_rounds):
            state = step(state, None).localCheckpoint(eager=False)
        return state, None
    state, obs = _checkpoint(state, **observe)
    prev, rounds = None, 0
    while not until(prev, obs):
        if rounds == max_rounds:
            if strict:
                raise RuntimeError(f"no convergence in {max_rounds} rounds")
            break
        prev, rounds = obs, rounds + 1
        state, obs = _checkpoint(step(state, prev), **observe)
    return state, obs


# Above this node count the per-iteration node frame (ranks / labels /
# keep set) stops being broadcastable and the iterative ops switch to
# the shuffle-join fallback: the stationary edge list is hash-partitioned
# on the join key ONCE (localCheckpoint preserves the partitioning), so
# each round's join exchanges only the |V|-row frame. The A/B at sf1
# (scripts/ab_graph_broadcast.py, recorded in SCALE.md) measures both
# paths; the default favors broadcast far past any local scale and is
# sized for ~16-byte (id, double) rows against executor memory.
BROADCAST_NODE_LIMIT = 50_000_000


def _shuffled(df: DataFrame) -> DataFrame:
    return df


def _bcast(n: int, override: bool | None = None):
    """The one broadcast-vs-shuffle switch: the join hint for a
    node-sized frame of ``n`` rows — ``F.broadcast`` up to
    :data:`BROADCAST_NODE_LIMIT`, else :func:`_shuffled` (the identity:
    a plain shuffle join). ``override``, an operator's ``broadcast_*``
    option, forces either side."""
    if override is None:
        override = n <= BROADCAST_NODE_LIMIT
    return F.broadcast if override else _shuffled


def _undirected(edges: DataFrame, a: str, b: str, **observe) -> tuple:
    """The prologue of the operators over an undirected edge list.
    Returns ``(e, nodes, obs)``:

    - ``e``: (src, dst), both directions of every (a, b) row. A row with
      a NULL endpoint carries no edge and is dropped. ``e`` is a lazy
      local checkpoint: the first job that reads it stores it, so an
      expensive upstream edge pipeline runs once;
    - ``nodes``: (node, deg), every endpoint with its degree in ``e``,
      eagerly checkpointed;
    - ``obs``: that checkpoint's observation — ``n`` nodes, the least
      and greatest id ``mn`` / ``mx``, and the named ``observe``
      aggregates over ``nodes``.
    """
    one = edges.select(F.col(a).alias("src"), F.col(b).alias("dst")).dropna()
    e = one.unionByName(
        one.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=False)
    nodes, obs = _checkpoint(
        e.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("deg")),
        mn=F.min("node"),
        mx=F.max("node"),
        **observe,
    )
    return e, nodes, obs


def _frontier_levels(
    level0: DataFrame,
    expand,
    keys: list,
    *,
    depth: int,
    hint=_shuffled,
) -> list:
    """The level-synchronous frontier loop every seen-set BFS shares:
    level d = ``expand(level d-1, d)`` minus every key of levels 0..d-1,
    for d = 1..``depth``. Returns ``[level0, level1, ...]`` up to the
    first empty level.

    An :func:`_iterate` run whose state is the newest level and whose
    stop test is "the level's observed row count is 0", so the
    empty-level exit costs no job of its own. The anti-join probes ONE
    running seen frame (one union per level, not a re-union of every
    prior level), its build side wrapped in the caller's join
    ``hint``."""
    levels, seen = [], None

    def advance(level: DataFrame, _) -> DataFrame:
        nonlocal seen
        levels.append(level)
        keyed = level.select(*keys)
        seen = keyed if seen is None else seen.unionByName(keyed)
        return expand(level, len(levels)).join(hint(seen), keys, "left_anti")

    last, obs = _iterate(
        level0, advance, max_rounds=depth, until=_emptied, strict=False
    )
    # the last level joins unless it came back empty; level 0 always does
    if obs["n"] or not levels:
        levels.append(last)
    return levels


def _walk(
    edges: DataFrame, roots: dict, *, depth: int, src: str, dst: str, until=None
) -> tuple:
    """The one traversal kernel: a BFS per root label, all roots
    advanced together, one broadcast scan of the edges per level (two
    Spark jobs: the frontier's broadcast and the scan).

    ``roots`` maps a label to its start nodes. Returns ``(types,
    levels)``: ``types`` maps ``_src``/``_dst`` to the edge projection's
    column types, and ``levels[label]`` is ``[level 0, level 1, ...]``, level d
    a dict {node first reached at depth d: its parent at depth d-1}
    (level 0 maps the start nodes to None). A level lists its nodes in
    lexicographic order of their least path from the root: the parent
    is the predecessor whose own path is least, ties by node. The walk
    stops after ``depth`` levels, when every frontier is empty, or once
    a level reaches ``until``. A NULL endpoint carries no edge.

    Per level, the frontier's distinct nodes become a local relation
    (:func:`local_frame`) that is broadcast-joined (left semi) to the
    stationary edge projection, and the scan's (src, dst) pairs are
    collected; the visited sets and the min depth are driver-side set
    operations, so no level plans a distinct, union or sort.

    One form, no fast path. One frontier scan of a 2M-edge parquet
    table on 4 cores: a ``Column.isin(<python list>)`` filter is faster
    on a tiny frontier (0.09 s vs 0.18 s at one node), but PySpark
    builds one py4j literal per value, so it took 2.7 s at 10k frontier
    nodes and 26.8 s at 100k. The broadcast local relation took 0.32 s
    and 1.7 s on the same inputs, and a hand-written
    ``expr("_src IN (...)")`` 0.51 s and 4.6 s."""
    spark = edges.sparkSession
    e = edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst")).dropna()
    key = StructType([e.schema["_src"]])
    levels = {r: [dict.fromkeys(s)] for r, s in roots.items()}
    seen = {r: set(s) for r, s in roots.items()}
    for _ in range(depth):
        frontier = {u for lv in levels.values() for u in lv[-1]}
        if not frontier:
            break
        hits = e.join(
            F.broadcast(local_frame(spark, [(u,) for u in frontier], key)),
            "_src",
            "left_semi",
        ).collect()
        adj: dict = {}
        for u, v in hits:
            adj.setdefault(u, []).append(v)
        for vs in adj.values():
            vs.sort()
        for r, lv in levels.items():
            nxt: dict = {}
            for u in lv[-1]:
                for v in adj.get(u, ()):
                    if v not in seen[r] and v not in nxt:
                        nxt[v] = u
            seen[r].update(nxt)
            lv.append(nxt)
        if any(until in lv[-1] for lv in levels.values()):
            break
    return dict(e.dtypes), levels


def bfs(
    edges: DataFrame,
    start: list,
    *,
    depth: int = DEFAULT_DEPTH,
    src: str = "src",
    dst: str = "dst",
    reverse: bool = False,
) -> DataFrame:
    """Transitive closure to ``depth`` hops: (node, depth) with minimum
    depth per node, start nodes excluded (callers/callees semantics,
    searcher_sql.go:373-485), ordered by (depth, node). ``reverse=True``
    walks dst->src (callers). An edge with a NULL endpoint carries no
    edge. An empty ``start`` list yields no rows, typed like the edge
    columns.

    Every start node is level 0 of one :func:`_walk`, so a node's first
    level is its minimum depth and the visited set both dedupes and
    breaks cycles. Against the former fused plan (a union of per-level
    distinct joins, min-depth aggregate, start anti-join, sort) on
    perfbench's seed-1 query tables, 4 cores, one JVM, 12 interleaved
    pairs: callees at depth 3 678 -> 250 ms median, 11 -> 6 Spark jobs,
    faster in 12/12.
    """
    if reverse:
        src, dst = dst, src
    types, levels = _walk(
        edges, {0: start}, depth=_clamp_depth(depth), src=src, dst=dst
    )
    rows = [(v, d) for d, lv in enumerate(levels[0]) if d for v in sorted(lv)]
    return local_frame(edges.sparkSession, rows, f"node {types['_dst']}, depth int")


def callees(edges: DataFrame, start: list, *, depth: int = DEFAULT_DEPTH, **kw) -> DataFrame:
    """G2: transitive call targets (caller->callee direction)."""
    return bfs(edges, start, depth=depth, **kw)


def callers(edges: DataFrame, start: list, *, depth: int = DEFAULT_DEPTH, **kw) -> DataFrame:
    """G1: transitive callers (walk edges in reverse)."""
    return bfs(edges, start, depth=depth, reverse=True, **kw)


def bfs_multi(
    edges: DataFrame,
    starts: list,
    *,
    depth: int = DEFAULT_DEPTH,
    src: str = "src",
    dst: str = "dst",
    reverse: bool = False,
) -> DataFrame:
    """Batched traversal: a BFS per start node — (root, node, depth)
    with minimum depth per (root, node), the root itself excluded from
    its own result (same callers/callees contract as :func:`bfs`,
    searcher_sql.go:373-485), ordered by (root, depth, node). An edge
    with a NULL endpoint carries no edge; ``root`` is typed like the
    edge's source column.

    This is the throughput form of the reference's per-request graph
    query (~1-20 ms each, CLAUDE.md:1100): every root is a label of one
    :func:`_walk`, so N roots share one broadcast scan per level — the
    union of their frontiers is broadcast once, the edge table never
    shuffled.
    20 roots at depth 3 against the former fused (root, node) plan, on
    perfbench's seed-1 query tables (4 cores, one JVM, 12 interleaved
    pairs): 547 -> 155 ms median, 12 -> 6 Spark jobs, faster in 12/12.
    """
    if reverse:
        src, dst = dst, src
    types, levels = _walk(
        edges, {s: [s] for s in starts}, depth=_clamp_depth(depth), src=src, dst=dst
    )
    rows = [
        (r, v, d)
        for r in sorted(levels)
        for d, lv in enumerate(levels[r])
        if d
        for v in sorted(lv)
    ]
    out = f"root {types['_src']}, node {types['_dst']}, depth int"
    return local_frame(edges.sparkSession, rows, out)


def shortest_path(
    edges: DataFrame,
    source,
    target,
    *,
    max_depth: int = 6,
    src: str = "src",
    dst: str = "dst",
) -> list:
    """G7: one shortest path source->target as a node list: ``[]`` if
    ``target`` is not reachable within ``max_depth`` hops, ``[source]``
    if ``source == target``. An edge with a NULL endpoint carries no
    edge.

    Ties are broken by lexicographic path order so the result is
    deterministic (the reference returns its in-memory BFS's first hit,
    searcher_sql.go:185-209; we pin a total order instead): a
    :func:`_walk` from ``source`` that stops at the level reaching
    ``target``, then the target's parent chain back to the source.
    Against the former loop (per level: orderBy().take, path-array
    join, min-path aggregate, localCheckpoint, isEmpty) on perfbench's
    seed-1 query tables (4 cores, one JVM, 12 interleaved pairs): a
    4-hop path 749 -> 192 ms median, 22 -> 8 Spark jobs, faster in
    12/12.
    """
    if source == target:
        return [source]
    _, levels = _walk(
        edges,
        {0: [source]},
        depth=_clamp_depth(max_depth),
        src=src,
        dst=dst,
        until=target,
    )
    lv = levels[0]
    if target not in lv[-1]:
        return []
    path = [target]
    for level in reversed(lv[1:]):
        path.append(level[path[-1]])
    return path[::-1]


def neighbors(
    edges: DataFrame,
    node,
    *,
    direction: str = "out",
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """G3/G4: depth-1 dependencies ('out') / dependents ('in') — a single
    filter + distinct (the reference's imports joins,
    searcher_sql.go:487-513)."""
    if direction != "out":
        src, dst = dst, src
    return edges.filter(F.col(src) == F.lit(node)).select(
        F.col(dst).alias("node")
    ).distinct()


def infer_implements(
    iface_methods: DataFrame,
    struct_methods: DataFrame,
    *,
    iface_id: str = "iface_id",
    struct_id: str = "struct_id",
    name: str = "name",
    param_count: str = "param_count",
    return_count: str = "return_count",
    interfaces: DataFrame | None = None,
    structs: DataFrame | None = None,
) -> DataFrame:
    """J5/G10: duck-typing inference — struct implements interface iff its
    method set ⊇ the interface's, matching (name, param_count,
    return_count); empty interfaces match every struct
    (/root/reference/internal/storage/inferencer.go:84-173).

    Join formulation of the reference's in-memory hash match: explode
    method sets -> equi-join on the signature triple -> count matches per
    (struct, iface) -> keep pairs where matches == interface method
    count. Distributed hash joins ARE the hash-match, sharded.
    """
    sig = [name, param_count, return_count]
    im = iface_methods.select(iface_id, *sig)
    sm = struct_methods.select(struct_id, *sig)

    iface_sizes = im.groupBy(iface_id).agg(F.count(F.lit(1)).alias("_need"))
    matched = (
        im.join(sm, sig, "inner")
        .groupBy(iface_id, struct_id)
        .agg(F.count(F.lit(1)).alias("_have"))
    )
    full = matched.join(F.broadcast(iface_sizes), iface_id).filter(
        F.col("_have") == F.col("_need")
    )
    out = full.select(struct_id, iface_id)

    if interfaces is not None and structs is not None:
        empty_ifaces = interfaces.select(iface_id).join(
            iface_sizes.select(iface_id), iface_id, "left_anti"
        )
        all_pairs = structs.select(struct_id).crossJoin(F.broadcast(empty_ifaces))
        out = out.unionByName(all_pairs.select(struct_id, iface_id))
    return out.distinct()


def impact(
    call_edges: DataFrame,
    implements: DataFrame,
    target,
    *,
    depth: int = DEFAULT_DEPTH,
    src: str = "src",
    dst: str = "dst",
    struct_id: str = "struct_id",
    iface_id: str = "iface_id",
) -> DataFrame:
    """G8: 3-phase composite — implementations + direct callers (depth 1,
    'must_update') + transitive callers (depth>1, 'review_needed'), each
    tagged with impact_type/severity (searcher_sql.go:302-371)."""
    impls = (
        implements.filter(F.col(iface_id) == F.lit(target))
        .select(F.col(struct_id).alias("node"))
        .withColumn("impact_type", F.lit("implementation"))
        .withColumn("severity", F.lit("must_update"))
        .withColumn("depth", F.lit(0))
    )
    up = callers(call_edges, [target], depth=depth, src=src, dst=dst)
    tagged = up.withColumn(
        "impact_type",
        F.when(F.col("depth") == 1, F.lit("direct_caller")).otherwise(
            F.lit("transitive_caller")
        ),
    ).withColumn(
        "severity",
        F.when(F.col("depth") == 1, F.lit("must_update")).otherwise(
            F.lit("review_needed")
        ),
    )
    # node ids may be heterogeneous (type ids vs function ids): normalize
    return impls.select(
        F.col("node").cast("string").alias("node"), "depth", "impact_type", "severity"
    ).unionByName(
        tagged.select(
            F.col("node").cast("string").alias("node"),
            "depth",
            "impact_type",
            "severity",
        )
    )


def type_usages(
    functions: DataFrame,
    params: DataFrame,
    pattern: str,
    *,
    function_id: str = "function_id",
    param_type: str = "param_type",
) -> DataFrame:
    """G5: functions whose parameter types LIKE pattern (supports %User%,
    generics %[User]%; searcher_sql.go:536-560)."""
    hits = params.filter(F.col(param_type).like(pattern)).select(function_id).distinct()
    return functions.join(hits, function_id, "inner")


def with_context(
    results: DataFrame,
    files: DataFrame,
    *,
    file_col: str = "file_path",
    start_col: str = "start_line",
    end_col: str = "end_line",
    content_col: str = "content",
    context_lines: int = 3,
) -> DataFrame:
    """Attach a ±``context_lines`` source snippet to graph results
    (searcher_sql.go:662-707 + context.go:43-96 semantics): lines
    ``[start-N, end+N]`` clamped to the file, prefixed ``// Lines a-b``.

    Plan shape: one equi-join on the file path, then pure codegen string
    ops (split / slice / array_join). The results side is a query result
    page (tiny); the left-outer keeps rows whose file is missing with a
    NULL context, mirroring the reference's graceful skip — for that
    join order Spark must broadcast the FILES side, so pre-filter files
    with a semi-join when the catalog is corpus-sized (at 100 TB you
    never stream the whole files table into a context lookup).
    ``context_lines`` is capped at 20 like the MCP tool
    (graph_tool.go:30-55).
    """
    context_lines = min(context_lines, 20)
    needed = files.join(
        F.broadcast(results.select(file_col).distinct()), file_col, "semi"
    )
    lines = F.split(F.col(content_col), "\n")
    a = F.greatest(F.lit(1), (F.col(start_col) - context_lines).cast("int"))
    b = F.least(F.size(lines), (F.col(end_col) + context_lines).cast("int"))
    snippet = F.concat(
        F.format_string("// Lines %d-%d\n", a, b),
        F.array_join(F.slice(lines, a, b - a + 1), "\n"),
    )
    return (
        results.join(
            F.broadcast(needed.select(file_col, content_col)), file_col, "left"
        )
        .withColumn("context", snippet)
        .drop(content_col)
    )


def resolve_type_refs(
    refs: DataFrame,
    types: DataFrame,
    *,
    ref_col: str = "type_name",
    type_id: str = "type_id",
    type_name: str = "name",
    module_col: str | None = "module",
) -> DataFrame:
    """G11: embedded-type resolution — rewrite raw type references to
    type ids by stripping pointer/slice/map decoration and applying
    module-prefix rules (query_helpers.go:93-113,385-473).

    ``*pkg.Foo`` / ``[]Foo`` / ``map[k]Foo`` -> ``Foo`` (+ module), then a
    broadcast join against the (small) type catalog; unresolved refs keep
    a NULL id, like the reference's NULL callee ids.
    """
    base = F.regexp_replace(F.col(ref_col), r"^[\*\[\]]+|^map\[[^\]]*\]", "")
    base = F.regexp_replace(base, r"^[\*\[\]]+", "")
    qualified = refs.withColumn("_base", base).withColumn(
        "_name",
        F.when(
            F.instr(F.col("_base"), ".") > 0,
            F.substring_index(F.col("_base"), ".", -1),
        ).otherwise(F.col("_base")),
    ).withColumn(
        "_module",
        F.when(
            F.instr(F.col("_base"), ".") > 0,
            F.substring_index(F.col("_base"), ".", 1),
        ).otherwise(F.lit(None).cast("string")),
    )
    t = types.select(
        F.col(type_id).alias("_tid"),
        F.col(type_name).alias("_tname"),
        *([F.col(module_col).alias("_tmod")] if module_col else []),
    )
    cond = qualified["_name"] == t["_tname"]
    if module_col:
        cond = cond & (
            qualified["_module"].isNull() | (qualified["_module"] == t["_tmod"])
        )
    return (
        qualified.join(F.broadcast(t), cond, "left")
        .withColumn("resolved_type_id", F.col("_tid"))
        .drop("_base", "_name", "_module", "_tid", "_tname",
              *(["_tmod"] if module_col else []))
    )


def pattern_search(
    entities: DataFrame,
    *,
    kind: str | None = None,
    name_like: str | None = None,
    parent_like: str | None = None,
    min_params: int | None = None,
    max_params: int | None = None,
    methods_only: bool = False,
    limit: int = 50,
) -> DataFrame:
    """``cortex_pattern``'s engine-level analogue: structural matching
    over the parsed entity frame (signature strictness — name glob,
    receiver, arity) instead of shelling out to ast-grep
    (internal/pattern/executor.go:36-100; limit default 50 per
    tools_pattern.go:20-45). This covers the signature tier; the
    structural tiers (cst/ast/smart/relaxed) live in
    operators/astpattern.py.
    """
    df = entities
    if kind:
        df = df.filter(F.col("kind") == kind)
    if name_like:
        df = df.filter(F.col("name").like(name_like))
    if parent_like:
        df = df.filter(F.col("parent").like(parent_like))
    if min_params is not None:
        df = df.filter(F.col("n_params") >= min_params)
    if max_params is not None:
        df = df.filter(F.col("n_params") <= max_params)
    if methods_only:
        df = df.filter(F.col("is_method"))
    return df.orderBy("file_path", "start_line").limit(limit)


def cooccurrence_edges(
    items: DataFrame,
    *,
    group_col: str,
    item_col: str,
    max_df: int = 50,
) -> DataFrame:
    """Undirected co-occurrence edges: (a, b) with a < b whenever two
    distinct items share a group, deduplicated across groups. ``max_df``
    drops items appearing in more than that many groups BEFORE pairing —
    the standard hot-key cap that keeps the per-group pair fan-out (and
    every downstream wedge join) bounded; without it one ubiquitous item
    turns the edge list quadratic.

    Scale notes: one aggregate for the document frequencies (broadcast
    back as a semi-join), then ONE groupBy-the-group whose sorted
    item array fans out to its a<b pairs with a JVM-side HOF — no
    self-join, so pair generation costs a single shuffle keyed on the
    group (bounded fan-out after the cap), plus the final pair
    distinct.

    Plan history (SCALE.md r7): a replan folded the distinct into the
    group aggregate (array_distinct), checkpointed the array frame,
    and applied the df cap as a driver-collected literal array_except.
    Its COMPONENT A/B (edge-count action) measured faster — 1.66 s vs
    2.39 s at sf0.1 — but the END-TO-END interleaved A/B through
    pagerank showed a 1.6x REGRESSION (3.8 s -> 6.0 s): the eager
    checkpoint and the hot-list collect are driver-synchronized
    materializations that block before the iterative loop can even
    populate its cache, while this fully LAZY plan pipelines straight
    into it. Reverted; both measurements recorded. Moral: A/B the
    consumer, not the component.

    Exchange sharing (r9, guide §2.4 "two operations keyed the same way
    share one exchange"): the occurrence frame is repartitioned on the
    GROUP key before the distinct, so ``HashPartitioning(group)``
    satisfies the clustering requirement of BOTH the (group, item)
    distinct and the later ``groupBy(group)`` collect — one
    occurrence-scale exchange instead of two (the old plan shuffled
    once on (group, item) for the distinct and again on group for the
    pair build). Measured in the in-process interleaved A/B: exchanges
    6 -> 5, component 2.88 -> 2.38 s, THROUGH pagerank 4.36 -> 3.96 s
    at sf0.1 — identical 1,194,754-edge output. Skew posture is
    unchanged: the group-keyed exchange was always present at the
    collect_list step, and pre-distinct occurrence multiplicity only
    adds the (bounded) duplicate factor to a key that the downstream
    aggregate had to absorb anyway.
    """
    pres = (
        items.select(group_col, item_col)
        .repartition(F.col(group_col))
        .distinct()
    )
    # broadcast the HOT set (df > max_df, bounded by total_occurrences /
    # max_df) and anti-join, NOT the cold keep set — the keep side is
    # the near-entire item vocabulary and force-broadcasting it is a
    # driver/executor OOM hazard at corpus scale; the anti-join is
    # semantically identical and stays fully lazy (the pipelining
    # property the plan-history note below is about)
    hot = (
        pres.groupBy(item_col)
        .agg(F.count(F.lit(1)).alias("_df"))
        .filter(F.col("_df") > max_df)
        .select(item_col)
    )
    pres = pres.join(F.broadcast(hot), item_col, "left_anti")
    grouped = pres.groupBy(group_col).agg(
        F.array_sort(F.collect_list(item_col)).alias("_items")
    )
    # all a<b pairs of the sorted array: for each position i, pair the
    # element with everything after it; flatten and explode
    pair = F.explode(
        F.flatten(
            F.transform(
                "_items",
                lambda x, i: F.transform(
                    F.slice(
                        "_items", i + F.lit(2), F.size("_items") - i - 1
                    ),
                    lambda y: F.struct(x.alias("a"), y.alias("b")),
                ),
            )
        )
    )
    return (
        grouped.select(pair.alias("_p"))
        .select(F.col("_p.a").alias("a"), F.col("_p.b").alias("b"))
        .distinct()
    )


_WEDGE_ROWS_PER_PARTITION = 5_000_000
_WEDGE_MAX_PARTITIONS = 2048


def _estimated_wedge_rows(edges: DataFrame) -> int:
    """Exact wedge-join output size from the degree aggregates: the
    a<b-oriented self-join on the shared middle produces
    Σ_b cnt(·,b)·cnt(b,·) rows. One tiny job (node-cardinality-sized)
    against the checkpointed edge list."""
    c1 = edges.groupBy(F.col("b").alias("n")).agg(F.count(F.lit(1)).alias("c1"))
    c2 = edges.groupBy(F.col("a").alias("n")).agg(F.count(F.lit(1)).alias("c2"))
    row = c1.join(c2, "n").agg(
        F.sum(F.col("c1") * F.col("c2")).alias("w")
    ).collect()[0]
    return int(row["w"] or 0)


def _repartition_for_wedges(edges: DataFrame, wedges: DataFrame, keys: list):
    """Repartition the wedge frame on the downstream join/agg keys to
    ~5M rows/partition when the exact wedge estimate exceeds what the
    session default would give — a no-op (identical plan) at small
    scale, and the difference between an in-memory sort and a 19x
    spill-bound one at sf1+ (SCALE.md)."""
    import math

    spark = edges.sparkSession
    cur = int(spark.conf.get("spark.sql.shuffle.partitions"))
    need = math.ceil(_estimated_wedge_rows(edges) / _WEDGE_ROWS_PER_PARTITION)
    parts = min(_WEDGE_MAX_PARTITIONS, max(cur, need))
    if parts > cur:
        return wedges.repartition(parts, *keys)
    return wedges


def triangles_per_node(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts over an undirected a<b edge list —
    the local clustering-coefficient numerator (community structure /
    spam-graph analytics).

    The a<b orientation enumerates each triangle exactly once as
    a<b<c: wedges join edge(a,b) with edge(b,c), then close against
    edge(a,c); every corner of a closed wedge gets one count.

    Scale notes: two equi-joins (wedge build on b, closure on (a, c)) —
    both plain hash joins whose input is the degree-capped edge list from
    :func:`cooccurrence_edges`; wedge count is Σ deg², which the max_df
    cap bounds. Each triangle explodes to its 3 corners before the final
    count aggregate (map-side partial). The edge list feeds THREE join
    inputs shuffled on three different keys — no exchange reuse is
    possible — so it is a lazy local checkpoint rather than recomputed
    per input: the first job that reads it (the wedge estimate below)
    stores it, and its blocks go with the frame.

    The closure join's sort runs over the WEDGE frame — quadratic in
    degree, not linear in edges — so a fixed ``shuffle.partitions``
    under-partitions it at scale (measured 19x wall for 10x data at
    sf1, SCALE.md). The wedge count is computed exactly from the degree
    aggregates (one tiny extra job against the checkpointed edge list) and
    the wedge frame explicitly repartitioned on the closure keys to
    ~5M rows/partition when that exceeds the session default — cheap
    insurance rather than relying on cluster AQE split heuristics.
    """
    edges = edges.localCheckpoint(eager=False)
    e1 = edges.select(F.col("a").alias("ta"), F.col("b").alias("tb"))
    e2 = edges.select(F.col("a").alias("tb"), F.col("b").alias("tc"))
    wedges = e1.join(e2, "tb")
    wedges = _repartition_for_wedges(edges, wedges, ["ta", "tc"])
    closure = edges.select(F.col("a").alias("ta"), F.col("b").alias("tc"))
    # shuffle-hash, not sort-merge: SMJ would SORT the wedge frame
    # (quadratic in degree — the dominant cost at sf1, SCALE.md); the
    # hash build side is the edge list, whose per-partition size only
    # SHRINKS as the wedge sizing raises the partition count
    # (|E|/parts ≤ |E|·5M/Σdeg²), so the build always fits
    tri = wedges.join(closure.hint("shuffle_hash"), ["ta", "tc"])
    return (
        tri.select(F.explode(F.array("ta", "tb", "tc")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


def pagerank(
    edges: DataFrame,
    *,
    iters: int = 5,
    damping: float = 0.85,
    a: str = "a",
    b: str = "b",
    broadcast_ranks: bool | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over an undirected edge list (both
    directions materialized internally) — the iterative-linear-algebra
    family the reference's SQLite engine cannot express at all
    (SURVEY §2.7 stops at recursive traversals). Node importance over
    the co-purchase / call graph; fixed ``iters`` power steps keep the
    result deterministic and oracle-matchable (the DuckDB twin unrolls
    the same chain of matrix-vector steps as CTEs).

    Undirected contract: every node has out-degree >= 1, so there is no
    dangling-mass term — pr_{t+1}(v) = (1-d)/N + d * Σ_{u~v} pr_t(u)/deg(u).
    A row with a NULL endpoint carries no edge; an empty edge list
    yields no rows.

    Scale notes: the :func:`_undirected` prologue is one eager job that
    checkpoints the (node, degree) frame and observes N from that same
    job. Each step is one equi-join of the rank frame onto the
    stationary edge list + one hash aggregate on the destination, run
    by :func:`_iterate`'s fixed-round lazy loop (lineage cut per step,
    no per-round job of its own). The rank side (|V| rows of (id,
    double)) gets the :func:`_bcast` hint — the classic
    small-ranks/big-edges shape, so the edge list NEVER shuffles and
    each step costs one broadcast + one partial-aggregated exchange of
    |V| rows. When |V| outgrows broadcast range (``broadcast_ranks``
    forces either side), the fallback hash-partitions the stationary
    edge list on src ONCE (the partitioning survives the
    localCheckpoint) so each step's shuffle join exchanges only the
    |V|-row rank frame — A/B-measured at sf1 in
    scripts/ab_graph_broadcast.py / SCALE.md. Skew = hub in-degree,
    which a degree-capped edge list (cooccurrence_edges max_df) already
    bounds; on a raw power-law graph the aggregate's map-side partials
    absorb the hot key.
    """
    e, nodes, obs = _undirected(edges, a, b)
    n = obs["n"]
    if n == 0:
        return nodes.select("node", F.lit(0.0).alias("pr"))
    bcast = _bcast(n, broadcast_ranks)
    out_edges = _out_edges(e, nodes, n, bcast)
    base = (1.0 - damping) / n

    def power_step(ranks: DataFrame, _) -> DataFrame:
        # undirected contract: every node has deg >= 1, so every node
        # receives at least one contribution — contrib's key set IS the
        # node set and no backfill join against `nodes` is needed
        return _contrib(out_edges, ranks, bcast).select(
            "node",
            (F.lit(base) + F.lit(damping) * F.col("_in")).alias("pr"),
        )

    ranks, _ = _iterate(
        nodes.select("node", F.lit(1.0 / n).alias("pr")),
        power_step,
        max_rounds=iters,
        lazy=True,
    )
    return ranks.select("node", F.round("pr", 9).alias("pr"))


def _out_edges(e: DataFrame, nodes: DataFrame, n: int, bcast) -> DataFrame:
    """The stationary (src, dst, deg) edge list of the power loops; for
    the shuffle fallback of the rank join (``bcast``) hash-partitioned
    on src once. The degree join itself follows the automatic switch:
    a checkpoint carries no size statistics, so without the hint a
    broadcastable degree frame would be sort-merge joined."""
    out = e.join(
        _bcast(n)(nodes.withColumnRenamed("node", "src")), "src"
    ).select("src", "dst", "deg")
    if bcast is _shuffled:
        out = out.repartition("src")
    return out.localCheckpoint(eager=False)


def _contrib(out_edges: DataFrame, ranks: DataFrame, bcast) -> DataFrame:
    """One power step's inflow: (node, _in = Σ_{u~node} pr(u)/deg(u))."""
    return (
        out_edges.join(bcast(ranks.withColumnRenamed("node", "src")), "src")
        .groupBy(F.col("dst").alias("node"))
        .agg(F.sum(F.col("pr") / F.col("deg")).alias("_in"))
    )


def pagerank_personalized(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    iters: int = 5,
    damping: float = 0.85,
    a: str = "a",
    b: str = "b",
    seed_col: str = "node",
    broadcast_ranks: bool | None = None,
) -> DataFrame:
    """Personalized PageRank: :func:`pagerank` with the uniform
    teleport replaced by a distribution concentrated on ``seeds`` —
    pr_{t+1}(v) = (1-d)·tele(v) + d·Σ_{u~v} pr_t(u)/deg(u), with
    tele = 1/|S| on the seed set and 0 elsewhere. The relevance-to-a-
    query-set ranking (similar-items, "related code to this module")
    that global PageRank cannot express; seeds are intersected with the
    graph's node set first, so ns counts only seeds that exist. An empty
    edge list yields no rows; seeds none of which is a graph node raise.

    Same physical shape as :func:`pagerank` (stationary edge list,
    |V|-row rank frame broadcast per step or the shuffle fallback past
    BROADCAST_NODE_LIMIT, lineage cut per step); the static seed-flag
    frame replaces the scalar base term via one |V|-row left join per
    step — at 100 TB that join rides the aggregate's own partitioning.
    ns is observed by the eager checkpoint of that frame, not counted
    by a job of its own. The oracle unrolls the identical CTE chain
    with a CASE teleport.
    """
    e, nodes, obs = _undirected(edges, a, b)
    n = obs["n"]
    if n == 0:
        return nodes.select("node", F.lit(0.0).alias("pr"))
    bcast = _bcast(n, broadcast_ranks)
    seed_nodes = nodes.select("node").join(
        seeds.select(F.col(seed_col).alias("node")).distinct(),
        "node",
        "left_semi",
    )
    flags, fobs = _checkpoint(
        nodes.join(bcast(seed_nodes.withColumn("_s", F.lit(1))), "node", "left")
        .select("node", F.col("_s").isNotNull().alias("seed")),
        ns=F.count_if("seed"),
    )
    ns = fobs["ns"]
    if ns == 0:
        raise ValueError("pagerank_personalized: no seed is a graph node")
    tele = F.when(F.col("seed"), F.lit(1.0 / ns)).otherwise(F.lit(0.0))
    out_edges = _out_edges(e, nodes, n, bcast)

    def power_step(ranks: DataFrame, _) -> DataFrame:
        return flags.join(_contrib(out_edges, ranks, bcast), "node", "left").select(
            "node",
            (
                F.lit(1.0 - damping) * tele
                + F.lit(damping) * F.coalesce(F.col("_in"), F.lit(0.0))
            ).alias("pr"),
        )

    ranks, _ = _iterate(
        flags.select("node", tele.alias("pr")),
        power_step,
        max_rounds=iters,
        lazy=True,
    )
    return ranks.select("node", F.round("pr", 9).alias("pr"))


def _degrees(edges: DataFrame) -> DataFrame:
    """(node, deg) over an undirected a<b edge list."""
    return (
        edges.select(F.col("a").alias("node"))
        .union(edges.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def kcore(
    edges: DataFrame,
    *,
    k: int = 3,
    rounds: int = 8,
    broadcast_keep: bool | None = None,
) -> DataFrame:
    """k-core decomposition by iterative peeling over an undirected a<b
    edge list: drop every node with degree < k, recompute degrees over
    the surviving subgraph, repeat. Returns the surviving nodes with
    their in-core degree — the standard dense-substructure filter
    (community cores, spam rings) the reference's recursive-CTE surface
    cannot express (peeling is a fixpoint, not a traversal).

    A FIXED round count keeps the result oracle-matchable (the DuckDB
    twin unrolls the same rounds as CTE chains); peeling is monotone, so
    once the fixpoint is reached extra rounds are no-ops — `rounds`
    bounds cost, not correctness, provided both engines run at least as
    many effective rounds. The loop EXITS EARLY when the keep set stops
    shrinking: surviving-node sets only ever shrink, so an unchanged
    keep COUNT proves an unchanged keep set, which proves the fixpoint —
    the engine skips the remaining no-op rounds while the oracle's extra
    unrolled CTE rounds change nothing (the sf0.1 gated query reaches
    its fixpoint at round 2 of 4).

    The loop is :func:`_iterate` over the (node, deg) frame of the
    surviving subgraph: each round's eager checkpoint observes its node
    count and its keep count (deg >= k), so the fixpoint test and the
    broadcast switch ride the round's own job — no count job per round.

    Scale notes: each round is one map-side-partial degree aggregate +
    two semi joins against the (shrinking) keep set — the keep frame is
    node-sized and broadcastable; the surviving edge list is cut by a
    lazy `localCheckpoint` per round. Past BROADCAST_NODE_LIMIT nodes
    (``broadcast_keep`` forces either side of :func:`_bcast`) the semi
    joins run as shuffle joins — the edge list cannot be pre-partitioned
    for BOTH endpoint keys, so the fallback honestly pays two exchanges
    per round (A/B at sf1: scripts/ab_graph_broadcast.py, SCALE.md).
    """
    # the input is read by both degree arms and the join base; the lazy
    # checkpoint keeps the upstream edge pipeline (for
    # cooccurrence_edges: several shuffles) from re-running per read
    surv = edges.select("a", "b").localCheckpoint(eager=False)

    def peel(deg: DataFrame, obs: dict) -> DataFrame:
        nonlocal surv
        bcast = _bcast(obs["n"], broadcast_keep)
        keep = deg.filter(F.col("deg") >= k).select("node")
        surv = (
            surv.join(bcast(keep.withColumnRenamed("node", "a")), "a", "left_semi")
            .join(bcast(keep.withColumnRenamed("node", "b")), "b", "left_semi")
            .select("a", "b")
            .localCheckpoint(eager=False)
        )
        return _degrees(surv)

    # keep sets only shrink: an equal keep count is the fixpoint, and
    # the round that shows it left the surviving edges unchanged
    deg, _ = _iterate(
        _degrees(surv),
        peel,
        max_rounds=rounds,
        until=lambda prev, obs: prev is not None and prev["keep"] == obs["keep"],
        strict=False,
        keep=F.count_if(F.col("deg") >= k),
    )
    return deg.withColumnRenamed("deg", "core_deg")


def degree_distribution(edges: DataFrame) -> DataFrame:
    """Degree histogram of an undirected a<b edge list — the
    count-of-counts shape over graph structure (power-law check, the
    first thing anyone plots about a co-occurrence graph). Two chained
    hash aggregates: level 1 shuffles 2|E| endpoint rows with map-side
    partials; level 2's input is |V| rows keyed on the tiny set of
    distinct degrees."""
    deg = _degrees(edges).withColumnRenamed("deg", "degree")
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_nodes"))


def node_similarity(edges: DataFrame, *, k: int = 50) -> DataFrame:
    """Top-k node pairs by neighbor-overlap Jaccard — the classic
    link-prediction / recommendation primitive over an undirected a<b
    edge list: sim(a,b) = |N(a)∩N(b)| / |N(a)∪N(b)|, computed for every
    pair sharing at least one neighbor (anything else scores 0 and
    never ranks).

    Scale: the same wedge shape as :func:`triangles_per_node` — one
    self-join of the adjacency on the shared neighbor (fan-out Σ deg²,
    bounded by the upstream ``max_df`` cap), one count aggregate, a
    broadcast-degree join, and a TakeOrderedAndProject top-k. Exact
    (the common/union arithmetic is integers until the final division).
    """
    adj = (
        edges.select(F.col("a").alias("node"), F.col("b").alias("nbr"))
        .union(edges.select(F.col("b").alias("node"), F.col("a").alias("nbr")))
        .localCheckpoint(eager=False)
    )
    deg = adj.groupBy("node").agg(F.count(F.lit(1)).alias("deg"))
    x = adj.select(F.col("node").alias("pa"), F.col("nbr").alias("via"))
    y = adj.select(F.col("node").alias("pb"), F.col("nbr").alias("via"))
    wedges = x.join(y, "via").filter(F.col("pa") < F.col("pb"))
    # same wedge-quadratic shape as triangles_per_node: size the pair
    # aggregate's partitioning from the exact Σ deg² estimate (the
    # repartition provides the groupBy's required distribution, so no
    # second exchange; the lost map-side partial is cheap because
    # within-partition pair repeats are rare in a wedge explosion)
    wedges = _repartition_for_wedges(
        adj.select(F.col("nbr").alias("a"), F.col("nbr").alias("b")),
        wedges,
        ["pa", "pb"],
    )
    common = wedges.groupBy("pa", "pb").agg(
        F.count(F.lit(1)).alias("n_common")
    )
    da = F.broadcast(deg.select(F.col("node").alias("pa"), F.col("deg").alias("_da")))
    db = F.broadcast(deg.select(F.col("node").alias("pb"), F.col("deg").alias("_db")))
    scored = (
        common.join(da, "pa")
        .join(db, "pb")
        .select(
            "pa",
            "pb",
            "n_common",
            F.round(
                F.col("n_common")
                / (F.col("_da") + F.col("_db") - F.col("n_common")),
                6,
            ).alias("jaccard"),
        )
    )
    return scored.orderBy(
        F.col("jaccard").desc(), F.col("pa").asc(), F.col("pb").asc()
    ).limit(k)


def communities_lpa(
    edges: DataFrame,
    *,
    rounds: int = 4,
    min_size: int = 2,
    a: str = "a",
    b: str = "b",
    broadcast_labels: bool | None = None,
) -> DataFrame:
    """Community detection by synchronous label propagation (Raghavan
    et al. 2007) over an undirected edge list: every node starts as its
    own label; each round it adopts its neighbors' MOST FREQUENT label,
    ties broken by smallest label — the deterministic variant, so the
    fixed ``rounds`` unroll to a DuckDB CTE chain and the result is
    hash-gated like pagerank/kcore. (Classic LPA randomizes update
    order; synchronous + min-tie-break trades a little convergence
    speed for replayability.)

    Complements duplicate_clusters' connected components: LPA splits a
    connected graph into densely-linked groups rather than reachability
    classes — the "which modules actually cluster together" view of the
    co-purchase / call graph.

    Output: one row per surviving community — label, n_nodes,
    min member id — communities below ``min_size`` dropped.

    A row with a NULL endpoint carries no edge; an empty edge list
    yields no rows.

    Scale notes: per round, one equi-join of the (|V|-row, broadcast)
    label frame onto the stationary directed edge list and one
    (node, label) count + argmax window partitioned on the node — the
    same small-frame-vs-stationary-edges shape as :func:`pagerank`,
    and the same :func:`_undirected` prologue (|V| observed by the node
    frame's checkpoint) and :func:`_iterate` fixed-round lazy loop. The
    argmax window partitions on high-cardinality node ids, so no skew;
    hub fan-in is bounded upstream by cooccurrence_edges' max_df cap.
    Past BROADCAST_NODE_LIMIT nodes (``broadcast_labels`` forces either
    side of :func:`_bcast`) the label frame is shuffle-joined and the
    stationary edges are hash-partitioned on src once, same as
    :func:`pagerank` (A/B at sf1: scripts/ab_graph_broadcast.py,
    SCALE.md).
    """
    e, nodes, obs = _undirected(edges, a, b)
    bcast = _bcast(obs["n"], broadcast_labels)
    if bcast is _shuffled:
        e = e.repartition("src").localCheckpoint(eager=False)
    # argmax form MEASURED at sf1: the row_number window over the
    # (node, label) count frame reuses that aggregate's hash
    # partitioning (no exchange, one sort: 45 s/round-chain); the
    # "cheaper-looking" second groupBy(node) max(struct(c, -label))
    # re-shuffles every round and measured 75 s on the same data.
    win = Window.partitionBy("node").orderBy(
        F.col("c").desc(), F.col("label").asc()
    )

    def propagate(labels: DataFrame, _) -> DataFrame:
        return (
            e.join(bcast(labels.withColumnRenamed("node", "src")), "src")
            .groupBy(F.col("dst").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("rk", F.row_number().over(win))
            .filter(F.col("rk") == 1)
            .select("node", "label")
        )

    labels, _ = _iterate(
        nodes.select("node", F.col("node").alias("label")),
        propagate,
        max_rounds=rounds,
        lazy=True,
    )
    return (
        labels.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_nodes"),
            F.min("node").alias("min_node"),
        )
        .filter(F.col("n_nodes") >= min_size)
        .orderBy(F.col("n_nodes").desc(), F.col("label").asc())
    )


def connected_components(
    pairs: DataFrame,
    *,
    a: str = "a",
    b: str = "b",
    max_rounds: int = 60,
) -> DataFrame:
    """Connected components by alternating large-star / small-star
    (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond") — (doc_id, cluster_id, keep) with cluster_id = the
    component's minimum node id, the same output contract as
    :func:`~project_cortex_spark.operators.dedup.duplicate_clusters`:
    a pair with a NULL or equal endpoint carries no edge, so only nodes
    of some real pair appear.

    Why a second algorithm: min-label propagation converges in
    O(component diameter) rounds — fine for shallow near-dup clusters,
    but a chain-shaped component of length D costs D full-edge shuffles.
    The star alternation contracts ANY topology in O(log^2 n) rounds
    (measured: a 4096-node path converges in 7 rounds vs 4095 label
    steps), so this is the form a 100 TB dedup graph should use when
    component shape is unknown.

    Each half-round is ONE window over the edge frame's own shuffle key
    (no aggregate+join): partition by the center node, m = min(neighbor,
    center); large-star re-points every larger neighbor at m, small-star
    re-points every smaller-or-equal neighbor (and the center) at m.
    distinct() bounds the frame at the surviving edge count. The rounds
    run on :func:`_iterate`, like duplicate_clusters' label propagation:
    convergence = the canonical (child, root) edge set is unchanged,
    read from the fingerprint each round's checkpoint job observes.
    """
    p = (
        pairs.select(F.col(a).alias("x"), F.col(b).alias("y"))
        .filter(F.col("x") != F.col("y"))
        .localCheckpoint(eager=True)
    )
    nodes = (
        p.select(F.col("x").alias("node"))
        .unionByName(p.select(F.col("y").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # canonical undirected form (max side = star center)
    edges = p.select(
        F.greatest("x", "y").alias("x"), F.least("x", "y").alias("y")
    ).distinct()

    def _large_star(e: DataFrame) -> DataFrame:
        # symmetric view; for each center u: m = min(N(u) + {u}),
        # emit (v, m) for every neighbor v strictly above u
        sym = e.unionByName(
            e.select(F.col("y").alias("x"), F.col("x").alias("y"))
        )
        w = Window.partitionBy("x")
        return (
            sym.withColumn(
                "m", F.least(F.min("y").over(w), F.col("x"))
            )
            .filter(F.col("y") > F.col("x"))
            .select(
                F.col("y").alias("x"), F.col("m").alias("y")
            )  # y > x >= m, so the canonical orientation is preserved
            .filter(F.col("x") != F.col("y"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # canonical edges already point (center=max -> smaller); for
        # each center u: m = min of its smaller neighbors, re-point u
        # and every smaller neighbor at m
        w = Window.partitionBy("x")
        me = e.withColumn("m", F.min("y").over(w))
        return (
            me.select(F.col("y").alias("x"), F.col("m").alias("y"))
            .unionByName(me.select("x", "m").toDF("x", "y"))
            .filter(F.col("x") != F.col("y"))
            .distinct()
        )

    edges, _ = _iterate(
        edges, lambda e, _: _small_star(_large_star(e)), max_rounds=max_rounds
    )

    # converged frame is a star forest: every non-root points at its
    # component min; roots are absent as children
    labels = edges.groupBy(F.col("x").alias("node")).agg(
        F.min("y").alias("root")
    )
    return (
        nodes.join(labels, "node", "left")
        .select(
            F.col("node").alias("doc_id"),
            F.coalesce(F.col("root"), F.col("node")).alias("cluster_id"),
        )
        .withColumn("keep", F.col("doc_id") == F.col("cluster_id"))
    )


# ---------------------------------------------------------------------------
# cortex_analysis parity (the reference's announced-but-unbuilt canopy
# integration surface: specs/2026-02-16_canopy-graph-integration/
# overview.md:16 lists circular_dependencies, unused_symbols, hotspots,
# type_hierarchy, dependency_graph under a new `cortex_analysis` MCP
# tool; the spec is not yet implemented in the reference's Go tree, so
# these ship AHEAD of the reference on its own roadmap).
# ---------------------------------------------------------------------------


def _max_out_degree(e: DataFrame) -> int:
    """Max rows per ``_s`` in the prepared edge frame — the one-scalar
    decision statistic for the functional-graph fast path below (same
    contract-bounded-collect class as the dedup dispatcher's posting
    mass and the span stats in closeness/betweenness)."""
    row = (
        e.groupBy("_s")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.max("c").alias("m"))
        .collect()
    )
    return int(row[0]["m"] or 0)


def _closed_walks(
    edges: DataFrame,
    *,
    max_len: int,
    src: str,
    dst: str,
    functional: bool | None,
    walk: list,
    extend: list,
    collapse,
) -> DataFrame:
    """The multi-origin level-synchronous walk :func:`cycle_members` and
    :func:`cycle_paths` share: the union, over levels 1..``max_len``, of
    the (origin, cycle_len, ...) rows of the origins whose frontier
    returns to them at that level. ``walk`` lists the level-1 frontier
    columns over the (``_s``, ``_d``) edge frame, ``extend`` the next
    level's columns over frontier ⋈ edges, and ``collapse`` reduces a
    level to one row per (origin, node); columns after (origin, node)
    ride into the closed rows. Closed origins and, off the functional
    path, already-visited pairs are anti-joined out of the frontier."""
    max_len = _clamp_depth(max_len)
    # Checkpoint the (possibly expensively derived) edge frame ONCE —
    # every level joins it, and without the cut a window-derived edge
    # set re-runs its lineage per level. r9 (guide §2.4): the frame is
    # pre-partitioned on the join key `_s`, which localCheckpoint
    # preserves, so none of the max_len per-level joins re-exchanges
    # the edge list — at 100 TB that removes max_len-1 full edge-list
    # shuffles. All per-level checkpoints are LAZY (eager=False): the
    # lineage cut and single materialization are identical, but the
    # work folds into the consuming job instead of one blocking driver
    # job per frame — measured 8.2 -> 6.4 s at sf0.1 on the ring
    # fixture (~3 blocking jobs per level eliminated); results
    # bit-identical.
    P = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    e = (
        edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
        .repartition(P, "_s")
        .localCheckpoint(eager=False)
    )
    if functional is None:
        functional = _max_out_degree(e) <= 1

    def level(frontier: DataFrame) -> DataFrame:
        # with out-degree 1 the rows are already unique per (origin,
        # node), so the collapsing exchange is skipped
        return (frontier if functional else collapse(frontier)).localCheckpoint(
            eager=False
        )

    def closed(frontier: DataFrame, lvl: int) -> DataFrame:
        return frontier.filter(F.col("node") == F.col("origin")).select(
            "origin", F.lit(lvl).alias("cycle_len"), *frontier.columns[2:]
        )

    # level 1: every edge is a 1-walk; a self-loop closes immediately
    # (checkpointed like every later level: `found` feeds the final
    # union and must not replay the collapse at consumption)
    frontier = level(e.select(*walk))
    found = closed(frontier, 1)
    # same close-out discipline as every later level: a self-loop
    # origin's min is recorded — its other out-edges must not keep it
    # expanding for max_len more rounds
    frontier = frontier.filter(F.col("node") != F.col("origin")).join(
        found.select("origin"), "origin", "left_anti"
    )
    visited = frontier.select("origin", "node")
    out = [found]
    for lvl in range(2, max_len + 1):
        # checkpoint the collapsed frontier BEFORE splitting it into
        # closed/continue: `closed` feeds the final union, and without
        # the cut its lineage re-runs this level's join + collapse a
        # second time when the result is consumed (the r9 plan showed
        # one join+aggregate pair per level under the final Union —
        # guide §2.4, duplicated subtrees are hidden re-shuffles)
        frontier = level(frontier.join(e, frontier["node"] == e["_s"]).select(*extend))
        out.append(closed(frontier, lvl))
        if lvl == max_len:
            break
        # drop origins that just closed (their min is recorded) and
        # pairs already expanded at an earlier (shorter) level; on the
        # functional path there is exactly one walk per origin, so the
        # visited anti-join cannot shrink the frontier bound and is
        # skipped along with the visited accumulation
        frontier = frontier.filter(F.col("node") != F.col("origin")).join(
            out[-1].select("origin"), "origin", "left_anti"
        )
        if not functional:
            frontier = frontier.join(visited, ["origin", "node"], "left_anti")
        frontier = frontier.localCheckpoint(eager=False)
        if not functional:
            visited = visited.unionByName(
                frontier.select("origin", "node")
            ).localCheckpoint(eager=False)
    return _union_all(out)


def cycle_members(
    edges: DataFrame,
    *,
    max_len: int = 6,
    src: str = "src",
    dst: str = "dst",
    functional: bool | None = None,
) -> DataFrame:
    """Circular-dependency detection (canopy spec overview.md:16
    `circular_dependencies`): (node, cycle_len) for every node that lies
    on a directed cycle of length <= ``max_len``, with cycle_len = the
    LENGTH OF THE SHORTEST cycle through that node.

    Multi-origin level-synchronous BFS: the frontier carries (origin,
    node) pairs; an origin is "closed" the first time its frontier
    returns to it, and the level at which that happens is the minimal
    cycle length (BFS levels = walk lengths; min over back-edges of
    dist+1 is exactly what level-order discovery yields). Closed origins
    are anti-joined out of the frontier so finished work leaves the
    loop, and a per-origin visited set both dedupes and stops
    re-expansion (revisits can only witness LONGER cycles, so pruning
    them is lossless for the min).

    Scale notes: the frontier is bounded by sum over origins of the
    origin's level-ball — linear for the module/import graphs this
    operator targets (out-degree is small and most origins close or
    exhaust early); each level is one shuffle join + one distinct. For
    dense general graphs prefer an SCC pass first; circular-dependency
    graphs in code (the reference's use) are import DAGs plus a few
    back-edges, the regime this plan is shaped for.

    Functional-graph fast path (r9, guide §2.1 — remove shuffles
    outright): when max out-degree == 1 (``functional``, auto-detected
    from one scalar aggregate over the prepared edge frame) every
    origin has exactly ONE walk, so the frontier holds exactly one row
    per live origin at every level BY CONSTRUCTION. The per-level
    ``distinct()`` then collapses nothing and the visited anti-join
    prunes nothing the frontier bound needs — both are pure overhead
    (one exchange + one anti-join + one union-checkpoint per level) and
    are skipped. Results are identical: distinct over already-unique
    rows is the identity, and visited pruning only ever removes
    redundant re-expansions (min-closure levels are unaffected — see
    the pruning-losslessness argument above, which covers removing the
    pruning as well as applying it).
    """
    res = _closed_walks(
        edges,
        max_len=max_len,
        src=src,
        dst=dst,
        functional=functional,
        walk=[F.col("_s").alias("origin"), F.col("_d").alias("node")],
        extend=["origin", F.col("_d").alias("node")],
        collapse=lambda f: f.distinct(),
    )
    # an origin can appear once per level only via distinct frontiers,
    # and never after it closes — but the last level skips the
    # anti-join, so collapse defensively to the min
    return (
        res.groupBy(F.col("origin").alias("node"))
        .agg(F.min("cycle_len").alias("cycle_len"))
    )


def cycle_paths(
    edges: DataFrame,
    *,
    max_len: int = 6,
    src: str = "src",
    dst: str = "dst",
    functional: bool | None = None,
) -> DataFrame:
    """(node, cycle_len, path) — :func:`cycle_members` plus ONE
    canonical shortest cycle through each node, as the '>'-joined node
    string ``node>...>node`` (VERDICT r7 item 6: a circular-dependency
    report needs the cycle's members to be actionable, canopy spec
    overview.md:16). Deterministic canon: among all minimal-length
    closed walks through the origin, the lexicographically smallest
    path string.

    Same multi-origin level-synchronous BFS as :func:`cycle_members`,
    with the frontier's per-(origin, node) ``distinct()`` replaced by
    ``min(path)`` — the same shuffle shape, one aggregate per level.
    Why per-level min composes to the global min: two same-level
    prefixes ending at the same node encode the same number of ids and
    end with the same id, so neither can be a strict string-prefix of
    the other, hence ``min(p) + suffix == min(p + suffix)`` for every
    shared continuation; induction over levels gives the minimal
    closed-walk string. Visited pruning stays lossless: an intermediate
    node of a MINIMAL cycle walk is necessarily first-visited at its
    position's level (an earlier visit would splice a shorter cycle).
    The oracle replays the same canon with a recursive CTE carrying the
    path string.

    Scale: identical frontier bounds to cycle_members; rows widen by a
    path string of <= max_len ids. Same 100 TB posture — import-DAG
    graphs with small out-degree; SCC-condense first for dense ones.

    Functional-graph fast path (r9, guide §2.1): same auto-detected
    max-out-degree==1 switch as :func:`cycle_members`. With one walk
    per origin the per-level ``min(path)`` aggregates over singleton
    groups (identity) and visited pruning cannot shrink the frontier,
    so both are skipped — one exchange + one anti-join + one
    union-checkpoint saved per level, rows identical.
    """
    res = _closed_walks(
        edges,
        max_len=max_len,
        src=src,
        dst=dst,
        functional=functional,
        walk=[
            F.col("_s").alias("origin"),
            F.col("_d").alias("node"),
            F.concat_ws(
                ">", F.col("_s").cast("string"), F.col("_d").cast("string")
            ).alias("path"),
        ],
        extend=[
            "origin",
            F.col("_d").alias("node"),
            F.concat(F.col("path"), F.lit(">"), F.col("_d").cast("string")).alias(
                "path"
            ),
        ],
        collapse=lambda f: f.groupBy("origin", "node").agg(
            F.min("path").alias("path")
        ),
    )
    # defensive collapse mirroring cycle_members: min (cycle_len, path)
    # struct per origin — levels after a close are anti-joined out, but
    # the last level skips that filter
    agg = res.groupBy(F.col("origin").alias("node")).agg(
        F.min(F.struct(F.col("cycle_len"), F.col("path"))).alias("m")
    )
    return agg.select(
        "node",
        F.col("m.cycle_len").alias("cycle_len"),
        F.col("m.path").alias("path"),
    )


def unused_symbols(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    node_col: str = "node",
    dst: str = "dst",
    exclude: DataFrame = None,
) -> DataFrame:
    """Symbols with no incoming reference (canopy spec overview.md:16
    `unused_symbols`): nodes that are never an edge destination, minus
    an optional ``exclude`` frame (entry points / exported symbols —
    canopy's analysis excludes mains and test functions the same way).

    One left_anti join against the distinct destination set, then one
    against the exclusion frame: no aggregation, no window — at 100 TB
    this is two shuffle-free broadcast anti-joins when the reference
    sets are small, or two shuffled anti-joins otherwise, either way
    linear.
    """
    used = edges.select(F.col(dst).alias(node_col)).distinct()
    out = nodes.select(node_col).distinct().join(used, node_col, "left_anti")
    if exclude is not None:
        out = out.join(
            exclude.select(F.col(exclude.columns[0]).alias(node_col)),
            node_col,
            "left_anti",
        )
    return out


def hotspots(
    edges: DataFrame,
    *,
    top_n: int = 50,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Most-connected symbols (canopy spec overview.md:16 `hotspots`):
    (node, fan_in, fan_out, degree) for the ``top_n`` nodes by total
    degree, ties broken by node ascending.

    ONE shuffle and ONE pass: each edge explodes into its two (node,
    in, out) indicator rows map-side (a Union of two selects would
    re-derive the edge frame's lineage once per branch — measured as a
    doubled window+exchange on the transition-edge fixture), then a
    single hash aggregate with map-side partial combine; the top-N is
    a TakeOrderedAndProject on the aggregate, not a full sort.
    """
    ind = edges.select(
        F.explode(
            F.array(
                F.struct(
                    F.col(src).alias("node"),
                    F.lit(0).alias("i"),
                    F.lit(1).alias("o"),
                ),
                F.struct(
                    F.col(dst).alias("node"),
                    F.lit(1).alias("i"),
                    F.lit(0).alias("o"),
                ),
            )
        ).alias("_x")
    ).select("_x.*")
    agg = ind.groupBy("node").agg(
        F.sum("i").alias("fan_in"), F.sum("o").alias("fan_out")
    )
    return (
        agg.withColumn("degree", F.col("fan_in") + F.col("fan_out"))
        .orderBy(F.col("degree").desc(), F.col("node").asc())
        .limit(top_n)
    )


def hierarchy_closure(
    parent_edges: DataFrame,
    *,
    max_depth: int = DEFAULT_DEPTH,
    child: str = "child",
    parent: str = "parent",
) -> DataFrame:
    """Transitive ancestor closure (canopy spec overview.md:16
    `type_hierarchy` / `dependency_graph`): (node, ancestor, depth) for
    every ancestor reachable in <= ``max_depth`` parent hops, depth =
    the MINIMUM hop count (a diamond hierarchy reports the shorter
    path).

    Level-synchronous pair expansion: level k+1 joins the level-k
    closure's ancestor side against the parent edges — the edge frame is
    scanned once per level and the per-level distinct bounds the pair
    frame at |closure|. Type hierarchies are shallow (the reference
    clamps traversals at 10, searcher_sql.go:43-50), so the loop is a
    handful of joins over a frame that is linear in the entity count.
    """
    max_depth = _clamp_depth(max_depth)
    e = parent_edges.select(
        F.col(child).alias("node"), F.col(parent).alias("ancestor")
    ).distinct()
    if max_depth == 1:
        return e.withColumn("depth", F.lit(1))
    # each level is checkpointed: the level-k plan references the FULL
    # closure (the min-depth anti-join), so without a lineage cut the
    # analyzed plan doubles per level and stalls Catalyst around depth
    # 6-8
    up_edges = e.select(
        F.col("node").alias("ancestor"), F.col("ancestor").alias("up")
    )

    def expand(level: DataFrame, d: int) -> DataFrame:
        return (
            level.join(up_edges, "ancestor")
            .select("node", F.col("up").alias("ancestor"))
            .distinct()
            .withColumn("depth", F.lit(d + 1))
        )

    return _union_all(
        _frontier_levels(
            e.withColumn("depth", F.lit(1)),
            expand,
            ["node", "ancestor"],
            depth=max_depth - 1,
        )
    )


def package_summary(entities: DataFrame) -> DataFrame:
    """Per-package symbol summary (canopy spec overview.md:16
    `package_summary` / `summary` under the discovery ops): one row per
    (package, kind) with file count, entity count, and aggregate
    params/complexity. Package = the file's directory, the same
    convention as Go packages / Python modules.

    Pure single-aggregate plan: derive the package key map-side from
    file_path, one hash aggregate with map-side partial combine — at
    100 TB this is a scan plus one exchange keyed on (package, kind).
    """
    pkg = F.when(
        F.instr(F.col("file_path"), "/") > 0,
        F.expr("substring(file_path, 1, length(file_path) - instr(reverse(file_path), '/'))"),
    ).otherwise(F.lit("."))
    return (
        entities.withColumn("package", pkg)
        .groupBy("package", "kind")
        .agg(
            F.countDistinct("file_path").alias("n_files"),
            F.count(F.lit(1)).alias("n"),
            F.sum("n_params").alias("sum_params"),
            F.sum("complexity").alias("sum_complexity"),
        )
    )


def strongly_connected_components(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    max_rounds: int = 30,
    label_rounds: int = 200,
    edge_doublings: int = 2,
    edge_growth_cap: float = 4.0,
) -> DataFrame:
    """Strongly connected components: (node, scc_id) with scc_id = the
    component's minimum node id — the UNBOUNDED form of
    :func:`cycle_members` (a node lies on some directed cycle iff its
    SCC has size >= 2, or it has a self-loop). Canopy-spec
    circular_dependencies (overview.md:16) without the depth clamp.

    Algorithm (FW-BW min-label peeling): per round, propagate the
    minimum node id FORWARD to fixpoint (F(v) = min id that reaches v,
    seeded with v) and BACKWARD (B(v) = min id v reaches); F and B are
    CONSTANT across an SCC (its members share reacher/reachable sets),
    so an SCC either settles whole — F == B == its min, which happens
    exactly when no strictly-outside smaller node is one-directionally
    attached — or defers whole to the next round, after settled nodes
    and their edges leave the frame. The globally smallest live node's
    SCC always settles, so the peel terminates in <= #SCC rounds.

    Honest bounds: dependency graphs (local cycles hanging off a
    mostly-DAG skeleton) settle in a handful of waves — the ring
    fixture settles in ONE (every ring is reach-closed). The known
    FW-BW pathology is a long id-increasing chain: each round settles
    only its head (O(V) rounds); for such shapes use the bounded
    :func:`cycle_members` or condense first. max_rounds guards the
    loop and raises rather than silently truncating.

    Each propagation step is one join + one aggregate over the live
    edge frame with lineage cut per step — the same physical shape as
    :func:`pagerank`. Nodes are the edge endpoints (an isolated node
    has no edges to define it; callers union extras if needed); an edge
    with a NULL endpoint carries no edge and defines no node. Both
    loops, the label fixpoint and the peel, run on :func:`_iterate`:
    the fixpoint's fingerprint, the peel's live-node count, |V| and the
    squaring's growth count are all observed by checkpoint jobs that
    run anyway, so no round runs a probe job of its own.

    r9 optimization (guide §2.4/§3.1): the F and B fixpoints run FUSED —
    one label frame carrying (flab, blab), both directions relaxed per
    round, ONE checkpoint and ONE convergence fingerprint per round
    instead of two separate fixpoint loops (round count becomes
    max(fwd, bwd) instead of fwd + bwd, and the per-round blocking jobs
    halve); the label/prop frames ride the pagerank-style
    broadcast-vs-shuffle switch so the live edge frame never shuffles
    while |nodes| fits the broadcast bound. Measured 35.0 -> 18.8 s on
    the sf0.1 ring fixture, output row-identical (the fixpoints are
    unique, so fusion cannot change them). A pointer-jumping lab(lab(v))
    shortcut was REtried on top of the fusion and REJECTED again:
    per-round wall grew 0.6 s -> 155 s by round 14 at sf0.01 (state
    size flat at |V| — the slowdown tracks the extra
    broadcast-over-shuffle builds, same pathology as the r7 attempt).

    r9 optimization 2 (guide §1.2 — the win lives in the algorithm):
    EDGE-SET DOUBLING. Before each fixpoint the live edge relation is
    squared up to ``edge_doublings`` times (e := distinct(e U e.e),
    checkpointed), so labels jump up to 2^k hops per round — round
    count drops from O(diameter) to O(diameter / 2^k) while the
    fixpoint itself is UNCHANGED (e ⊆ e_k ⊆ reach(e) preserves the
    reachability min-label). A deterministic growth cap (|e_k| must
    stay <= edge_growth_cap * |e|, an observed count) rejects a
    squaring on dense graphs, so the frame never explodes — the
    shortcut is free exactly on the sparse long-cycle shapes where
    round count hurts, and a no-op where density would bite. Unlike
    the rejected lab(lab(v)) shortcut the squared frames are
    checkpointed ONCE up front: per-round plan shape is identical to
    before. Measured (sf0.1 ring, warm): label rounds 41 -> 7, wall
    19.4 -> 10.7 s; output row-identical at sf0.01 and sf0.1.
    """
    # the node set is every endpoint of an edge without a NULL endpoint
    # (self-loops included), with |V| observed for the broadcast switch
    _, nodes, obs = _undirected(edges, src, dst)
    bcast = _bcast(obs["n"])
    live_edges = _checkpoint(
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .filter(F.col("s") != F.col("d"))
        .distinct()
    )

    def _densify(e: DataFrame, base: int) -> DataFrame:
        """Square the ``base``-edge relation ``e`` up to
        ``edge_doublings`` times: e := distinct(e U e.e), lineage cut
        per squaring. Reachability (hence the min-label fixpoint) is
        unchanged; labels then move up to 2^k hops per round. The
        growth cap makes the shortcut self-disabling on dense graphs: a
        squaring whose distinct result exceeds cap * |e_0| is discarded
        (count-based, so the decision is deterministic and replayable;
        the count is the squaring checkpoint's own observation)."""
        for _ in range(edge_doublings):
            two_hop = (
                e.alias("l")
                .join(e.alias("r"), F.col("l.d") == F.col("r.s"))
                .select(F.col("l.s").alias("s"), F.col("r.d").alias("d"))
            )
            e2, obs2 = _checkpoint(
                e.unionByName(two_hop).filter(F.col("s") != F.col("d")).distinct()
            )
            if obs2["n"] > edge_growth_cap * base:
                return e
            e = e2
        return e

    def _fixpoint(live: DataFrame, e: DataFrame) -> DataFrame:
        """Fused fixpoint of flab(v) = min(v, min over s->v of flab(s))
        and blab(v) = min(v, min over v->d of blab(d)) — one frame, one
        :func:`_iterate` loop. Labels are monotone non-increasing, so a
        repeated observed fingerprint of the (node, flab, blab) frame
        IS the joint fixpoint.
        """

        def relax(lab: DataFrame, _) -> DataFrame:
            fprop = (
                e.join(bcast(lab.select(F.col("node").alias("s"), "flab")), "s")
                .groupBy(F.col("d").alias("node"))
                .agg(F.min("flab").alias("f2"))
            )
            bprop = (
                e.join(bcast(lab.select(F.col("node").alias("d"), "blab")), "d")
                .groupBy(F.col("s").alias("node"))
                .agg(F.min("blab").alias("b2"))
            )
            return (
                lab.join(bcast(fprop), "node", "left")
                .join(bcast(bprop), "node", "left")
                .select(
                    "node",
                    F.least(
                        F.col("flab"), F.coalesce(F.col("f2"), F.col("flab"))
                    ).alias("flab"),
                    F.least(
                        F.col("blab"), F.coalesce(F.col("b2"), F.col("blab"))
                    ).alias("blab"),
                )
            )

        lab, _ = _iterate(
            live.select(
                "node", F.col("node").alias("flab"), F.col("node").alias("blab")
            ),
            relax,
            max_rounds=label_rounds,
        )
        return lab

    out_parts = []

    def peel(live: DataFrame, _) -> DataFrame:
        # F(v) == B(v) == m: m reaches v along the reversed label path
        # and v reaches m — v is in m's SCC. The minimum remaining node
        # always settles (F = B = itself), so progress is guaranteed.
        nonlocal live_edges
        if out_parts:  # a later round: drop the settled nodes' edges
            live_edges = _checkpoint(
                live_edges[0]
                .join(live.withColumnRenamed("node", "s"), "s", "left_semi")
                .join(live.withColumnRenamed("node", "d"), "d", "left_semi")
            )
        e, eobs = live_edges
        both = _fixpoint(live, _densify(e, eobs["n"]))
        out_parts.append(
            both.filter(F.col("flab") == F.col("blab")).select(
                "node", F.col("flab").alias("scc_id")
            )
        )
        return both.filter(F.col("flab") != F.col("blab")).select("node")

    _iterate(nodes.select("node"), peel, max_rounds=max_rounds, until=_emptied)
    if not out_parts:  # no node at all
        return nodes.select("node", F.col("node").alias("scc_id"))
    return _union_all(out_parts)


def _seeded_bfs(
    edges: DataFrame, *, seed_mod: int, max_depth: int, max_seeds: int
) -> tuple:
    """The seeded multi-source forward BFS that closeness and
    betweenness share, over an undirected a<b edge list. Returns
    ``(e, levels, bcast, key)``:

    - ``e``: the :func:`_undirected` (src, dst) edge frame;
    - ``levels[d]``: the (slot, node, sigma) frontier at distance d,
      sigma = the number of shortest seed->node paths (exact BIGINT);
      level 0 holds the seeds, slot = the seed's rank in the bounded
      ``% seed_mod`` ORDER-BY-LIMIT sample;
    - ``bcast``: the :func:`_bcast` hint for node-keyed joins,
      broadcast while |seeds|·|V| fits :data:`BROADCAST_NODE_LIMIT`;
    - ``key``: the packed-key function ``key(node, slot)``, or None when
      the id span has no BIGINT headroom. With a key, every level also
      carries its packed ``k`` column and the per-level aggregate and
      anti-join run on it.

    The node frame's checkpoint observes |V|, the id span and the size
    of the ``% seed_mod`` slice, so the seed count, the switch and the
    key need no job of their own.
    """
    e, nodes, obs = _undirected(
        edges, "a", "b", in_slice=F.count_if(F.col("node") % seed_mod == 0)
    )
    # every level's |frontier|·degree fan-out is produced in the tasks
    # that scan e, and a checkpointed small edge frame can sit in one or
    # two AQE-coalesced partitions: spread it over every core once
    e = e.repartition(
        edges.sparkSession.sparkContext.defaultParallelism, "src"
    ).localCheckpoint(eager=False)
    n_seeds = min(obs["in_slice"], max_seeds)
    bcast = _bcast(n_seeds * obs["n"])
    S = max(n_seeds, 1)
    mn = int(obs["mn"]) if obs["mn"] is not None else 0
    mx = int(obs["mx"]) if obs["mx"] is not None else 0
    node_dt = dict(e.dtypes)["src"]
    # slot = rank of the seed in the (deterministic) sample: a dense
    # 0..n_seeds-1 int that replaces the seed id as the per-source BFS
    # label
    lv0 = (
        nodes.filter(F.col("node") % seed_mod == 0)
        .orderBy("node")
        .limit(max_seeds)
        .select(
            (F.row_number().over(Window.orderBy("node")) - 1).alias("slot"),
            "node",
            F.lit(1).cast("long").alias("sigma"),
        )
    )

    def key(node_col, slot_col):
        # injective (node, slot) -> BIGINT while the span check holds
        return ((node_col.cast("long") - F.lit(mn)) * S + slot_col).alias("k")

    def expand_packed(prev: DataFrame, d: int) -> DataFrame:
        # aggregate on the single packed key; slot and node are
        # re-derived from it: true integer division (k is non-negative;
        # a double `/` would lose precision past 2^53), node cast back
        # to its source dtype so the schema never changes
        return (
            e.join(bcast(prev), prev["node"] == e["src"])
            .select(key(F.col("dst"), F.col("slot")), "sigma")
            .groupBy("k")
            .agg(F.sum("sigma").alias("sigma"))
            .select(
                "k",
                F.pmod(F.col("k"), F.lit(S)).cast("int").alias("slot"),
                (F.expr(f"k div {S}") + mn).cast(node_dt).alias("node"),
                "sigma",
            )
        )

    def expand_composite(prev: DataFrame, d: int) -> DataFrame:
        return (
            e.join(bcast(prev), prev["node"] == e["src"])
            .groupBy("slot", F.col("dst").alias("node"))
            .agg(F.sum("sigma").alias("sigma"))
        )

    if (mx - mn + 1) <= (2**62) // S:
        lv0 = lv0.withColumn("k", key(F.col("node"), F.col("slot")))
        expand, keys = expand_packed, ["k"]
    else:
        expand, keys, key = expand_composite, ["slot", "node"], None
    levels = _frontier_levels(lv0, expand, keys, depth=max_depth, hint=bcast)
    return e, levels, bcast, key


def closeness_centrality(
    edges: DataFrame,
    *,
    seed_mod: int = 20,
    max_depth: int = 3,
    max_seeds: int = 64,
) -> DataFrame:
    """Bounded-radius closeness + harmonic centrality from a
    deterministic seed sample, over an undirected a<b edge list — the
    "which nodes sit near everything" ranking that complements
    pagerank's endorsement flow (a node bridging two clusters scores
    high here long before it accumulates rank). Exact all-sources
    closeness is O(V·E); the standard large-graph practice is a
    seed-sampled, radius-bounded estimate — seeds here are the FIRST
    ``max_seeds`` ids of the ``node % seed_mod == 0`` slice (ORDER BY
    node LIMIT, replayable by the oracle), radius ``max_depth``.

    The seed count is a hard BOUND, not a density: a ``% seed_mod``
    slice alone scales |seeds| with |V|, making the BFS state
    |seeds|·|V| ~ V² — measured wedging the 10x replica (~10k seeds x
    200k nodes ~ 2B frontier rows). With ``max_seeds`` fixed the state
    is max_seeds·|V| — a constant number of pagerank-vector
    equivalents at any scale; raise seed_mod to DECORRELATE the sample
    (spread seeds across the id space) rather than to shrink it.

    Per seed: n_reached (nodes at 1..max_depth), sum_dist (Σ min-dist,
    exact integer), harmonic = Σ 1/dist assembled as c₁/1 + c₂/2 + …
    from the per-level integer counts in a FIXED left-to-right
    expression (never a float sum over rows, whose order is
    partition-dependent), and closeness = n_reached/sum_dist — both
    engines divide the same exact integers, so the op is
    hash-gateable. Oracle: recursive-CTE closure + min(d) GROUP BY
    replays the anti-join BFS's minimal distances.

    Scale notes: level-synchronous multi-source BFS — the frontier is
    (seed, node) pairs, each level one equi-join on node==src plus an
    anti-join against the visited set; each level is one
    :func:`_iterate` round, whose checkpoint cuts the plan's growth and
    observes the level's size, so the empty-level exit needs no job of
    its own. An edge with a NULL endpoint carries no edge. While
    |seeds|·|V| stays under :data:`BROADCAST_NODE_LIMIT` the frontier
    and visited frames ride broadcast joins (the stationary edge list
    never shuffles at all); past it both joins fall back to shuffles
    partitioned on the node key — the same size switch as pagerank.
    State is bounded by max_seeds·|V| by construction; the final
    aggregate is |seeds|-wide.

    The forward pass is :func:`betweenness_centrality`'s (one
    :func:`_seeded_bfs`, packed-key keying included); closeness reads
    only each level's distance and ignores its path counts.
    """
    _, levels, _, _ = _seeded_bfs(
        edges, seed_mod=seed_mod, max_depth=max_depth, max_seeds=max_seeds
    )
    vis = _union_all(
        [lv.select("slot", F.lit(d).alias("dist")) for d, lv in enumerate(levels)]
    )
    slot_counts = vis.filter(F.col("dist") >= 1).groupBy("slot").agg(
        F.count(F.lit(1)).alias("n_reached"),
        F.sum("dist").alias("sum_dist"),
        *[
            F.sum(F.when(F.col("dist") == d, 1).otherwise(0)).alias(f"c{d}")
            for d in range(1, max_depth + 1)
        ],
    )
    counts = (
        levels[0].select("slot", F.col("node").alias("seed"))
        .join(slot_counts, "slot", "left")
        .drop("slot")
    )
    harmonic = F.col("c1").cast("double")
    for d in range(2, max_depth + 1):
        harmonic = harmonic + F.col(f"c{d}") / F.lit(float(d))
    # seeds with no reached neighbor still get a row (harmonic 0,
    # closeness NULL) — the isolated-seed contract the oracle replays
    # (counts is built by a left join FROM the full seed frame, so the
    # row survives with NULL aggregates)
    return (
        counts
        .select(
            F.col("seed").alias("node"),
            F.coalesce("n_reached", F.lit(0)).alias("n_reached"),
            F.coalesce("sum_dist", F.lit(0)).alias("sum_dist"),
            F.round(F.coalesce(harmonic, F.lit(0.0)), 6).alias("harmonic"),
            F.round(
                F.try_divide(
                    F.col("n_reached").cast("double"),
                    F.col("sum_dist").cast("double"),
                ),
                6,
            ).alias("closeness"),
        )
    )


def betweenness_centrality(
    edges: DataFrame,
    *,
    seed_mod: int = 20,
    max_depth: int = 3,
    max_seeds: int = 64,
) -> DataFrame:
    """Seed-sampled, radius-bounded Brandes betweenness (Brandes 2001,
    "A faster algorithm for betweenness centrality") over an
    undirected a<b edge list — the "how much traffic MUST route
    through this node" ranking, the classic complement of closeness
    (nearness) and pagerank (endorsement). Exact betweenness is
    O(V·E); the standard large-graph estimate runs Brandes's
    forward-count/backward-accumulate passes from a bounded seed
    sample within a bounded radius, summing partial dependencies.
    Seeds are the same bounded ``% seed_mod`` ORDER-BY-LIMIT slice as
    :func:`closeness_centrality`.

    Determinism: forward path counts (sigma) are INTEGER sums —
    exact, order-free. The backward dependency fold is rational
    (sigma_u/sigma_v), so each TERM is quantized to an e6 BIGINT
    before the per-node sum (the _sum6 idiom): partial-dependency
    sums are exact integers at every level, the nested fold sees only
    already-quantized deltas, and the oracle (an UNROLLED per-level
    SQL mirror — forward levels as anti-joined CTEs, backward levels
    replaying the identical term expression) matches hash-exactly.

    Scale notes: level-synchronous multi-source BFS carrying
    (slot, node, sigma) with slot = the seed's rank in the bounded
    sample — state hard-bounded at max_seeds·|V| (the closeness
    discipline), one equi-join + one anti-join per forward level, one
    join per backward level, ``localCheckpoint`` lineage cuts
    throughout; the same broadcast-vs-shuffle size switch as pagerank.
    Scores are raw partial sums over the seed sample (each unordered
    pair contributes from both endpoints when both are seeds); n_seeds
    records how many seed BFS trees saw the node.

    Keying (r9 optimization, guide §2.3 "narrower types"): every
    per-(seed, node) aggregate and join runs on ONE packed BIGINT key
    ``(node - min_node) * n_seeds + slot`` instead of a two-column
    (seed, node) key — measured 3.1x faster on the dominant expansion
    aggregate at sf0.1 (5.77 s -> 1.85 s: the partial hash aggregate
    over the |frontier|·degree fan-out probes an 8-byte key instead of
    a 16-byte composite). The packing is injective while
    (max_node - min_node) * n_seeds has BIGINT headroom; when ids span
    too wide (e.g. xxhash64-derived), the same plan falls back to the
    composite key — identical output either way, since sigma/delta
    sums are order-free integers.
    """
    e, levels, bcast, key = _seeded_bfs(
        edges, seed_mod=seed_mod, max_depth=max_depth, max_seeds=max_seeds
    )
    reached = len(levels) - 1  # deepest populated level
    # backward accumulation: delta6[d] over levels reached..1, each
    # an exact BIGINT e6 partial-dependency sum; the checkpointed edge
    # frame is reused (the backward pass reads it once per level)
    deltas: dict[int, DataFrame] = {
        reached: levels[reached].withColumn(
            "delta6", F.lit(0).cast("long")
        )
    }
    # packed: (seed, node) keyed steps run on k, the successor's key
    # derived on the fly; composite: the (slot, node) pair
    keys = ["k"] if key is not None else ["slot", "node"]
    succ = (
        [key(F.col("dst"), F.col("slot"))]
        if key is not None
        else [F.col("slot"), F.col("dst").alias("node")]
    )
    term = (
        F.col("sigma").cast("double")
        / F.col("vsigma").cast("double")
        * (F.lit(1.0) + F.col("vdelta6").cast("double") / 1000000.0)
    )
    for d in range(reached - 1, 0, -1):
        u = levels[d]
        v = deltas[d + 1].select(
            *keys,
            F.col("sigma").alias("vsigma"),
            F.col("delta6").alias("vdelta6"),
        )
        # u rides the SAME broadcast-vs-shuffle switch as the
        # forward expansion (r9: the backward pass shuffle-joined u
        # against the edge frame while the forward pass
        # broadcast the frontier — the u exchange + sort-merge over
        # the |frontier|·degree fan-out was the single hottest
        # phase, 11.9 s of the 25.5 s total at sf0.1; guide §3.1,
        # broadcast replaces both exchanges)
        contrib = (
            bcast(u).join(e, u["node"] == e["src"])
            .select(*succ, *[u[c].alias(f"u_{c}") for c in keys], "sigma")
            .join(bcast(v), keys)
            .select(
                *[F.col(f"u_{c}").alias(c) for c in keys],
                F.round(term * 1000000.0).cast("long").alias("term6"),
            )
            .groupBy(*keys)
            .agg(F.sum("term6").alias("delta6"))
        )
        deltas[d] = (
            u.join(bcast(contrib), keys, "left")
            .select(
                *u.columns,
                F.coalesce("delta6", F.lit(0)).cast("long").alias("delta6"),
            )
            .localCheckpoint(eager=True)
        )
    out = _union_all([dl.select("node", "delta6") for dl in deltas.values()])
    return (
        out.groupBy("node")
        .agg(
            F.round(
                F.sum("delta6").cast("double") / 1000000.0, 6
            ).alias("betweenness"),
            F.count(F.lit(1)).alias("n_seeds"),
        )
    )
