"""Iterative graph analytics on the (vertices, edges) pair — the
GraphX/GraphFrames aggregateMessages pattern expressed as DataFrame
joins with driver-side loop control (SURVEY.md §4: Catalyst has no
fixpoint operator; this driver loop is the standard design).

Scale notes: each iteration is one shuffle on the edge key; lineage is
truncated per iteration with localCheckpoint; convergence is detected
with a count (cheap, reuses the shuffle). Hub skew is handled by AQE
(skew-join splitting is on in session defaults).

Each edge-frame step exists once, here, also for graph/traversal.py and
graph/store.py: ``endpoint_ids``, ``both_orientations``,
``canonical_pairs``, ``message_frame``. Every min-label propagation (CC,
CC on the bucketed adjacency, both SCC passes) runs
``_hash_min_fixpoint``, which raises rather than truncate.
``connected_components`` picks its path from a bounded probe: driver
union-find at ≤ ``CC_COLLECT_MAX_EDGES`` edges, else the fixpoint.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Iterations beyond this depth switch from executor-local lineage cuts to
# reliable storage checkpoints: localCheckpoint blocks live on executors,
# so on a real cluster an executor loss deep in a long loop would force
# recomputing the whole chain. Shallow loops (the common case) keep the
# cheap local path. Tests may lower this to exercise the reliable path.
RELIABLE_CHECKPOINT_DEPTH = 8

# Edge-count bound at or under which connected_components solves on the
# driver by union-find (~16 bytes/edge collected: 200k edges ≈ 3 MB on
# the driver — far below any broadcast we already build). Tests lower it
# to exercise the distributed fixpoint on small graphs.
CC_COLLECT_MAX_EDGES = 200_000


def endpoint_ids(edges: DataFrame, a: str = "src", b: str = "dst") -> DataFrame:
    """Columns ``a`` and ``b`` of ``edges`` stacked as one ``id`` column,
    repeats kept: callers add ``distinct()`` for an id set or group by
    ``id`` for degrees."""
    return edges.select(F.col(a).alias("id")).unionByName(
        edges.select(F.col(b).alias("id"))
    )


def both_orientations(edges: DataFrame, *cols: str) -> DataFrame:
    """``(src, dst, *cols)`` for every edge and for its reverse — the
    undirected view of a directed edge frame, duplicates kept."""
    return edges.select("src", "dst", *cols).unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"), *cols)
    )


def canonical_pairs(edges: DataFrame) -> DataFrame:
    """Unordered simple-graph pairs ``(u, v)`` with u < v: direction and
    parallel edges collapse, self-loops drop."""
    return (
        edges.select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def message_frame(edges: DataFrame) -> DataFrame:
    """Undirected message frame of a propagation loop, partitioned by
    ``dst`` (every iteration's join key) and deduplicated WITHIN that
    exchange (HashPartitioning(dst) satisfies the (src, dst) clustering):
    the edge side is shuffled once for the whole loop, not per iteration."""
    return both_orientations(edges).repartition("dst").dropDuplicates(["src", "dst"])


def adjacency_message_frame(adjacency: DataFrame, label: str | None = None) -> DataFrame:
    """message_frame read off the bucketed adjacency (store.save_bucketed:
    both orientations of every edge, ``key`` = the incident vertex): each
    row sends from the far endpoint to ``key``. No exchange."""
    if label is not None:
        adjacency = adjacency.filter(F.col("label") == label)
    return adjacency.select(
        F.when(F.col("key") == F.col("src"), F.col("dst"))
        .otherwise(F.col("src"))
        .alias("src"),
        F.col("key").alias("dst"),
    )


def _cut_lineage(df: DataFrame, iteration: int) -> DataFrame:
    """Truncate plan lineage between fixpoint iterations.

    Deep iterations upgrade to reliable checkpoint() ONLY when the user
    has configured a checkpoint dir (which on a real cluster must be a
    shared filesystem — HDFS/S3). A driver-local tempdir fallback would
    be worse than localCheckpoint: each executor would write partition
    files to its own node's copy of the path and cross-executor reads
    would fail. Without a configured dir we stay on localCheckpoint and
    deep-loop executor-loss tolerance is the user's opt-in.
    """
    if iteration < RELIABLE_CHECKPOINT_DEPTH:
        # Lazy: every fixpoint loop runs an aggregate over the cut frame
        # immediately after (convergence check), and that action
        # materializes the checkpoint blocks — eager=True would spend a
        # SEPARATE job per iteration computing the same frame first
        # (guide §1.2: fewer passes; measured ~2 jobs/iter → 1).
        return df.localCheckpoint(eager=False)
    if df.sparkSession.sparkContext.getCheckpointDir():
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=False)


def degrees(edges: DataFrame) -> DataFrame:
    """(id, in_degree, out_degree, degree) for every endpoint."""
    out_d = edges.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("out_degree"))
    in_d = edges.groupBy(F.col("dst").alias("id")).agg(F.count(F.lit(1)).alias("in_degree"))
    return (
        out_d.join(in_d, on="id", how="full_outer")
        .select(
            "id",
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            (F.coalesce("in_degree", F.lit(0)) + F.coalesce("out_degree", F.lit(0))).alias("degree"),
        )
    )


def connected_components(
    vertices: DataFrame, edges: DataFrame, max_iter: int = 25
) -> DataFrame:
    """Undirected connected components: (id, component) with component =
    the min vertex id of the component — deterministic. One row per id
    of ``vertices``; an edge endpoint missing from ``vertices`` still
    joins the components it touches but gets no row of its own. Both
    paths below follow that rule and return identical rows.

    A bounded probe, one job (ADVICE r14), picks the path:
    ``limit(CC_COLLECT_MAX_EDGES + 1).collect()`` tests the bound and
    fetches the edge list. At or under it a driver union-find solves the
    components exactly; near-dup pair graphs hold a few hundred edges at
    bench scale, where the loop is ~6 jobs of scheduling overhead
    (measured 1.3s → ~0.15s inside t107). Above it the hash-min fixpoint
    runs: one iteration per hop of the longest min-label path (≈ the
    component diameter); exhausting ``max_iter`` raises, and the early
    exit makes a generous budget free on well-behaved graphs.
    """
    probe = edges.select("src", "dst").limit(CC_COLLECT_MAX_EDGES + 1).collect()
    if len(probe) <= CC_COLLECT_MAX_EDGES:
        return _collected_components(vertices, probe)
    und = message_frame(edges).persist()
    try:
        return _hash_min_fixpoint(
            vertices, und, "dst", "src", "component", max_iter, "connected_components"
        )
    finally:
        und.unpersist()


def _collected_components(vertices: DataFrame, edge_rows: list) -> DataFrame:
    """Driver union-find over a bounded, ALREADY-COLLECTED edge list (the
    small side of connected_components). Labels are the min vertex id
    per component — bit-identical to the hash-min fixpoint. Vertices that
    touch no edge keep their own id via the coalesce, and the left join
    from ``vertices`` drops endpoints missing from it after they have
    joined their components: the output covers exactly ``vertices``.

    Ids must be ordered/comparable (min-id labeling). The label frame's
    schema is derived from the vertices' id type rather than hardcoding
    long."""
    spark = vertices.sparkSession
    id_type = vertices.schema["id"].dataType.simpleString()
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:  # path compression
            parent[x], x = r, parent[x]
        return r

    nodes: set = set()
    for row in edge_rows:
        nodes.add(row[0])
        nodes.add(row[1])
        ra, rb = find(row[0]), find(row[1])
        if ra != rb:
            # union by min id: the min root stays the representative, so
            # find() yields the component's min vertex id directly
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    labels = [(v, find(v)) for v in nodes]
    # no broadcast hint: comp_df is a LocalRelation whose exact size the
    # planner knows (bounded by CC_COLLECT_MAX_EDGES), so auto-broadcast
    # picks BHJ on its own — and the t71 plan lint forbids forced hints
    # on the cluster join (cluster membership is unbounded in general;
    # THIS path is the bounded special case)
    comp_df = spark.createDataFrame(
        labels, f"id: {id_type}, component: {id_type}"
    )
    return (
        vertices.select("id")
        .join(comp_df, "id", "left")
        .select("id", F.coalesce("component", F.col("id")).alias("component"))
    )


def connected_components_adjacency(
    vertices: DataFrame,
    adjacency: DataFrame,
    label: str | None = None,
    max_iter: int = 25,
) -> DataFrame:
    """connected_components' fixpoint (same rows) over the bucketed
    adjacency layout, which IS the message frame the generic operator
    rebuilds per call with an edge shuffle: zero edge shuffles here,
    measured 3× faster at sf0.1 (1.9s vs 6.4s per call)."""
    und = adjacency_message_frame(adjacency, label).persist()
    try:
        return _hash_min_fixpoint(
            vertices, und, "dst", "src", "component", max_iter,
            "connected_components_adjacency",
        )
    finally:
        und.unpersist()


def _hash_min_fixpoint(
    vertices: DataFrame,
    edges: DataFrame,
    from_col: str,
    to_col: str,
    label_name: str,
    max_iter: int,
    op: str,
) -> DataFrame:
    """Shared hash-min label-propagation loop: labels start as vertex ids
    and flow ``from_col`` → ``to_col`` (callers pick the orientation:
    connected_components sends dst→src over the symmetrized frame, the
    SCC passes use src→dst / dst→src over the directed frame). Each
    iteration is ONE join + ONE min-aggregate: neighbor messages unioned
    with the self message collapse the least()/coalesce join of the
    classic formulation. An endpoint missing from ``vertices`` relays
    labels, but a flag carried through the aggregate drops its row.

    Hash-min labels only decrease, so one aggregate over the checkpointed
    result — no new-vs-old join — detects the fixpoint: the row count (a
    relay reached for the first time adds a row) and Σlabel (decimal:
    exact for 64-bit hash ids). Exhausting ``max_iter`` raises, naming
    ``op``: a truncated labeling splits components silently."""
    lbl = vertices.select(
        "id", F.col("id").alias(label_name), F.lit(True).alias("__v")
    ).localCheckpoint(eager=True)
    prev = None
    for it in range(max_iter):
        msgs = edges.join(lbl, edges[from_col] == lbl.id).select(
            edges[to_col].alias("id"), F.col(label_name), F.lit(False).alias("__v")
        )
        lbl = _cut_lineage(
            msgs.unionByName(lbl)
            .groupBy("id")
            .agg(F.min(label_name).alias(label_name), F.max("__v").alias("__v")),
            it,
        )
        cur = tuple(
            lbl.agg(
                F.count(F.lit(1)), F.sum(F.col(label_name).cast("decimal(38,0)"))
            ).collect()[0]
        )
        if cur == prev:
            return lbl.filter("__v").select("id", label_name)
        prev = cur
    raise RuntimeError(
        f"{op} did not reach a fixpoint in {max_iter} iterations (the "
        "propagation path is longer than the budget); raise max_iter rather "
        "than consume a partially-propagated labeling"
    )


def pagerank(
    vertices: DataFrame,
    edges: DataFrame,
    damping: float = 0.85,
    max_iter: int = 10,
) -> DataFrame:
    """Directed PageRank, fixed iteration count (deterministic given a
    deterministic plan; float sums make cross-engine oracle matching
    impractical, so this ships under the rows-only gate + unit-test
    invariants: Σrank ≈ |V|, dangling mass conserved)."""
    v = vertices.select("id").distinct().persist()
    n = v.count()
    out_deg = edges.groupBy(F.col("src").alias("id")).agg(F.count(F.lit(1)).alias("out_degree"))
    ranks = v.select("id", F.lit(1.0).alias("rank"))
    links = edges.select("src", "dst").join(out_deg, edges.src == out_deg.id).select(
        "src", "dst", "out_degree"
    ).persist()

    for it in range(max_iter):
        contribs = (
            links.join(ranks, links.src == ranks.id)
            .select("dst", (F.col("rank") / F.col("out_degree")).alias("contrib"))
            .groupBy("dst")
            .agg(F.sum("contrib").alias("inflow"))
        )
        # dangling-node mass (vertices with no out-edges) redistributed —
        # computed as a 1-row DataFrame broadcast into the update instead
        # of a per-iteration driver collect(): one Spark job per iteration
        # (the eager lineage cut), not two.
        dangling_share = (
            ranks.join(out_deg.select("id"), on="id", how="left_anti")
            .agg((F.coalesce(F.sum("rank"), F.lit(0.0)) / F.lit(float(n))).alias("__dangling_share"))
        )
        ranks = _cut_lineage(
            v.join(contribs, v.id == contribs.dst, "left")
            .crossJoin(F.broadcast(dangling_share))
            .select(
                "id",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping)
                    * (F.coalesce(F.col("inflow"), F.lit(0.0)) + F.col("__dangling_share"))
                ).alias("rank"),
            ),
            it,
        )
    links.unpersist()
    v.unpersist()
    return ranks


def pagerank_exact(
    vertices: DataFrame,
    edges: DataFrame,
    max_iter: int = 4,
    scale: int = 10**9,
    sources: list[int] | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank in scaled-integer arithmetic: rank 1.0 is
    ``scale``; every update is floor division on 64-bit ints, so the
    result is bit-identical across engines (the cross-engine oracle
    anchor for the float ``pagerank``, whose summation order is
    engine-specific). Simplified model: no dangling-mass redistribution —
    per-iteration update is

        rank' = restart + (85 * Σ_in floor(rank/outdeg)) // 100

    With ``sources=None`` restart is (15*scale)//100 everywhere (global
    PageRank). With a source list it is PERSONALIZED: restart mass (and
    the initial rank) sits only on the sources, so ranks measure
    proximity to them — the recommendation / trust-propagation form.

    Same join/aggregate shape per iteration as ``pagerank`` (one edge
    join + one sum shuffle), so it scales identically; integer headroom
    is ~1e9 vertices at scale=1e9 before the 85× product nears int64.
    """
    v = vertices.select("id").distinct()
    out_deg = edges.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    links = edges.select("src", "dst").join(
        out_deg, edges.src == out_deg.id
    ).select("src", "dst", "outdeg").persist()

    base = 15 * scale // 100
    if sources is None:
        restart = F.lit(base)
        init = F.lit(scale)
    else:
        in_src = F.col("id").isin([int(x) for x in sources])
        restart = F.when(in_src, F.lit(base)).otherwise(F.lit(0))
        init = F.when(in_src, F.lit(scale)).otherwise(F.lit(0))
    ranks = v.select("id", init.cast("long").alias("rank"))
    for it in range(max_iter):
        contribs = (
            links.join(ranks, links.src == ranks.id)
            .select("dst", F.expr("rank div outdeg").alias("contrib"))
            .groupBy("dst")
            .agg(F.sum("contrib").alias("inflow"))
        )
        ranks = _cut_lineage(
            v.join(contribs, v.id == contribs.dst, "left")
            .select(
                "id",
                (
                    restart
                    + F.expr("(85 * coalesce(inflow, 0L)) div 100")
                ).cast("long").alias("rank"),
            ),
            it,
        )
    links.unpersist()
    return ranks


def bfs_distances(
    edges: DataFrame, source: int, max_depth: int = 3, undirected: bool = True
) -> DataFrame:
    """Minimum hop distance from ``source`` to every vertex reachable in
    ≤ max_depth hops: (id, distance). Classic frontier BFS — the visited
    anti-join guarantees each vertex is assigned its first (= minimum)
    depth, so no per-vertex min aggregation is needed.

    Scale: the frontier is the only growing state; each hop is one join
    shuffle + anti-join against the accumulated distances, with
    localCheckpoint truncating lineage. The reference's recursive
    _explode_node (mongraph.py:252-274) re-expands shared neighbors
    exponentially; this loop touches each vertex once.
    """
    adj = both_orientations(edges) if undirected else edges.select("src", "dst")
    adj = adj.distinct().persist()

    spark = edges.sparkSession
    dist = spark.createDataFrame([(source, 0)], "id: long, distance: long").localCheckpoint(
        eager=True
    )
    frontier = dist.select("id")
    for depth in range(1, max_depth + 1):
        nxt = _cut_lineage(
            # no explicit broadcast: the frontier is checkpointed, so AQE
            # sees its true size and broadcasts only while it is small
            adj.join(frontier, adj.src == frontier.id, "left_semi")
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(dist, on="id", how="left_anti")
            .withColumn("distance", F.lit(depth).cast("long")),
            depth,
        )
        if nxt.isEmpty():
            break
        dist = _cut_lineage(dist.unionByName(nxt), depth)
        frontier = nxt.select("id")
    adj.unpersist()
    return dist


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-vertex triangle counts over an undirected simple graph:
    (id, n_triangles) for vertices in ≥1 triangle.

    Edges are canonicalized to unordered pairs, then ORIENTED from the
    (degree, id)-smaller endpoint to the larger one before the wedge
    join — the node-iterator++ trick: every wedge is enumerated at its
    lowest-degree vertex, bounding per-vertex join fan-out by O(sqrt(E))
    on skewed (power-law) graphs instead of O(max_degree). Each triangle
    is found exactly once, then exploded to credit all three corners.
    """
    canon = canonical_pairs(edges)
    # canon/oriented are deliberately NOT persisted: both branches of each
    # self-use contain the identical distinct-exchange subtree, which AQE
    # reuses (ReusedExchange), and an explicit persist would pin an
    # edge-scale frame in executor storage until session end.
    deg = (
        endpoint_ids(canon, "u", "v")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # orient edge toward the (deg, id)-larger endpoint
    du = deg.select(F.col("id").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("id").alias("v"), F.col("deg").alias("dv"))
    with_deg = canon.join(du, "u").join(dv, "v")
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = with_deg.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("hi"),
    )

    # wedges centered at the low endpoint; closing edge looked up in
    # canonical (unordered) form
    w1 = oriented.select(F.col("lo").alias("x"), F.col("hi").alias("y"))
    w2 = oriented.select(F.col("lo").alias("x"), F.col("hi").alias("z"))
    wedges = w1.join(w2, on="x").filter(F.col("y") < F.col("z"))
    closing = canon.select(F.col("u").alias("y"), F.col("v").alias("z"))
    triangles = wedges.join(closing, on=["y", "z"], how="left_semi")

    corners = (
        triangles.select(F.col("x").alias("id"))
        .unionByName(triangles.select(F.col("y").alias("id")))
        .unionByName(triangles.select(F.col("z").alias("id")))
    )
    result = corners.groupBy("id").agg(F.count(F.lit(1)).alias("n_triangles"))
    return result


def shortest_paths_weighted(
    edges: DataFrame,
    source: int,
    weight_col: str = "weight",
    max_hops: int = 4,
    undirected: bool = False,
) -> DataFrame:
    """Minimum-cost path (≤ max_hops edges) from ``source``: (id, cost).
    Hop-bounded Bellman-Ford: each round relaxes every edge once via a
    join on the current tentative costs, keeping the per-vertex min. With
    integer weights the min-fold is exact, so results are engine-portable.

    Scale: state is one (id, cost) row per reached vertex; each round is
    one join + min-aggregate shuffle pair, lineage cut per round. Rounds
    are bounded by max_hops, not |V| — the right contract for "cost
    within k hops" queries on 100 TB graphs (a full Bellman-Ford fixpoint
    over a long-diameter graph belongs in GraphFrames/Pregel, not here).
    """
    adj = edges.select("src", "dst", F.col(weight_col).alias("w"))
    if undirected:
        adj = both_orientations(adj, "w")
    # parallel edges: only the cheapest matters
    adj = adj.groupBy("src", "dst").agg(F.min("w").alias("w")).persist()

    spark = edges.sparkSession
    best = spark.createDataFrame([(source, 0)], "id: long, cost: long").localCheckpoint(eager=True)
    # frontier = vertices whose cost improved last round (only they can
    # propagate improvements, so relaxation work shrinks as costs settle)
    frontier = best
    for hop in range(max_hops):
        candidates = (
            adj.join(frontier, adj.src == frontier.id)
            .select(F.col("dst").alias("id"), (F.col("cost") + F.col("w")).alias("cost"))
        )
        merged = _cut_lineage(
            best.unionByName(candidates)
            .groupBy("id")
            .agg(F.min("cost").alias("cost")),
            hop,
        )
        improved = _cut_lineage(
            merged.alias("m")
            .join(best.alias("b"), on="id", how="left")
            .filter(F.col("b.cost").isNull() | (F.col("m.cost") < F.col("b.cost")))
            .select("id", F.col("m.cost").alias("cost")),
            hop,
        )
        if improved.isEmpty():
            best = merged
            break
        best = merged
        frontier = improved
    adj.unpersist()
    return best


def k_core(edges: DataFrame, k: int = 2, max_iter: int = 50) -> DataFrame:
    """Vertices of the k-core: the maximal subgraph where every vertex has
    degree ≥ k (undirected, parallel edges collapsed). Classic iterative
    peeling — drop sub-k vertices, recompute degrees on the induced
    subgraph, repeat to fixpoint.

    Iterative deletion is not monotone in any SQL-recursion sense, so
    there is no DuckDB oracle (rows-only gate); correctness is pinned by
    unit tests on known graphs. Scale shape: state is the surviving edge
    set (shrinks every round); each round is one degree aggregate + two
    semi-joins, lineage cut per round. Rounds are bounded by the peeling
    depth (the graph's degeneracy ordering), usually far below max_iter.
    """
    live = canonical_pairs(edges).localCheckpoint(eager=True)
    for it in range(max_iter):
        deg = (
            endpoint_ids(live, "u", "v")
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        keep = _cut_lineage(deg.filter(F.col("deg") >= k).select("id"), it)
        pruned = _cut_lineage(
            live.join(keep, live.u == keep.id, "left_semi")
            .join(keep, live.v == keep.id, "left_semi"),
            it,
        )
        if pruned.count() == live.count():
            live = pruned
            break
        live = pruned
    return endpoint_ids(live, "u", "v").distinct()


def label_propagation(
    vertices: DataFrame, edges: DataFrame, max_iter: int = 5
) -> DataFrame:
    """Community detection via synchronous label propagation (LPA): every
    vertex starts in its own community (label = id) and each round adopts
    the most frequent label among its neighbors, ties broken by the
    smallest label — which makes the sweep fully deterministic, unlike
    the randomized-order LPA of the literature (determinism is what lets
    the gate and tests pin results). Runs a FIXED ``max_iter`` rounds:
    synchronous LPA can oscillate between two labelings on bipartite-ish
    structures, so a fixed budget is the standard termination rule.

    Returns (id, community). Scale shape mirrors connected_components:
    the undirected edge frame is shuffled ONCE (repartition on the join
    key, dedup inside that exchange), each round is one vertex-sized
    join + a two-level aggregate (count per (id,label) — partial
    map-side — then argmax per id), lineage cut per round. Isolated
    vertices keep their own label via the left join.
    """
    und = message_frame(edges.filter(F.col("src") != F.col("dst"))).persist()
    labels = vertices.select("id", F.col("id").alias("community")).localCheckpoint(
        eager=True
    )
    try:
        for it in range(max_iter):
            msgs = und.join(labels, und.dst == labels.id).select(
                und.src.alias("id"), F.col("community")
            )
            counts = msgs.groupBy("id", "community").agg(
                F.count(F.lit(1)).alias("cnt")
            )
            # argmax(count) with min-label tie-break as a single min-agg
            # over (−count, label): no per-vertex window sort
            best = counts.groupBy("id").agg(
                F.min(
                    F.struct((-F.col("cnt")).alias("neg"), F.col("community"))
                )["community"].alias("new_community")
            )
            labels = _cut_lineage(
                labels.join(best, on="id", how="left").select(
                    "id",
                    F.coalesce("new_community", "community").alias("community"),
                ),
                it,
            )
    finally:
        und.unpersist()
    return labels


def strongly_connected_components(
    vertices: DataFrame, edges: DataFrame, max_rounds: int = 50, max_iter: int = 100
) -> DataFrame:
    """DIRECTED strongly connected components via FW-BW min-label
    peeling: each round propagates min vertex ids FORWARD (along edge
    direction) and BACKWARD (against it) to a STRICT fixpoint on the
    remaining subgraph; vertices where both labels agree are exactly the
    SCC of that label's vertex (it reaches them and they reach it) —
    they are emitted and removed, and the next round runs on what's
    left. Each round additionally TRIMS: remaining vertices with no
    live in-edges or no live out-edges are singleton SCCs and peel in
    bulk.

    Round complexity is honest, not optimistic: a round peels every SCC
    whose min id is also the min over both of its reach basins (plus
    all trimmable singletons), so long chains of SCCs can need one
    round per chain link — ``max_rounds`` bounds that and the function
    RAISES when exhausted. Each propagation needs ≈ the largest SCC's
    diameter in iterations and raises past ``max_iter``.

    Returns (id, component) with component = min vertex id of the SCC —
    deterministic. State shrinks every round as SCCs peel off; the
    propagation loop is the same shared hash-min machinery as
    connected_components.
    """
    remaining = vertices.select("id").localCheckpoint(eager=True)
    live = edges.select("src", "dst").filter(F.col("src") != F.col("dst"))
    live = live.localCheckpoint(eager=True)
    out: DataFrame | None = None
    spark = vertices.sparkSession

    for _ in range(max_rounds):
        if remaining.isEmpty():
            break
        # trim: no live out-edges or no live in-edges → singleton SCC
        has_out = live.select(F.col("src").alias("id")).distinct()
        has_in = live.select(F.col("dst").alias("id")).distinct()
        trimmed = (
            remaining.join(has_out, on="id", how="left_anti")
            .unionByName(remaining.join(has_in, on="id", how="left_anti"))
            .distinct()
            .select("id", F.col("id").alias("component"))
            .localCheckpoint(eager=True)
        )
        core = remaining.join(trimmed.select("id"), on="id", how="left_anti")
        peeled = trimmed
        if not core.isEmpty():
            core_edges = (
                live.join(trimmed.select(F.col("id").alias("src")), on="src", how="left_anti")
                .join(trimmed.select(F.col("id").alias("dst")), on="dst", how="left_anti")
            )
            op = "strongly_connected_components"
            fwd = _hash_min_fixpoint(core, core_edges, "src", "dst", "lbl", max_iter, op)
            bwd = _hash_min_fixpoint(core, core_edges, "dst", "src", "lbl", max_iter, op)
            both = fwd.join(
                bwd.select(F.col("id"), F.col("lbl").alias("blbl")), on="id"
            )
            done = both.filter(F.col("lbl") == F.col("blbl")).select(
                "id", F.col("lbl").alias("component")
            )
            peeled = trimmed.unionByName(done).localCheckpoint(eager=True)
        out = peeled if out is None else out.unionByName(peeled).localCheckpoint(eager=True)
        remaining = remaining.join(peeled.select("id"), on="id", how="left_anti")
        remaining = remaining.localCheckpoint(eager=True)
        live = (
            live.join(peeled.select(F.col("id").alias("src")), on="src", how="left_anti")
            .join(peeled.select(F.col("id").alias("dst")), on="dst", how="left_anti")
            .localCheckpoint(eager=True)
        )
    if not remaining.isEmpty():
        raise RuntimeError(
            f"strongly_connected_components did not settle in {max_rounds} "
            "rounds (long chain of SCCs); raise max_rounds — the per-round "
            "propagations are strict, so more rounds stay correct"
        )
    if out is None:
        return spark.createDataFrame([], "id: long, component: long")
    return out
