"""Graph traversal: 1-hop neighbors, k-hop BFS, subgraph export
(SURVEY.md §2.7 G1-G3).

The reference expands one vertex per MongoDB round trip with no visited
set (mongraph.py:236-274 — and is latently broken, bugs B1-B3); we
implement the documented intent as frontier BFS over DataFrames:

    per level: frontier ⋈ edges → endpoints → anti-join visited → union

The undirected incident-edge $or query (mongraph.py:236-241) is executed
as a UNION of two equi-joins (src side + dst side) so both stay
hash-joinable instead of degrading to a nested-loop join. Each iteration
localCheckpoints to truncate lineage; small frontiers broadcast.

``frontier_bfs`` is the one k-hop loop: ``k_hop`` runs it over the edge
frame and ``store.k_hop_bucketed`` over the bucketed adjacency, each
supplying only its incident-edge step. Its frontier tiers are bounded by
the module constants ``ISIN_LITERAL_THRESHOLD`` and
``SMALL_FRONTIER_THRESHOLD`` (tests monkeypatch them to force the
broadcast tier or the distributed promotion on small graphs).

B7 semantics kept: find_neighbors includes the query vertex itself in the
returned vertex set (both endpoints of each incident edge are returned,
mongraph.py:243-245); the k-hop loop excludes already-visited vertices
from the next frontier to guarantee termination.
"""

from __future__ import annotations

import functools
import json
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pymongraph_spark.graph.model import PropertyGraph, _as_predicate
from pymongraph_spark.operators.graph_algos import endpoint_ids

# Frontier tiers of frontier_bfs (see k_hop). An IN list is capped at 1k
# ids because each id becomes a literal duplicated across the src and dst
# predicates, and tens of thousands of literals stress expression
# compilation long before driver memory matters; collecting ≤100k longs
# per level is single-digit MB on the driver.
ISIN_LITERAL_THRESHOLD = 1_000
SMALL_FRONTIER_THRESHOLD = 100_000


def incident_edges(g: PropertyGraph, frontier: DataFrame) -> DataFrame:
    """All edges touching any frontier vertex (either direction).

    ``frontier``: DataFrame with column ``id``. The $or join is rewritten
    as union-of-equi-joins; dropDuplicates on edge id removes edges matched
    from both sides (e.g. self-loops or both endpoints in frontier).

    No forced broadcast: ego-network frontiers are tiny and AQE picks the
    broadcast semi-join from actual runtime sizes, but a hub-explosion
    frontier (the k_hop tier-3 promotion path) can exceed broadcast limits
    — a hint here would OOM exactly when the distributed tier matters.
    """
    f = frontier.select("id").distinct()
    by_src = g.edges.join(f.withColumnRenamed("id", "src"), on="src", how="left_semi")
    by_dst = g.edges.join(f.withColumnRenamed("id", "dst"), on="dst", how="left_semi")
    return by_src.unionByName(by_dst).dropDuplicates(["id"])


def find_neighbors(
    g: PropertyGraph, vertex, get_details: bool = False
) -> tuple[DataFrame, DataFrame]:
    """G1 (mongraph.py:228-250): undirected 1-hop neighborhood.

    Returns (vertex_ids_or_details, incident_edges). Includes the query
    vertex itself (B7, kept as documented behavior). ``vertex`` is an id
    (int) or a DataFrame of ids.
    """
    if isinstance(vertex, DataFrame):
        e = incident_edges(g, vertex)
    else:
        # single-vertex case: one scan with a pushable predicate, no join
        v = int(vertex)
        e = g.edges.filter((F.col("src") == v) | (F.col("dst") == v))
    nbr_ids = endpoint_ids(e).distinct()
    if get_details:
        return g.hydrate_vertices(nbr_ids), e
    return nbr_ids, e


def k_hop(g: PropertyGraph, roots, depth: int) -> tuple[DataFrame, DataFrame]:
    """G2 (_explode_node intent, mongraph.py:252-274): k-hop ego network.

    Frontier BFS with a visited set (the reference has none — worst-case
    exponential re-expansion; ours is O(depth) jobs). Returns
    (visited_vertex_ids, visited_edges). The root is included.

    Three-tier frontier strategy, chosen per level by frontier size:

    1. ≤ ISIN_LITERAL_THRESHOLD ids — ONE scan of edges with an ``IN``
       filter pushed into the scan (no shuffle, no join).
    2. ≤ SMALL_FRONTIER_THRESHOLD ids — frontier stays a driver-side set
       (set algebra for visited/dedup is free), but expansion runs as a
       broadcast semi-join pair (incident_edges): the edge side is never
       shuffled and no literal expressions are built. This covers the
       entire ego-network regime.
    3. beyond — hub explosion: promote to the fully distributed plan
       (broadcast/shuffle semi-joins + anti-join visited + localCheckpoint
       lineage truncation), where frontier and visited live in DataFrames
       and nothing depends on driver memory. This is the 100 TB path;
       the driver tiers are latency optimizations for the common case.

    Edge dedup across levels is deferred to one final dropDuplicates.
    """

    def incident(frontier) -> DataFrame:
        if isinstance(frontier, list):
            return g.edges.filter(F.col("src").isin(frontier) | F.col("dst").isin(frontier))
        return incident_edges(g, frontier)

    return frontier_bfs(roots, depth, incident, g.edges.limit(0))


def _expand(e: DataFrame, visited: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One distributed level from its checkpointed incident edges ``e``:
    endpoint ids → anti-join visited → checkpoint. Returns (frontier,
    visited)."""
    frontier = endpoint_ids(e).distinct().join(visited, on="id", how="left_anti")
    frontier = frontier.localCheckpoint(eager=True)
    return frontier, visited.unionByName(frontier).distinct().localCheckpoint(eager=True)


def frontier_bfs(
    roots, depth: int, incident: Callable, no_edges: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """The k-hop loop (tiers: see k_hop). ``incident(frontier)`` returns
    the edges touching a frontier given either as a list of at most
    ISIN_LITERAL_THRESHOLD ids (tier 1) or as an ``id`` DataFrame;
    ``no_edges`` is the empty edge frame returned when no level ran."""
    spark = no_edges.sparkSession
    frontier_df = visited_df = visited_ids = None
    if isinstance(roots, DataFrame):
        frontier_df = visited_df = roots.select("id").distinct()
        sample = frontier_df.limit(SMALL_FRONTIER_THRESHOLD + 1).collect()
        small = len(sample) <= SMALL_FRONTIER_THRESHOLD
        frontier_ids = [r["id"] for r in sample] if small else None
    elif isinstance(roots, (list, tuple, set)):
        frontier_ids = [int(r) for r in roots]
    else:
        frontier_ids = [int(roots)]
    if frontier_ids is not None:
        visited_ids = set(frontier_ids)

    def ids_frame(ids) -> DataFrame:
        return spark.createDataFrame([(i,) for i in ids], "id: long")

    edge_levels: list[DataFrame] = []
    for _level in range(depth):
        if frontier_ids is None:
            e = incident(frontier_df)
        elif not frontier_ids:
            break
        elif len(frontier_ids) <= ISIN_LITERAL_THRESHOLD:
            e = incident(frontier_ids)
        else:
            e = incident(ids_frame(frontier_ids))
        e = e.localCheckpoint(eager=True)  # one scan; later actions reuse it
        edge_levels.append(e)
        if frontier_ids is not None:
            endpoints = e.select("src", "dst").distinct().limit(
                SMALL_FRONTIER_THRESHOLD + 1
            ).collect()
            flat = {r["src"] for r in endpoints} | {r["dst"] for r in endpoints}
            # Promote on either bound: pair-count overflow means the limit
            # truncated the collect (flat is incomplete — must go
            # distributed), and id-count overflow means the next frontier
            # would exceed the documented driver cap even though the pair
            # list fit (a pair can contribute two fresh ids).
            if max(len(endpoints), len(flat)) <= SMALL_FRONTIER_THRESHOLD:
                new_frontier = flat - visited_ids
                visited_ids |= new_frontier
                frontier_ids = sorted(new_frontier)
                continue
            # hub explosion → promote driver state to DataFrames; this
            # level's incident edges are complete, only the collect was cut
            visited_df = ids_frame(visited_ids)
            frontier_ids = visited_ids = None
        frontier_df, visited_df = _expand(e, visited_df)
        if frontier_df.isEmpty():
            break

    if visited_ids is not None:
        visited_df = ids_frame(sorted(visited_ids))
    if not edge_levels:
        return visited_df, no_edges
    edges = functools.reduce(DataFrame.unionByName, edge_levels)
    return visited_df, edges.dropDuplicates(["id"])


def induced_subgraph(g: PropertyGraph, vertex_ids: DataFrame) -> PropertyGraph:
    """Edges whose BOTH endpoints are in the vertex set — double semi-join."""
    ids = vertex_ids.select("id").distinct()
    edges = (
        g.edges.join(ids.withColumnRenamed("id", "src"), on="src", how="left_semi")
        .join(ids.withColumnRenamed("id", "dst"), on="dst", how="left_semi")
    )
    return PropertyGraph(g.hydrate_vertices(ids), edges)


def build_graph(g: PropertyGraph, root=None, predicate=None, depth: int = 4) -> str:
    """G3 (mongraph.py:276-303): resolve root (by id, or deterministic
    first predicate match — min id per SURVEY §5.5), expand to ``depth``
    ONCE (bug B2's intent), and export ``{"graph": {"vertices": [...],
    "edges": [...]}}`` as a JSON string with string ids and sorted lists
    (bug B4's intent: actually JSON-serializable).

    The collect is by design: the reference's contract returns one JSON
    payload. For at-scale export, write ``induced_subgraph(...)`` frames
    with df.write.json instead.
    """
    if root is None:
        matches = g.find_one(_as_predicate(predicate)).select("id").collect()
        if not matches:
            return json.dumps({"graph": {"vertices": [], "edges": []}})
        root = matches[0]["id"]
    visited, _ = k_hop(g, root, depth)
    sub = induced_subgraph(g, visited)
    vertices = [
        {"id": str(r["id"]), "label": r["label"], "props": dict(r["props"] or {})}
        for r in sub.vertices.collect()
    ]
    edges = [
        {
            "id": str(r["id"]),
            "src": str(r["src"]),
            "dst": str(r["dst"]),
            "label": r["label"],
            "props": dict(r["props"] or {}),
        }
        for r in sub.edges.collect()
    ]
    vertices.sort(key=lambda v: v["id"])
    edges.sort(key=lambda e: e["id"])
    return json.dumps({"graph": {"vertices": vertices, "edges": edges}}, sort_keys=True)
