"""Unit tests per operator inventory row (SURVEY.md §5.1): W1/W2 upsert
semantics, U1/U2 merges, D1/D2 deletes, G1 neighbors (incl. B7 semantics),
G2 k-hop on golden graphs (path / star / cycle / disconnected), G3 export,
Q1/Q2 search determinism.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from pymongraph_spark.graph import PropertyGraph, vertex_id
from pymongraph_spark.graph.traversal import build_graph, find_neighbors, k_hop
from pymongraph_spark.graph.writes import (
    delete_edges,
    delete_vertices,
    update_vertices,
    upsert_edges,
    upsert_vertices,
)

REG = {"node": {"name"}}


def _mk_graph(spark, edge_pairs, n_vertices=None):
    """Golden graph helper: vertices named v0..vN, directed edges by index."""
    names = sorted({x for p in edge_pairs for x in p}) if n_vertices is None else [
        f"v{i}" for i in range(n_vertices)
    ]
    data = spark.createDataFrame([(n,) for n in names], "name: string")
    g = upsert_vertices(PropertyGraph.empty(spark), "node", data, key="name", registry=REG)
    if edge_pairs:
        edges = spark.createDataFrame(
            [(a, b) for a, b in edge_pairs], "a: string, b: string"
        ).select(
            vertex_id("node", F.col("a")).alias("src"),
            vertex_id("node", F.col("b")).alias("dst"),
        )
        g = upsert_edges(g, edges, label="linked")
    return g


def _vid(name):
    # mirror of vertex_id for driver-side lookups
    return None  # resolved via DataFrame below


def _id_of(g, name):
    return g.vertices.filter(F.col("props")["name"] == name).collect()[0]["id"]


def _names_of(g, ids_df):
    return sorted(
        r["props"]["name"]
        for r in g.vertices.join(ids_df.select("id"), on="id").collect()
    )


# ---- W1/W2 ---------------------------------------------------------------

def test_w1_upsert_dedups_by_natural_key(spark):
    data = spark.createDataFrame([("a",), ("a",), ("b",)], "name: string")
    g = upsert_vertices(PropertyGraph.empty(spark), "node", data, key="name", registry=REG)
    assert g.vertices.count() == 2
    g2 = upsert_vertices(g, "node", data, key="name", registry=REG)
    assert g2.vertices.count() == 2  # idempotent


def test_w1_first_insert_wins(spark):
    d1 = spark.createDataFrame([("a", "x")], "name: string, extra: string")
    d2 = spark.createDataFrame([("a", "y")], "name: string, extra: string")
    g = upsert_vertices(PropertyGraph.empty(spark), "node", d1, key="name", registry=REG)
    g = upsert_vertices(g, "node", d2, key="name", registry=REG)
    row = g.vertices.collect()[0]
    assert row["props"]["extra"] == "x"  # mongraph.py:90-97 — existing wins


def test_w2_edge_triple_dedup_and_direction(spark):
    g = _mk_graph(spark, [("v0", "v1"), ("v0", "v1"), ("v1", "v0")])
    assert g.edges.count() == 2  # dup collapsed; reverse direction distinct
    # same pair, different label → distinct edge (labeled multigraph)
    e = spark.createDataFrame([("v0", "v1")], "a: string, b: string").select(
        vertex_id("node", F.col("a")).alias("src"),
        vertex_id("node", F.col("b")).alias("dst"),
    )
    g2 = upsert_edges(g, e, label="other")
    assert g2.edges.count() == 3


# ---- U1 ------------------------------------------------------------------

def test_u1_update_merges_set_semantics(spark):
    g = _mk_graph(spark, [("v0", "v1")])
    vid = _id_of(g, "v0")
    updates = g.vertices.sparkSession.createDataFrame(
        [(vid, {"name": "renamed", "new_key": "1"})],
        "id: long, props: map<string,string>",
    )
    g2 = update_vertices(g, updates)
    row = g2.vertices.filter(F.col("id") == vid).collect()[0]
    assert row["props"]["name"] == "renamed"  # updated key wins
    assert row["props"]["new_key"] == "1"  # new key added
    other = g2.vertices.filter(F.col("id") != vid).collect()[0]
    assert other["props"]["name"] == "v1"  # untouched row unchanged


# ---- D1/D2 ---------------------------------------------------------------

def test_d1_cascade_delete(spark):
    # star: v0 hub with v1..v3; deleting hub removes all incident edges
    g = _mk_graph(spark, [("v0", "v1"), ("v0", "v2"), ("v3", "v0")])
    g2 = delete_vertices(g, {"name": "v0"})
    assert g2.vertices.count() == 3
    assert g2.edges.count() == 0  # both directions cascaded (mongraph.py:172-177)


def test_d2_delete_edge_by_predicate(spark):
    g = _mk_graph(spark, [("v0", "v1"), ("v1", "v2")])
    v0, v1 = _id_of(g, "v0"), _id_of(g, "v1")
    g2 = delete_edges(g, (F.col("src") == v0) & (F.col("dst") == v1))
    assert g2.edges.count() == 1
    assert g2.vertices.count() == 3  # vertices untouched


# ---- Q1/Q2 ---------------------------------------------------------------

def test_q2_find_one_deterministic_min_id(spark):
    data = spark.createDataFrame([(f"v{i}", "dup") for i in range(5)],
                                 "name: string, tag: string")
    g = upsert_vertices(PropertyGraph.empty(spark), "node", data, key="name", registry=REG)
    first = g.find_one({"tag": "dup"}).collect()
    again = g.find_one({"tag": "dup"}).collect()
    assert first == again  # SURVEY §5.5: min-id determinism
    assert first[0]["id"] == min(r["id"] for r in g.vertices.collect())


# ---- G1 (B7 semantics) ---------------------------------------------------

def test_g1_neighbors_includes_self_b7(spark):
    g = _mk_graph(spark, [("v0", "v1"), ("v2", "v0")])
    ids, edges = find_neighbors(g, _id_of(g, "v0"))
    assert _names_of(g, ids) == ["v0", "v1", "v2"]  # self included (B7)
    assert edges.count() == 2  # undirected incident match


def test_g1_isolated_vertex_empty(spark):
    g = _mk_graph(spark, [("v0", "v1")], n_vertices=3)  # v2 isolated
    ids, edges = find_neighbors(g, _id_of(g, "v2"))
    assert ids.count() == 0 and edges.count() == 0  # no incident edges → empty


# ---- G2 golden graphs ----------------------------------------------------

def test_g2_path_k_boundary(spark):
    # path v0→v1→v2→v3→v4 ; k-hop from v0 reaches exactly k steps
    g = _mk_graph(spark, [(f"v{i}", f"v{i+1}") for i in range(4)])
    root = _id_of(g, "v0")
    for k, expect in [(1, ["v0", "v1"]), (2, ["v0", "v1", "v2"]), (4, ["v0", "v1", "v2", "v3", "v4"])]:
        visited, _ = k_hop(g, root, k)
        assert _names_of(g, visited) == expect, f"k={k}"


def test_g2_cycle_terminates(spark):
    g = _mk_graph(spark, [("v0", "v1"), ("v1", "v2"), ("v2", "v0")])
    visited, edges = k_hop(g, _id_of(g, "v0"), 10)  # depth ≫ cycle length
    assert _names_of(g, visited) == ["v0", "v1", "v2"]
    assert edges.count() == 3


def test_g2_disconnected_component_unreachable(spark):
    g = _mk_graph(spark, [("v0", "v1"), ("v2", "v3")])
    visited, _ = k_hop(g, _id_of(g, "v0"), 5)
    assert _names_of(g, visited) == ["v0", "v1"]


def test_g2_undirected_expansion(spark):
    # edges point INTO the root; traversal is undirected (mongraph.py:236-241)
    g = _mk_graph(spark, [("v1", "v0"), ("v2", "v1")])
    visited, _ = k_hop(g, _id_of(g, "v0"), 2)
    assert _names_of(g, visited) == ["v0", "v1", "v2"]


def test_g2_monotone_in_k(spark):
    g = _mk_graph(spark, [("v0", "v1"), ("v1", "v2"), ("v1", "v3"), ("v3", "v4")])
    root = _id_of(g, "v0")
    prev: set = set()
    for k in range(4):
        visited, _ = k_hop(g, root, k + 1)
        cur = set(_names_of(g, visited))
        assert prev <= cur
        prev = cur


# ---- G3 ------------------------------------------------------------------

def test_g3_build_graph_json_export(spark):
    g = _mk_graph(spark, [("v0", "v1"), ("v1", "v2"), ("v3", "v4")])
    out = json.loads(build_graph(g, predicate={"name": "v0"}, depth=2))
    names = sorted(v["props"]["name"] for v in out["graph"]["vertices"])
    assert names == ["v0", "v1", "v2"]
    assert len(out["graph"]["edges"]) == 2
    # ids are JSON-safe strings (B4 intent)
    assert all(isinstance(v["id"], str) for v in out["graph"]["vertices"])


def test_g2_hub_promotes_to_distributed_and_matches(spark, monkeypatch):
    """Hub explosion: when a level's endpoint set exceeds
    SMALL_FRONTIER_THRESHOLD, the loop must promote from driver-side
    isin() literals to the distributed semi-join plan mid-traversal and
    still produce the identical visited/edge sets."""
    import pymongraph_spark.graph.traversal as trav

    # hub h with 40 leaves, one leaf chains on to a tail vertex
    pairs = [("h", f"leaf{i}") for i in range(40)] + [("leaf0", "tail")]
    g = _mk_graph(spark, pairs)
    root = _id_of(g, "h")
    expected_v, expected_e = k_hop(g, root, 2)  # default threshold: driver mode
    expected_names = _names_of(g, expected_v)
    assert "tail" in expected_names and len(expected_names) == 42

    promoted = {"flag": False}
    orig = trav._expand

    def spy(e, visited):
        promoted["flag"] = True
        return orig(e, visited)

    monkeypatch.setattr(trav, "_expand", spy)
    monkeypatch.setattr(trav, "SMALL_FRONTIER_THRESHOLD", 10)
    got_v, got_e = k_hop(g, root, 2)
    assert promoted["flag"], "distributed promotion never triggered"
    assert _names_of(g, got_v) == expected_names
    assert got_e.count() == expected_e.count()


def test_g2_midtier_broadcast_join_matches(spark, monkeypatch):
    """Between the isin-literal cap and the driver cap, expansion must run
    as the broadcast semi-join pair (incident_edges) with the frontier
    still tracked driver-side — and produce identical results."""
    import pymongraph_spark.graph.traversal as trav

    pairs = [("h", f"leaf{i}") for i in range(40)] + [("leaf0", "tail")]
    g = _mk_graph(spark, pairs)
    root = _id_of(g, "h")
    expected_v, _ = k_hop(g, root, 2)  # default: isin tier
    expected_names = _names_of(g, expected_v)

    used_join = {"flag": False}
    orig = trav.incident_edges

    def spy(graph, frontier):
        used_join["flag"] = True
        return orig(graph, frontier)

    monkeypatch.setattr(trav, "incident_edges", spy)
    # isin cap of 5 forces the broadcast tier at level 2 (frontier = 40
    # leaves) while the driver cap of 10k keeps it out of distributed mode
    monkeypatch.setattr(trav, "SMALL_FRONTIER_THRESHOLD", 10_000)
    monkeypatch.setattr(trav, "ISIN_LITERAL_THRESHOLD", 5)
    got_v, _ = k_hop(g, root, 2)
    assert used_join["flag"], "broadcast-join tier never used"
    assert _names_of(g, got_v) == expected_names


def test_hydration_leaves_the_join_to_the_planner(spark):
    """hydrate_vertices/hydrate_edges carry no broadcast hint: an
    unbounded id frame (a promoted k_hop's visited set) must be free to
    fall back to a shuffle join, while a small one still auto-broadcasts."""
    g = _mk_graph(spark, [("v0", "v1"), ("v1", "v2")])
    ids = g.vertices.select("id")
    for df in (g.hydrate_vertices(ids), g.hydrate_edges(g.edges.select("id"))):
        assert "ResolvedHint" not in df._jdf.queryExecution().analyzed().toString()
    literal = spark.createDataFrame([(_id_of(g, "v1"),)], "id: long")
    hydrated = g.hydrate_vertices(literal)
    assert [r["props"]["name"] for r in hydrated.collect()] == ["v1"]
    # the adaptive plan, final after the collect, broadcast the tiny side
    assert "BroadcastHashJoin" in hydrated._jdf.queryExecution().executedPlan().toString()


def test_update_vertices_folds_duplicate_ids(spark):
    """Duplicate ids in an updates frame apply SEQUENTIALLY (reference
    update_one semantics) — never fan the vertex out into multiple rows."""
    from pymongraph_spark.graph.model import PropertyGraph
    from pymongraph_spark.graph.writes import update_vertices, upsert_vertices

    g = PropertyGraph.empty(spark)
    data = spark.createDataFrame([("a.example",)], "name: string")
    g = upsert_vertices(g, "domain", data, key="name")
    vid = g.vertices.collect()[0]["id"]
    updates = spark.createDataFrame(
        [(vid, {"x": "1"}), (vid, {"y": "2"}), (vid, {"x": "3"})],
        "id: long, props: map<string,string>",
    )
    g2 = update_vertices(g, updates)
    rows = g2.vertices.filter(F.col("id") == vid).collect()
    assert len(rows) == 1  # no fan-out
    props = dict(rows[0]["props"])
    assert props["y"] == "2"
    assert props["x"] == "3"  # later duplicate wins
    assert props["name"] == "a.example"


def test_update_vertices_explicit_ord_survives_shuffle(spark):
    """With an explicit ``ord`` column, duplicate-id updates fold in that
    order even when the updates frame's lineage has shuffled (where
    monotonically_increasing_id would reflect partition layout instead of
    the caller's intended order)."""
    from pyspark.sql import functions as SF

    from pymongraph_spark.graph.model import PropertyGraph
    from pymongraph_spark.graph.writes import update_vertices, upsert_vertices

    g = PropertyGraph.empty(spark)
    data = spark.createDataFrame([("b.example",)], "name: string")
    g = upsert_vertices(g, "domain", data, key="name")
    vid = g.vertices.collect()[0]["id"]
    updates = spark.createDataFrame(
        [(vid, {"x": "late"}, 2), (vid, {"x": "early", "z": "9"}, 1)],
        "id: long, props: map<string,string>, ord: bigint",
    ).repartition(8, SF.col("props"))  # shuffle: row order now arbitrary
    g2 = update_vertices(g, updates)
    props = dict(g2.vertices.filter(F.col("id") == vid).collect()[0]["props"])
    assert props["x"] == "late"  # ord=2 wins regardless of partition layout
    assert props["z"] == "9"


def test_upsert_edges_triple_dedup_is_type_insensitive(spark):
    """The same directed (src, dst, label) triple arriving as string-typed
    and long-typed columns must still be ONE edge — the id hash runs on
    the post-cast longs (W2)."""
    from pymongraph_spark.graph.model import PropertyGraph
    from pymongraph_spark.graph.writes import upsert_edges, upsert_vertices

    g = PropertyGraph.empty(spark)
    data = spark.createDataFrame([("a.example",), ("b.example",)], "name: string")
    g = upsert_vertices(g, "domain", data, key="name")
    ids = sorted(r["id"] for r in g.vertices.collect())
    as_long = spark.createDataFrame([(ids[0], ids[1])], "src: long, dst: long")
    as_str = spark.createDataFrame(
        [(str(ids[0]), str(ids[1]))], "src: string, dst: string"
    )
    g = upsert_edges(g, as_long, label="resolve")
    g = upsert_edges(g, as_str, label="resolve")
    assert g.edges.count() == 1
