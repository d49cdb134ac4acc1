"""Graph analytics unit tests: connected components on golden graphs,
PageRank invariants, degrees; plus LSH recall vs brute force.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pymongraph_spark.operators import graph_algos
from pymongraph_spark.operators.graph_algos import connected_components, degrees, pagerank


@pytest.fixture
def fixpoint(monkeypatch):
    """Lower the union-find bound so connected_components runs the
    distributed hash-min fixpoint on these small graphs."""
    monkeypatch.setattr(graph_algos, "CC_COLLECT_MAX_EDGES", 0)


def _vng(spark, n, pairs):
    v = spark.createDataFrame([(i,) for i in range(n)], "id: long")
    e = spark.createDataFrame(pairs, "src: long, dst: long")
    return v, e


def _comp_sets(comp_df):
    groups: dict[int, set[int]] = {}
    for r in comp_df.collect():
        groups.setdefault(r["component"], set()).add(r["id"])
    return sorted(sorted(g) for g in groups.values())


def test_cc_two_components_and_singleton(spark, fixpoint):
    v, e = _vng(spark, 7, [(0, 1), (1, 2), (3, 4), (4, 5)])
    comp = connected_components(v, e)
    assert _comp_sets(comp) == [[0, 1, 2], [3, 4, 5], [6]]


def test_cc_cycle_and_chain_converges(spark, fixpoint):
    # long chain exercises multi-iteration propagation
    v, e = _vng(spark, 8, [(i, i + 1) for i in range(7)])
    comp = connected_components(v, e)
    assert _comp_sets(comp) == [list(range(8))]
    # representative is the min id
    assert {r["component"] for r in comp.collect()} == {0}


def test_cc_direction_irrelevant(spark, fixpoint):
    v, e = _vng(spark, 4, [(3, 2), (2, 1), (1, 0)])  # edges all "backwards"
    assert _comp_sets(connected_components(v, e)) == [[0, 1, 2, 3]]


def _cc_rows(v, e, bound, monkeypatch):
    monkeypatch.setattr(graph_algos, "CC_COLLECT_MAX_EDGES", bound)
    return sorted(map(tuple, connected_components(v, e).collect()))


def test_cc_collected_matches_distributed(spark, monkeypatch):
    """The bounded driver union-find path must produce bit-identical
    (id, component) rows to the distributed hash-min fixpoint — including
    singletons, duplicate/backward edges, self-loops, and chains that
    force multi-level union-find paths. The bound is inclusive: 8 edges
    under a bound of 8 take the union-find path, under 7 the fixpoint."""
    edges = [(3, 2), (2, 1), (1, 0), (0, 3), (5, 6), (6, 5), (7, 7), (9, 8)]
    v, e = _vng(spark, 11, edges)
    fixpoint_calls = []
    orig = graph_algos._hash_min_fixpoint

    def spy(*args):
        fixpoint_calls.append(args[-1])
        return orig(*args)

    monkeypatch.setattr(graph_algos, "_hash_min_fixpoint", spy)
    fast = _cc_rows(v, e, len(edges), monkeypatch)
    assert fixpoint_calls == []
    assert _cc_rows(v, e, len(edges) - 1, monkeypatch) == fast
    assert fixpoint_calls == ["connected_components"]


def test_cc_dangling_endpoint_same_rows_on_both_paths(spark, monkeypatch):
    """An edge endpoint missing from ``vertices`` joins the components it
    touches but gets no row: both paths emit exactly one row per vertex.
    Here 9 is not a vertex yet links 1 to 2, and 7-8 are dangling alone."""
    v = spark.createDataFrame([(i,) for i in (0, 1, 2, 3)], "id: long")
    e = spark.createDataFrame(
        [(0, 1), (1, 9), (9, 2), (7, 8)], "src: long, dst: long"
    )
    expected = [(0, 0), (1, 0), (2, 0), (3, 3)]
    assert _cc_rows(v, e, 1000, monkeypatch) == expected
    assert _cc_rows(v, e, 0, monkeypatch) == expected


def test_cc_exhausted_max_iter_raises(spark, fixpoint):
    """A budget shorter than the propagation path raises (naming the
    operator and max_iter) instead of returning partial labels — on the
    edge frame and on the bucketed adjacency alike."""
    from pymongraph_spark.operators.graph_algos import connected_components_adjacency

    v, e = _vng(spark, 8, [(i, i + 1) for i in range(7)])
    with pytest.raises(RuntimeError, match="connected_components did not .* raise max_iter"):
        connected_components(v, e, max_iter=3)
    adjacency = e.select(F.col("src").alias("key"), "src", "dst", F.lit("x").alias("label"))
    adjacency = adjacency.unionByName(
        e.select(F.col("dst").alias("key"), "src", "dst", F.lit("x").alias("label"))
    )
    with pytest.raises(RuntimeError, match="connected_components_adjacency .* raise max_iter"):
        connected_components_adjacency(v, adjacency, max_iter=3)


def test_cc_adjacency_matches_generic(spark, fixpoint):
    """connected_components_adjacency over the bucketed adjacency layout
    must agree exactly with the generic operator on the same subgraph —
    same labels per vertex, both on the 'placed' slice and the full graph."""
    from pymongraph_spark.operators.graph_algos import connected_components_adjacency
    from pymongraph_spark.queries.graph import tpch_adjacency, tpch_graph

    from tests.conftest import SF_SMALL

    g = tpch_graph(spark, SF_SMALL)
    adjacency = tpch_adjacency(spark, SF_SMALL)
    if adjacency is None:
        pytest.skip("bucketed layout unavailable (read-only warehouse)")

    verts = g.vertices.filter(F.col("label").isin("customer", "order")).select("id")
    placed = g.edges.filter(F.col("label") == "placed")
    generic = {(r["id"], r["component"]) for r in connected_components(verts, placed).collect()}
    adj = {
        (r["id"], r["component"])
        for r in connected_components_adjacency(verts, adjacency, label="placed").collect()
    }
    assert adj == generic

    all_generic = {
        (r["id"], r["component"])
        for r in connected_components(g.vertices.select("id"), g.edges).collect()
    }
    all_adj = {
        (r["id"], r["component"])
        for r in connected_components_adjacency(g.vertices.select("id"), adjacency).collect()
    }
    assert all_adj == all_generic


def test_degrees(spark):
    v, e = _vng(spark, 4, [(0, 1), (0, 2), (2, 0)])
    d = {r["id"]: (r["in_degree"], r["out_degree"], r["degree"]) for r in degrees(e).collect()}
    assert d[0] == (1, 2, 3)
    assert d[1] == (1, 0, 1)
    assert d[2] == (1, 1, 2)
    assert 3 not in d  # isolated vertex has no incident edges


def test_pagerank_invariants(spark):
    v, e = _vng(spark, 5, [(0, 1), (1, 2), (2, 0), (3, 0)])  # 4 has no edges
    pr = pagerank(v, e, max_iter=15)
    ranks = {r["id"]: r["rank"] for r in pr.collect()}
    assert len(ranks) == 5
    # total mass ≈ |V| (damping + dangling redistribution conserve it)
    assert abs(sum(ranks.values()) - 5.0) < 1e-6
    # a vertex inside the cycle with an extra inbound link outranks the
    # dangling spectator
    assert ranks[0] > ranks[4]
    assert all(r > 0 for r in ranks.values())


def test_lsh_recall_vs_bruteforce(spark, sf_small):
    from pymongraph_spark.catalog import load_tables
    from pymongraph_spark.operators.similarity import brute_force_topk, lsh_topk

    emb = load_tables(spark, sf_small)["embeddings"]
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=3).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in lsh_topk(emb, queries, dim=64, k=3, n_planes=6).collect()
    }
    # approx pairs must be a subset of the corpus and hit a sane fraction
    # of the exact top-k (6 planes → 64 buckets over 500 vectors)
    assert approx, "LSH returned nothing"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.1, f"suspiciously low recall {recall}"
    # every approx result's cosine must match the exact score for that pair
    exact_scores = {
        (r["query_id"], r["neighbor_id"]): r["cosine_sim"]
        for r in brute_force_topk(emb, queries, k=500).collect()
    }
    for r in lsh_topk(emb, queries, dim=64, k=3, n_planes=6).collect():
        key = (r["query_id"], r["neighbor_id"])
        assert key in exact_scores and abs(exact_scores[key] - r["cosine_sim"]) < 1e-12


def test_lsh_multi_table_improves_recall(spark, sf_small):
    """L independent hash tables (the classic amplification) must not lose
    recall vs a single table at the same planes/probe settings — on the
    near-uniform synthetic corpus it roughly triples it."""
    from pymongraph_spark.catalog import load_tables
    from pymongraph_spark.operators.similarity import brute_force_topk, lsh_topk

    emb = load_tables(spark, sf_small)["embeddings"]
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=3).collect()
    }

    def recall(**kw):
        approx = {
            (r["query_id"], r["neighbor_id"])
            for r in lsh_topk(emb, queries, dim=64, k=3, **kw).collect()
        }
        return len(exact & approx) / len(exact)

    one = recall(n_planes=8, probe_radius=1, n_tables=1)
    four = recall(n_planes=8, probe_radius=1, n_tables=4)
    assert four >= one, f"multi-table recall regressed: {four} < {one}"
    assert four >= 0.3, f"4-table recall suspiciously low: {four}"


def test_embedding_near_dup_lsh_matches_exact(spark, sf_small):
    """The LSH candidate path must verify to a subset of the exact
    all-pairs result with identical cosines, and at generous probe
    settings it recovers the full set (500 near-uniform vectors)."""
    from pymongraph_spark.catalog import load_tables
    from pymongraph_spark.operators.dedup import embedding_dup_pairs

    emb = load_tables(spark, sf_small)["embeddings"]
    exact = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in embedding_dup_pairs(emb, threshold=0.4, method="exact").collect()
    }
    assert exact, "exact mode found no pairs at 0.4 — vacuous test"
    lsh = {
        (r["id_a"], r["id_b"]): r["cosine_sim"]
        for r in embedding_dup_pairs(
            emb, threshold=0.4, method="lsh", dim=64,
            n_planes=6, n_tables=8, probe_radius=2,
        ).collect()
    }
    assert set(lsh) <= set(exact)
    for k, v in lsh.items():
        assert abs(exact[k] - v) < 1e-12
    assert len(lsh) / len(exact) >= 0.8, f"LSH missed too many: {len(lsh)}/{len(exact)}"


def test_vectorized_cosine_matches_exact(spark, sf_small):
    from pymongraph_spark.catalog import load_tables
    from pymongraph_spark.operators.similarity import (
        brute_force_topk,
        brute_force_topk_vectorized,
    )

    emb = load_tables(spark, sf_small)["embeddings"]
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine_sim"])
        for r in brute_force_topk(emb, queries, k=5).collect()
    }
    fast = {
        (r["query_id"], r["rank"]): (r["neighbor_id"], r["cosine_sim"])
        for r in brute_force_topk_vectorized(
            emb, queries.select("vec_id", "embedding").toPandas(), k=5
        ).collect()
    }
    assert set(exact) == set(fast)
    for key, (nid, sim) in exact.items():
        fnid, fsim = fast[key]
        assert fnid == nid, f"rank order diverged at {key}"
        assert abs(fsim - sim) < 1e-9


def test_bfs_distances_chain_with_shortcut(spark):
    # 0-1-2-3-4 chain plus shortcut 0-3: distance(3) must be 1, not 3
    _, e = _vng(spark, 5, [(0, 1), (1, 2), (2, 3), (3, 4), (0, 3)])
    from pymongraph_spark.operators.graph_algos import bfs_distances

    d = {r["id"]: r["distance"] for r in bfs_distances(e, source=0, max_depth=4).collect()}
    assert d == {0: 0, 1: 1, 3: 1, 2: 2, 4: 2}


def test_bfs_distances_depth_bound_and_direction(spark):
    _, e = _vng(spark, 4, [(1, 0), (2, 1), (3, 2)])  # edges point TOWARD 0
    from pymongraph_spark.operators.graph_algos import bfs_distances

    und = {r["id"]: r["distance"] for r in bfs_distances(e, 0, max_depth=2).collect()}
    assert und == {0: 0, 1: 1, 2: 2}  # 3 is beyond the bound
    directed = {r["id"]: r["distance"] for r in bfs_distances(e, 0, 3, undirected=False).collect()}
    assert directed == {0: 0}  # nothing reachable following edge direction


def test_triangle_count_known_graph(spark):
    # triangle 0-1-2, square 3-4-5-6 (no triangle), pendant 2-7,
    # plus K4 on 8-11 (4 triangles, 3 per corner)
    k4 = [(a, b) for a in range(8, 12) for b in range(a + 1, 12)]
    _, e = _vng(spark, 12, [(0, 1), (1, 2), (2, 0), (3, 4), (4, 5), (5, 6), (6, 3), (2, 7)] + k4)
    from pymongraph_spark.operators.graph_algos import triangle_count

    got = {r["id"]: r["n_triangles"] for r in triangle_count(e).collect()}
    assert got == {0: 1, 1: 1, 2: 1, 8: 3, 9: 3, 10: 3, 11: 3}


def test_triangle_count_ignores_duplicates_and_direction(spark):
    # both orientations + repeats of the same triangle edges
    _, e = _vng(spark, 3, [(0, 1), (1, 0), (1, 2), (2, 0), (0, 2), (0, 1)])
    from pymongraph_spark.operators.graph_algos import triangle_count

    got = {r["id"]: r["n_triangles"] for r in triangle_count(e).collect()}
    assert got == {0: 1, 1: 1, 2: 1}


def test_weighted_shortest_paths_two_cheap_beat_one_expensive(spark):
    from pymongraph_spark.operators.graph_algos import shortest_paths_weighted

    e = spark.createDataFrame(
        [(0, 2, 10), (0, 1, 1), (1, 2, 1), (2, 3, 1), (3, 4, 1)],
        "src: long, dst: long, weight: long",
    )
    got = {r["id"]: r["cost"] for r in shortest_paths_weighted(e, 0, max_hops=3).collect()}
    # direct 0→2 costs 10 but 0→1→2 costs 2; vertex 4 is only reachable
    # within 3 hops THROUGH the expensive edge (0→2→3→4 = 12) — the cheap
    # route needs 4 hops, so the hop bound forces the pricier path
    assert got == {0: 0, 1: 1, 2: 2, 3: 3, 4: 12}
    # with only 1 hop allowed, the expensive direct edge is the best known
    got1 = {r["id"]: r["cost"] for r in shortest_paths_weighted(e, 0, max_hops=1).collect()}
    assert got1 == {0: 0, 1: 1, 2: 10}


def test_weighted_shortest_paths_parallel_edges_and_undirected(spark):
    from pymongraph_spark.operators.graph_algos import shortest_paths_weighted

    e = spark.createDataFrame(
        [(0, 1, 5), (0, 1, 2), (2, 0, 7)],
        "src: long, dst: long, weight: long",
    )
    got = {
        r["id"]: r["cost"]
        for r in shortest_paths_weighted(e, 0, max_hops=2, undirected=True).collect()
    }
    assert got == {0: 0, 1: 2, 2: 7}  # min parallel edge wins; reverse edge usable


def test_k_core_peels_chain_and_keeps_clique(spark):
    from pymongraph_spark.operators.graph_algos import k_core

    # K4 on 0-3, a chain 4-5-6 hanging off vertex 0, and a triangle 7-8-9
    k4 = [(a, b) for a in range(4) for b in range(a + 1, 4)]
    _, e = _vng(spark, 10, k4 + [(0, 4), (4, 5), (5, 6), (7, 8), (8, 9), (9, 7)])
    core2 = {r["id"] for r in k_core(e, k=2).collect()}
    assert core2 == {0, 1, 2, 3, 7, 8, 9}  # chain fully peeled (cascading)
    core3 = {r["id"] for r in k_core(e, k=3).collect()}
    assert core3 == {0, 1, 2, 3}  # only K4 survives
    assert k_core(e, k=4).count() == 0


def test_k_core_cascading_removal(spark):
    from pymongraph_spark.operators.graph_algos import k_core

    # star: hub 0 with 5 leaves — every vertex dies at k=2 even though
    # the hub starts with degree 5 (leaves peel first, then the hub)
    _, e = _vng(spark, 6, [(0, i) for i in range(1, 6)])
    assert k_core(e, k=2).count() == 0


def test_reliable_checkpoint_path_same_result(spark, monkeypatch, tmp_path, fixpoint):
    # depth 0 sends every iteration through the "deep loop" branch. Without
    # a user-configured checkpoint dir it must STAY on localCheckpoint (a
    # driver-local tempdir fallback would break cross-executor reads on a
    # real cluster); with one configured it upgrades to reliable
    # checkpoint()-to-storage.
    v, e = _vng(spark, 8, [(i, i + 1) for i in range(7)])
    expected = _comp_sets(connected_components(v, e))
    monkeypatch.setattr(graph_algos, "RELIABLE_CHECKPOINT_DEPTH", 0)
    if not spark.sparkContext.getCheckpointDir():
        # no-dir leg: deep iterations fall back to localCheckpoint, never
        # invent a driver-local dir behind the user's back
        assert _comp_sets(connected_components(v, e)) == expected
        assert not spark.sparkContext.getCheckpointDir()
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    assert _comp_sets(connected_components(v, e)) == expected
    pr = pagerank(v, e, max_iter=3)
    assert abs(sum(r["rank"] for r in pr.collect()) - 8.0) < 1e-6


def test_kmeans_centroids_deterministic_and_shaped(spark, sf_small):
    from pymongraph_spark.catalog import load_tables
    from pymongraph_spark.operators.similarity import kmeans_centroids

    emb = load_tables(spark, sf_small)["embeddings"]
    c1 = {r["vec_id"]: r["embedding"] for r in kmeans_centroids(emb, k=8, max_iter=2).collect()}
    c2 = {r["vec_id"]: r["embedding"] for r in kmeans_centroids(emb, k=8, max_iter=2).collect()}
    assert len(c1) == 8
    dims = {len(v) for v in c1.values()}
    assert dims == {len(emb.select("embedding").first()[0])}
    # decimal accumulation → bit-identical across runs
    assert c1 == c2


def test_ivf_kmeans_recall_vs_bruteforce(spark, sf_small):
    """The learned-centroid IVF must hit a sane fraction of the exact
    top-k (single-cell probe over 16 learned cells on 500 vectors)."""
    from pymongraph_spark.catalog import load_tables
    from pymongraph_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        kmeans_centroids,
    )

    emb = load_tables(spark, sf_small)["embeddings"]
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=3).collect()
    }
    centroids = kmeans_centroids(emb, k=16, max_iter=3)
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(emb, queries, centroids, k=3).collect()
    }
    assert approx, "IVF returned nothing"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.2, f"suspiciously low recall {recall}"


def test_ivf_multiprobe_recall_monotone(spark, sf_small):
    """nprobe is the IVF recall lever: probing more cells only ADDS
    candidates, so recall@k vs the exact baseline must be monotone
    non-decreasing in nprobe, nprobe=1 must equal the classic
    single-cell probe bit-for-bit, and nprobe=|C| must reach exact
    recall 1.0 (every cell searched == brute force)."""
    from pymongraph_spark.catalog import load_tables
    from pymongraph_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        kmeans_centroids,
    )

    emb = load_tables(spark, sf_small)["embeddings"]
    queries = emb.filter(F.col("vec_id") < 20)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(emb, queries, k=3).collect()
    }
    centroids = kmeans_centroids(emb, k=8, max_iter=2)
    n_cells = centroids.count()

    def hits(nprobe):
        return {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_topk(emb, queries, centroids, k=3, nprobe=nprobe).collect()
        }

    single = hits(1)
    default = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(emb, queries, centroids, k=3).collect()
    }
    assert single == default  # nprobe=1 IS the classic probe (s54 contract)

    recalls = [len(exact & hits(p)) / len(exact) for p in (1, 2, n_cells)]
    assert recalls == sorted(recalls), f"recall not monotone: {recalls}"
    assert recalls[-1] == 1.0, f"full probe must be exact, got {recalls[-1]}"


def test_label_propagation_two_cliques_with_bridge(spark):
    from pymongraph_spark.operators.graph_algos import label_propagation

    # two triangles bridged by one edge, plus an isolated vertex: LPA
    # must keep the triangles in separate communities (the bridge is
    # outvoted) and leave the isolate in its own
    v = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 6, 9]], "id: long")
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)],
        "src: long, dst: long",
    )
    out = {r["id"]: r["community"] for r in label_propagation(v, e, max_iter=5).collect()}
    assert out[1] == out[2] == out[3]
    assert out[4] == out[5] == out[6]
    assert out[1] != out[4]
    assert out[9] == 9  # isolated vertex keeps its own label


def test_label_propagation_deterministic_across_runs(spark):
    from pymongraph_spark.operators.graph_algos import label_propagation

    v = spark.createDataFrame([(i,) for i in range(10)], "id: long")
    e = spark.createDataFrame(
        [(i, (i * 3 + 1) % 10) for i in range(10)], "src: long, dst: long"
    )
    a = sorted(map(tuple, label_propagation(v, e).collect()))
    b = sorted(map(tuple, label_propagation(v, e).collect()))
    assert a == b


def _scc_sets(df):
    groups: dict[int, set[int]] = {}
    for r in df.collect():
        groups.setdefault(r["component"], set()).add(r["id"])
    return sorted(sorted(g) for g in groups.values())


def test_scc_dag_is_all_singletons(spark):
    from pymongraph_spark.operators.graph_algos import strongly_connected_components

    v, e = _vng(spark, 5, [(0, 1), (1, 2), (2, 3), (0, 4)])
    assert _scc_sets(strongly_connected_components(v, e)) == [[0], [1], [2], [3], [4]]


def test_scc_cycles_and_bridge(spark):
    from pymongraph_spark.operators.graph_algos import strongly_connected_components

    # cycle {0,1,2} → bridge → cycle {3,4}, plus isolated 5
    v, e = _vng(spark, 6, [(0, 1), (1, 2), (2, 0), (2, 3), (3, 4), (4, 3)])
    assert _scc_sets(strongly_connected_components(v, e)) == [[0, 1, 2], [3, 4], [5]]


def test_scc_direction_matters_vs_undirected_cc(spark, fixpoint):
    from pymongraph_spark.operators.graph_algos import (
        connected_components,
        strongly_connected_components,
    )

    # path 0→1→2: weakly connected (one undirected CC) but three SCCs
    v, e = _vng(spark, 3, [(0, 1), (1, 2)])
    assert _scc_sets(strongly_connected_components(v, e)) == [[0], [1], [2]]
    assert _comp_sets(connected_components(v, e)) == [[0, 1, 2]]


def test_scc_large_cycle_single_component(spark):
    """Regression: a cycle whose diameter exceeds the old max_iter=25
    must come back as ONE component — the silent-truncation bug returned
    5 pieces for a 28-cycle with no error."""
    from pymongraph_spark.operators.graph_algos import strongly_connected_components

    n = 30
    v, e = _vng(spark, n, [(i, (i + 1) % n) for i in range(n)])
    assert _scc_sets(strongly_connected_components(v, e)) == [list(range(n))]


def test_scc_strict_raises_instead_of_truncating(spark):
    from pymongraph_spark.operators.graph_algos import strongly_connected_components

    n = 12
    v, e = _vng(spark, n, [(i, (i + 1) % n) for i in range(n)])
    with pytest.raises(RuntimeError, match="fixpoint"):
        strongly_connected_components(v, e, max_iter=3)


def test_scc_path_dag_trims_in_few_rounds(spark):
    """The trim step bulk-peels chain DAGs: a 25-vertex path resolves
    well inside the round budget (the untrimmed peel rule needed one
    round per vertex and raised)."""
    from pymongraph_spark.operators.graph_algos import strongly_connected_components

    v, e = _vng(spark, 25, [(i, i + 1) for i in range(24)])
    got = _scc_sets(strongly_connected_components(v, e, max_rounds=15))
    assert got == [[i] for i in range(25)]


def test_semdedup_invariants(spark):
    """Cluster-scoped removal: an exact duplicate ALWAYS shares its twin's
    cell (identical assignment, deterministic tie-break), so the higher id
    must be removed with dup_of = the lower id; distinct far-apart unit
    vectors survive a near-zero threshold; removed <=> dup_of non-null;
    dup_of is a smaller same-cell id."""
    from pymongraph_spark.operators.dedup import semdedup

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),  # exact dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 0.0, 1.0]),
        (5, [0.70710678, 0.70710678, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = semdedup(emb, k_clusters=2, iters=1, threshold_l2sq=10).collect()
    assert len(out) == 6
    by_id = {r.vec_id: r for r in out}
    assert by_id[1].removed == 1 and by_id[1].dup_of == 0
    assert by_id[0].removed == 0 and by_id[0].dup_of is None
    for vid in (2, 3, 4, 5):
        assert by_id[vid].removed == 0
    for r in out:
        assert (r.removed == 1) == (r.dup_of is not None)
        if r.dup_of is not None:
            assert r.dup_of < r.vec_id
            assert by_id[r.dup_of].cell == r.cell


def test_semdedup_hierarchical_invariants(spark):
    """The two-level clusterer must honor the same SemDeDup contract as
    the flat one: exact duplicates share coarse AND fine cells (identical
    vectors → identical argmin at both levels), so the higher id is
    removed with dup_of = the lower id; distinct far-apart unit vectors
    survive a near-zero threshold; removed <=> dup_of non-null; dup_of
    is a smaller same-cell id; every input vector gets exactly one row;
    and the run is deterministic."""
    from pymongraph_spark.operators.dedup import semdedup_hierarchical

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),  # exact dup of 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 0.0, 1.0]),
        (5, [0.70710678, 0.70710678, 0.0, 0.0]),
        (6, [0.0, 0.0, 0.70710678, 0.70710678]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = semdedup_hierarchical(emb, k_clusters=4, iters=1, threshold_l2sq=10).collect()
    assert len(out) == 7
    by_id = {r.vec_id: r for r in out}
    assert by_id[1].removed == 1 and by_id[1].dup_of == 0
    assert by_id[0].removed == 0 and by_id[0].dup_of is None
    for vid in (2, 3, 4, 5, 6):
        assert by_id[vid].removed == 0
    for r in out:
        assert (r.removed == 1) == (r.dup_of is not None)
        if r.dup_of is not None:
            assert r.dup_of < r.vec_id
            assert by_id[r.dup_of].cell == r.cell
    rerun = {
        (r.vec_id, r.cell, r.removed, r.dup_of)
        for r in semdedup_hierarchical(
            emb, k_clusters=4, iters=1, threshold_l2sq=10
        ).collect()
    }
    assert rerun == {(r.vec_id, r.cell, r.removed, r.dup_of) for r in out}


def test_semdedup_hierarchical_removes_all_but_min_at_huge_threshold(spark, sf_small):
    """At a threshold larger than any possible distance, every leaf cell
    keeps exactly its minimum id — the strongest whole-contract check
    that survives the clusterer being different from flat k-means. Also
    pins the leaf-id encoding (coarse*2^20 + fine stays within bigint
    and decodes to a dense coarse id)."""
    from pymongraph_spark.catalog import load_tables
    from pymongraph_spark.operators.dedup import _LEAF_STRIDE, semdedup_hierarchical

    emb = load_tables(spark, sf_small)["embeddings"]
    out = semdedup_hierarchical(emb, k_clusters=9, iters=2, threshold_l2sq=10**18).collect()
    assert len(out) == emb.count()
    cells: dict[int, list] = {}
    for r in out:
        cells.setdefault(r.cell, []).append(r)
    # ~k leaf cells (k1=3 coarse × up to 3 fine each), coarse ids dense
    assert 1 <= len(cells) <= 9
    for rows_ in cells.values():
        keep = [r for r in rows_ if r.removed == 0]
        min_id = min(r.vec_id for r in rows_)
        assert [r.vec_id for r in keep] == [min_id]
        for r in rows_:
            if r.removed:
                assert r.dup_of == min_id
            assert 0 <= r.cell // _LEAF_STRIDE < 3 and 0 <= r.cell % _LEAF_STRIDE < 3


def test_bloom_decontaminate_no_false_negatives(spark):
    """A Bloom filter can false-positive but NEVER false-negative: every
    train doc containing an eval gram must be flagged. The clean doc's
    outcome is deterministic (fixed md5 hash family) and at 60 set bits
    of 65536 its false-positive odds are ~1e-12 per gram — pinned 0."""
    from pymongraph_spark.operators.dedup import bloom_decontaminate

    ev = spark.createDataFrame([(f"g{i}",) for i in range(20)], "gram string")
    tr = spark.createDataFrame(
        [(1, "g3"), (1, "zz1"), (2, "zz2"), (2, "zz3"), (3, "g7"), (3, "g8")],
        "doc_id long, gram string",
    )
    out = {r.doc_id: r.bloom_flagged for r in bloom_decontaminate(tr, ev).collect()}
    assert out[1] == 1 and out[3] == 1
    assert out[2] == 0


def test_bloom_decontaminate_duplicate_gram_rows(spark):
    """Regression (r7 ADVICE): duplicate (doc, gram) rows in train_grams
    must not break the no-false-negatives guarantee. Before the internal
    distinct(), a twice-occurring contaminated gram summed nh = 2·n_hashes
    per (doc, gram), failed the nh == n_hashes test, and the doc slipped
    through unflagged — a silent false NEGATIVE."""
    from pymongraph_spark.operators.dedup import bloom_decontaminate

    ev = spark.createDataFrame([(f"g{i}",) for i in range(20)], "gram string")
    tr = spark.createDataFrame(
        # doc 1: contaminated gram appears TWICE (raw, undeduped rows);
        # doc 2: clean gram duplicated — must stay unflagged
        [(1, "g3"), (1, "g3"), (1, "zz1"), (2, "zz2"), (2, "zz2")],
        "doc_id long, gram string",
    )
    out = {r.doc_id: r.bloom_flagged for r in bloom_decontaminate(tr, ev).collect()}
    assert out[1] == 1, "duplicated contaminated gram must still flag the doc"
    assert out[2] == 0


def test_semdedup_threshold_monotone(spark, sf_small):
    """A larger distance threshold can only ADD removals (the clustering
    is threshold-independent, and 'exists a closer smaller-id neighbor'
    is monotone in the radius) — the knob behaves like a knob."""
    from pymongraph_spark.catalog import load_tables
    from pymongraph_spark.operators.dedup import semdedup

    emb = load_tables(spark, sf_small)["embeddings"]
    loose = {
        r.vec_id
        for r in semdedup(emb, threshold_l2sq=1_300_000_000_000).collect()
        if r.removed
    }
    tight = {
        r.vec_id
        for r in semdedup(emb, threshold_l2sq=900_000_000_000).collect()
        if r.removed
    }
    assert tight <= loose
    assert len(loose) > 0


def test_chunk_dedup_removes_cross_and_within_doc_duplicates(spark):
    """chunk_dedup goldens: first occurrence (smallest (doc_id, idx))
    survives corpus-wide; later copies are removed within AND across
    docs; a fully-duplicate doc reassembles to NULL; a unique doc comes
    back token-normalized but otherwise intact."""
    from pymongraph_spark.operators.dedup import chunk_dedup

    k = 4  # small chunks keep the fixture readable
    A = "a b c d e f g h"          # chunks: [a b c d], [e f g h]
    B = "a b c d x y z w"          # first chunk duplicates A's first
    C = "a b c d e f g h"          # full copy of A — everything removed
    D = "p q r s p q r s"          # within-doc duplicate chunk
    docs = spark.createDataFrame(
        [(1, A), (2, B), (3, C), (4, D)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in chunk_dedup(docs, chunk_tokens=k).collect()}

    assert (out[1].n_chunks, out[1].n_removed) == (2, 0)
    assert out[1].clean_text == "a b c d e f g h"
    assert (out[2].n_chunks, out[2].n_removed) == (2, 1)
    assert out[2].clean_text == "x y z w"
    assert (out[3].n_chunks, out[3].n_removed) == (2, 2)
    assert out[3].clean_text is None
    assert (out[4].n_chunks, out[4].n_removed) == (2, 1)
    assert out[4].clean_text == "p q r s"


def test_chunk_dedup_keeps_exactly_one_copy_per_distinct_chunk(spark, sf_small):
    """Corpus-level invariants on real fixture data: every distinct chunk
    hash survives exactly once, totals reconcile, and re-running on the
    cleaned corpus removes nothing that survived intact chunking (docs
    whose chunk boundaries were unchanged by the removal)."""
    from pyspark.sql import functions as F

    from pymongraph_spark.catalog import load_tables
    from pymongraph_spark.operators.dedup import chunk_dedup

    docs = load_tables(spark, sf_small)["documents"].select("doc_id", "text").limit(300)
    out = chunk_dedup(docs, chunk_tokens=10).cache()
    try:
        tot = out.agg(
            F.sum("n_chunks").alias("c"), F.sum("n_removed").alias("r")
        ).collect()[0]
        assert tot.c > 0 and 0 <= tot.r < tot.c
        # docs with nothing removed reassemble to their normalized text
        joined = out.filter("n_removed = 0").join(docs, on="doc_id")
        mismatches = joined.filter(
            F.col("clean_text")
            != F.array_join(F.split(F.lower(F.trim("text")), r"[ \t\n\x0B\f\r]+"), " ")
        ).count()
        assert mismatches == 0
    finally:
        out.unpersist()


def test_chunk_neardup_pairs_finds_edited_boilerplate(spark):
    """Fuzzy chunk pairs: a 20-token chunk copied with ONE word changed
    must surface as a cross-doc near-dup pair (3-shingle Jaccard well
    above 0.5), an exact copy scores 1.0, and an unrelated chunk pairs
    with nothing. Same-doc repeats are flagged cross_doc=False."""
    from pymongraph_spark.operators.dedup import chunk_neardup_pairs

    base = "w%d " * 20 % tuple(range(20))            # chunk of 20 tokens
    edited = base.replace("w7 ", "EDIT ")            # one token swapped
    other = "z%d " * 20 % tuple(range(20))
    docs = spark.createDataFrame(
        [
            (1, base + other),                        # chunks: base, other
            (2, edited + "q%d " * 20 % tuple(range(20))),
            (3, base + base),                         # same-doc exact repeat
        ],
        "doc_id long, text string",
    )
    rows = chunk_neardup_pairs(docs, chunk_tokens=20, threshold=0.5).collect()
    pairs = {((r.doc_a, r.idx_a), (r.doc_b, r.idx_b)): (r.jaccard, r.cross_doc) for r in rows}

    # doc1 chunk0 vs doc2 chunk0: one mid-chunk token swap destroys the 3
    # trigrams that cover it — |∩|=15 of 18, |∪|=21 → jaccard 15/21
    key12 = ((1, 0), (2, 0))
    assert key12 in pairs and pairs[key12][1] is True
    assert abs(pairs[key12][0] - 15 / 21) < 1e-12
    # doc3's internal repeat: exact, flagged same-doc
    key33 = ((3, 0), (3, 1))
    assert key33 in pairs and pairs[key33] == (1.0, False)
    # doc1's exact chunk also pairs with doc3's two copies at 1.0
    assert pairs.get(((1, 0), (3, 0))) == (1.0, True)
    # the unrelated chunks never pair with base
    assert not any(
        (a == (1, 1) or b == (1, 1)) and (a[0] != b[0] or a == b)
        and pairs[(a, b)][0] < 0.2
        for a, b in pairs
    )


def test_chunk_ops_empty_and_whitespace_docs_emit_no_rows(spark):
    """ADVICE r8: empty/whitespace/NULL-text docs must yield NO chunks —
    ungated, sequence(0, -1) produces the DESCENDING [0, -1], so every
    empty doc would emit two spurious ''-chunks (wrong n_chunks, and the
    '' chunk dedupes corpus-wide against every other empty doc); with
    chunk_tokens=1 the i=-1 element makes slice(…, 0, …) throw."""
    from pymongraph_spark.operators.dedup import chunk_dedup, chunk_neardup_pairs

    docs = spark.createDataFrame(
        [(1, ""), (2, "   \t\n "), (3, None), (4, "a b c d")],
        "doc_id long, text string",
    )
    for k in (1, 4):  # k=1 is the slice(…, 0, …) crash case
        out = {r.doc_id: r for r in chunk_dedup(docs, chunk_tokens=k).collect()}
        assert set(out) == {4}, f"empty docs leaked rows at chunk_tokens={k}"
        assert out[4].clean_text == "a b c d"
    # neardup path shares the chunker: must run clean and pair nothing
    assert chunk_neardup_pairs(docs, chunk_tokens=1).count() == 0


def test_chunk_neardup_pairs_decodes_exactly_at_huge_doc_ids(spark):
    """ADVICE r8: the chunk_id decode must use integer div, not float `/`
    — a double mantissa holds 53 bits, so float division rounds once
    chunk_id ≥ 2^53 (doc_id ≈ 2^33). Pin exact round-tripping at
    doc_id ≈ 2^40, squarely in the billion-doc tier this targets."""
    from pymongraph_spark.operators.dedup import chunk_neardup_pairs

    a, b = (1 << 40) + 123, (1 << 40) + 456
    chunk = "w%d " * 20 % tuple(range(20))
    docs = spark.createDataFrame(
        [(a, chunk + "x%d " * 20 % tuple(range(20))), (b, chunk)],
        "doc_id long, text string",
    )
    rows = chunk_neardup_pairs(docs, chunk_tokens=20, threshold=0.5).collect()
    pairs = {((r.doc_a, r.idx_a), (r.doc_b, r.idx_b)): r for r in rows}
    key = ((a, 0), (b, 0))
    assert key in pairs, f"expected exact decode of 2^40-tier ids, got {list(pairs)}"
    assert pairs[key].jaccard == 1.0 and pairs[key].cross_doc is True


def test_chunk_neardup_pairs_raises_on_chunk_idx_overflow(spark):
    """ADVICE r8: the docstring's chunk_idx < 2^20 requirement must be
    ENFORCED, not just documented — a >2^20-chunk doc would silently
    corrupt neighbouring chunk_ids. chunk_tokens=1 on a (2^20 + 1)-token
    doc crosses the bound with a test-sized fixture."""
    import pytest

    from pymongraph_spark.operators.dedup import chunk_neardup_pairs

    big = spark.createDataFrame(
        [(7, "t " * ((1 << 20) + 1))], "doc_id long, text string"
    )
    with pytest.raises(Exception, match="chunk_idx overflow"):
        chunk_neardup_pairs(big, chunk_tokens=1).count()


def test_hierarchical_codebook_matches_batch_leaves(spark, sf_small):
    """st92's pretrained artifact: map-only two-level assignment against
    hierarchical_codebook must reproduce semdedup_hierarchical's leaf
    cells BIT-EXACTLY for every vector of the training corpus — the
    property that makes the streaming pair set oracle-checkable with
    d62's own unrolled-CTE leaf replay (_hier_leaf_parts)."""
    from pymongraph_spark.catalog import load_tables
    from pymongraph_spark.operators.dedup import (
        assign_hierarchical,
        hierarchical_codebook,
        semdedup_hierarchical,
    )
    from pymongraph_spark.operators.similarity import GRID_SCALE, quantize_arr

    emb = load_tables(spark, sf_small)["embeddings"]
    batch = {
        r.vec_id: r.cell
        for r in semdedup_hierarchical(emb, 16, 2).select("vec_id", "cell").collect()
    }
    ca, cm, fcb = hierarchical_codebook(emb, k_clusters=16, iters=2)
    qa = quantize_arr(emb, "vec_id", "embedding", GRID_SCALE, out="qarr")
    stream = {
        r.vec_id: r.cell for r in assign_hierarchical(qa, ca, cm, fcb).collect()
    }
    assert stream == batch and len(batch) > 0


def test_codebook_k_for_bounds_occupancy():
    """The mechanized k-sizing rule: occupancy n/k never exceeds the
    target, k never collapses below 2, and the probe's design points
    (SCALE_PROBE_st92.json) come out of the rule, not hand-tuning."""
    from pymongraph_spark.operators.dedup import codebook_k_for

    assert codebook_k_for(2000) == 16
    assert codebook_k_for(20000) == 160
    for n in (1, 2, 100, 125, 126, 10**6, 10**9, 10**12):
        k = codebook_k_for(n)
        assert k >= 2
        assert n / k <= 125 or n <= 250  # tiny corpora floor at k=2
    # the bound holds at any explicit target too
    for t in (1, 10, 1000):
        for n in (10**3, 10**7):
            assert n / codebook_k_for(n, t) <= max(t, n / 2)
