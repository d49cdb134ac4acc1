"""Bucketing proof for the SCALE.md claim: pre-bucketing vertices by id
and edges by src (same bucket count) makes the frontier-expansion join
shuffle-free — the physical plan joins bucket-to-bucket with no Exchange
on the bucketed sides.
"""

from __future__ import annotations

import contextlib
import io

import pytest
from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_bucketed_join_eliminates_shuffle(spark, tmp_path, sf_small):
    # warehouse dir is a static conf — tables land in ./spark-warehouse
    # (gitignored) and are dropped at the end
    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path

    from pymongraph_spark.catalog import load_tables

    try:
        t = load_tables(spark, sf_small)
        verts = t["customer"].select((F.col("c_custkey") * 4).alias("id"), F.col("c_name"))
        edges = t["orders"].select(
            (F.col("o_custkey") * 4).alias("src"), (F.col("o_orderkey") * 4 + 1).alias("dst")
        )
        verts.write.bucketBy(8, "id").sortBy("id").mode("overwrite").saveAsTable("bk_vertices")
        edges.write.bucketBy(8, "src").sortBy("src").mode("overwrite").saveAsTable("bk_edges")

        bv = spark.table("bk_vertices")
        be = spark.table("bk_edges")

        joined = be.join(bv, be.src == bv.id)
        plan = _plan(joined)
        # co-located bucketed join: no Exchange feeding the join
        assert "Exchange" not in plan, plan[:2000]
        n = joined.count()
        assert n > 0

        # control: the same join on unbucketed frames DOES shuffle
        plain = edges.join(verts, edges.src == verts.id)
        plain_plan = _plan(plain)
        assert "Exchange" in plain_plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)
        spark.sql("DROP TABLE IF EXISTS bk_vertices")
        spark.sql("DROP TABLE IF EXISTS bk_edges")


def test_bucketed_store_khop_matches_generic(spark, sf_small):
    """save_bucketed/load_bucketed/k_hop_bucketed: same visited set and
    edge set as the generic traversal, and the per-hop adjacency probe
    never shuffles the adjacency side (the only Exchange is the frontier)."""
    from pymongraph_spark.catalog import load_tables
    from pymongraph_spark.graph.model import PropertyGraph
    from pymongraph_spark.graph.store import k_hop_bucketed, load_bucketed, save_bucketed
    from pymongraph_spark.graph.traversal import k_hop

    t = load_tables(spark, sf_small)
    vertices = (
        t["customer"].select((F.col("c_custkey") * 4).alias("id"))
        .unionByName(t["orders"].select((F.col("o_orderkey") * 4 + 1).alias("id")))
        .withColumn("label", F.lit("v"))
        .withColumn("props", F.create_map().cast("map<string,string>"))
    )
    edges = t["orders"].select(
        (F.col("o_orderkey") * 2).alias("id"),
        (F.col("o_custkey") * 4).alias("src"),
        (F.col("o_orderkey") * 4 + 1).alias("dst"),
        F.lit("placed").alias("label"),
        F.create_map().cast("map<string,string>").alias("props"),
    )
    g = PropertyGraph(vertices, edges)
    root = vertices.select(F.min("id")).first()[0]

    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    save_bucketed(g, "bk_store", buckets=8)
    try:
        gb, adjacency = load_bucketed(spark, "bk_store")

        # plan hygiene: semi-probe of adjacency must not shuffle adjacency
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # narrow-filter frontier (a limit would add its own single-partition
        # Exchange and muddy the count)
        frontier = vertices.select("id").filter(F.col("id") <= root + 40)
        probe = adjacency.join(
            frontier.withColumnRenamed("id", "key"), on="key", how="left_semi"
        )
        plan = _plan(probe)
        assert plan.count("Exchange") == 1, plan[:2000]  # frontier side only
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))

        vb, eb = k_hop_bucketed(adjacency, root, depth=2)
        vg, eg = k_hop(g, root, depth=2)
        assert {r["id"] for r in vb.collect()} == {r["id"] for r in vg.collect()}
        assert {r["id"] for r in eb.collect()} == {r["id"] for r in eg.collect()}
        # orientation preserved: bucketed edges equal the original rows
        orig = {(r["id"], r["src"], r["dst"]) for r in edges.collect()}
        assert {(r["id"], r["src"], r["dst"]) for r in eb.collect()} <= orig
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_store_vertices")
        spark.sql("DROP TABLE IF EXISTS bk_store_adjacency")


def test_bucketed_khop_matches_khop_through_promotion(spark, monkeypatch):
    """k_hop_bucketed runs k_hop's loop: with the driver cap lowered so
    the hub level promotes to the distributed tier mid-traversal, both
    traversals promote and return the same visited and edge sets."""
    import pymongraph_spark.graph.traversal as trav
    from pymongraph_spark.graph.model import PropertyGraph
    from pymongraph_spark.graph.store import k_hop_bucketed, load_bucketed, save_bucketed

    props = F.create_map().cast("map<string,string>").alias("props")
    # hub 0 with leaves 1..30; leaf 1 chains on to 100 → 101
    pairs = [(0, i) for i in range(1, 31)] + [(1, 100), (100, 101)]
    ids = [*range(31), 100, 101]
    vertices = spark.createDataFrame([(i,) for i in ids], "id: long").select(
        "id", F.lit("v").alias("label"), props
    )
    edges = spark.createDataFrame(
        [(n, a, b) for n, (a, b) in enumerate(pairs)], "id: long, src: long, dst: long"
    ).select("id", "src", "dst", F.lit("e").alias("label"), props)
    g = PropertyGraph(vertices, edges)

    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    save_bucketed(g, "bk_promote", buckets=4)
    try:
        _, adjacency = load_bucketed(spark, "bk_promote")
        levels = []
        orig = trav._expand

        def spy(e, visited):
            levels.append(1)
            return orig(e, visited)

        monkeypatch.setattr(trav, "_expand", spy)
        monkeypatch.setattr(trav, "SMALL_FRONTIER_THRESHOLD", 10)
        vb, eb = k_hop_bucketed(adjacency, 0, depth=3)
        assert levels, "k_hop_bucketed never promoted"
        levels.clear()
        vg, eg = trav.k_hop(g, 0, depth=3)
        assert levels, "k_hop never promoted"
        assert sorted(r["id"] for r in vb.collect()) == sorted(r["id"] for r in vg.collect()) == ids
        rows = sorted(map(tuple, eb.select("id", "src", "dst").collect()))
        assert rows == sorted(map(tuple, eg.select("id", "src", "dst").collect()))
        assert rows == [(n, a, b) for n, (a, b) in enumerate(pairs)]
    finally:
        spark.sql("DROP TABLE IF EXISTS bk_promote_vertices")
        spark.sql("DROP TABLE IF EXISTS bk_promote_adjacency")


def test_tpch_graph_persisted_across_sessions(spark, sf_small):
    """A second session must find the first session's bucketed graph
    tables and skip the derive-from-TPC-H rebuild: no lineitem scan in
    its edge plan, identical graph."""
    from pymongraph_spark.queries.graph import _graph_table_prefix, tpch_graph

    g1 = tpch_graph(spark, sf_small)
    n_edges = g1.edges.count()

    s2 = spark.newSession()  # fresh session, shared catalog
    g2 = tpch_graph(s2, sf_small)
    plan = g2.edges._jdf.queryExecution().executedPlan().toString()
    assert "lineitem" not in plan
    assert _graph_table_prefix(sf_small) in plan  # reads the bucketed table
    assert g2.edges.count() == n_edges


def test_stale_cache_gc_is_age_gated(spark, monkeypatch):
    """ADVICE r4: _drop_stale_graph_caches must not delete an
    old-generation dir that a concurrent process recently attached
    (_LAST_USED within the grace window); once the window lapses the dir
    is collected."""
    import os
    import time as _time

    from pymongraph_spark.graph.store import _warehouse_path
    from pymongraph_spark.queries import graph as qgraph

    wh_root = os.path.dirname(_warehouse_path(spark, "x"))
    os.makedirs(wh_root, exist_ok=True)
    keep_prefix = "tpch_graph_aaaa1111_bbbb2222"
    fresh = os.path.join(wh_root, "tpch_graph_aaaa1111_oldgen01_vertices")
    old = os.path.join(wh_root, "tpch_graph_aaaa1111_oldgen02_vertices")
    other_sf = os.path.join(wh_root, "tpch_graph_ffff9999_oldgen03_vertices")
    for d in (fresh, old, other_sf):
        os.makedirs(d, exist_ok=True)
    # fresh: attached seconds ago → must survive
    with open(os.path.join(fresh, "_LAST_USED"), "w") as fh:
        fh.write(str(int(_time.time())))
    # old: last used beyond the grace window → must be collected
    with open(os.path.join(old, "_LAST_USED"), "w") as fh:
        fh.write(str(int(_time.time()) - qgraph._gc_grace_seconds() - 10))
    try:
        qgraph._drop_stale_graph_caches(spark, keep_prefix)
        assert os.path.isdir(fresh), "recently-used old-gen dir was deleted"
        assert not os.path.isdir(old), "expired old-gen dir survived GC"
        assert os.path.isdir(other_sf), "different-sf_dir cache was evicted"
    finally:
        for d in (fresh, old, other_sf):
            if os.path.isdir(d):
                import shutil

                shutil.rmtree(d, ignore_errors=True)


def test_cache_gc_grace_accepts_fractional_seconds(tmp_path, monkeypatch):
    """The cache GC reads SPARKGRAPH_GC_GRACE_SECONDS the way the store's
    GC does (a float). A fractional window must age out a dir last used
    10 s ago instead of raising — drop_stale_generations swallows the
    error, which would leave every stale generation on disk."""
    import time as _time

    from pymongraph_spark.queries import graph as qgraph

    monkeypatch.setenv("SPARKGRAPH_GC_GRACE_SECONDS", "0.5")
    (tmp_path / "_LAST_USED").write_text(str(int(_time.time()) - 10))
    assert qgraph._recently_used(str(tmp_path)) is False


def test_q61_bucketed_pair_join_is_exchange_free(spark, sf_small):
    from pymongraph_spark.queries.relational import bucketed_orderkey_join

    old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.sources.bucketing.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
    try:
        joined = bucketed_orderkey_join(spark, sf_small)
        plan = _plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan  # both sides bucket-local
        # second call must REUSE the tables (same generation), not rewrite
        again = bucketed_orderkey_join(spark, sf_small)
        assert "Exchange" not in _plan(again)
        # results equal the plain join count
        from pymongraph_spark.catalog import load_tables

        t = load_tables(spark, sf_small)
        expected = t["orders"].join(
            t["lineitem"], F.col("o_orderkey") == F.col("l_orderkey")
        ).count()
        assert joined.count() == expected
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)


def test_sidecar_backfill_requires_confirmed_count(tmp_path):
    """_BUCKETS backfill only when the file names CONFIRM the count (max
    observed bucket id == buckets-1). Files compatible with a smaller
    count (max id < buckets-1) must NOT be stamped — a wrong sidecar is
    permanently authoritative and silently mis-routes bucketed joins."""
    import os

    from pymongraph_spark.queries.relational import _sidecar_backfill

    def fake_dir(name, max_id):
        d = tmp_path / name
        d.mkdir()
        for i in (0, max_id):
            (d / f"part-0000{i}-abc_{i:05d}.c000.snappy.parquet").touch()
        (d / "_SUCCESS").touch()
        return str(d)

    # plausibly an 8-bucket save: refutable guess → no stamp
    ambiguous = fake_dir("amb", 7)
    _sidecar_backfill(ambiguous, 16)
    assert not os.path.exists(os.path.join(ambiguous, "_BUCKETS"))

    # all 16 bucket ids possible and max == 15: confirmed → stamped
    confirmed = fake_dir("conf", 15)
    _sidecar_backfill(confirmed, 16)
    with open(os.path.join(confirmed, "_BUCKETS")) as fh:
        assert fh.read().strip() == "16"

    # existing sidecar is never overwritten
    with open(os.path.join(confirmed, "_BUCKETS"), "w") as fh:
        fh.write("8")
    _sidecar_backfill(confirmed, 16)
    with open(os.path.join(confirmed, "_BUCKETS")) as fh:
        assert fh.read().strip() == "8"
