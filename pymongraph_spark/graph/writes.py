"""Batch writes: upsert / update / delete (SURVEY.md §2.3-2.5).

Reference semantics preserved:
- W1 insert_vertex (mongraph.py:71-97): label must be registered, required
  keys must be present, and an existing vertex with the same natural key
  wins (insert returns the existing id; properties are NOT merged on
  conflict — that is update_vertex's job).
- W2 insert_edge (mongraph.py:99-130): at most one edge per directed
  (src, dst, label) triple; endpoints must reference existing vertices.
- D1 delete_node (mongraph.py:153-181): cascading delete of incident edges
  in BOTH directions — batch form is a left anti-join.
- U1/U2 update_* (mongraph.py:195-213): Mongo ``$set`` merge — new keys
  win, missing keys keep old values (model.set_props).

All functions are pure: they take and return PropertyGraph. No
read-modify-write races exist because ids are pure functions of keys.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pymongraph_spark.graph.model import (
    EDGE_FIELDS,
    TYPE_DEPENDENCY,
    VERTEX_FIELDS,
    PropertyGraph,
    _as_predicate,
    by_ordinal,
    edge_id,
    set_props,
    vertex_id,
)


class UnknownLabelError(ValueError):
    """Label not in TYPE_DEPENDENCY (reference raises UnboundLocalError at
    mongraph.py:81-82; we raise something honest)."""


class MissingRequiredKeysError(ValueError):
    """Required keys absent (mongraph.py:84-85 raises ValueError)."""


def _validate_label(label: str, keys: set[str], registry=None) -> None:
    registry = TYPE_DEPENDENCY if registry is None else registry
    if label not in registry:
        raise UnknownLabelError(f"unknown vertex label {label!r}; known: {sorted(registry)}")
    required = registry[label]
    if not required.issubset(keys):
        raise MissingRequiredKeysError(
            f"label {label!r} requires keys {sorted(required)}, got {sorted(keys)}"
        )


def upsert_vertices(
    g: PropertyGraph,
    label: str,
    data: DataFrame,
    key: str,
    registry: dict[str, set[str]] | None = None,
) -> PropertyGraph:
    """W1 batch upsert. ``data`` has one column per property; ``key`` names
    the natural-key column (the reference's ``identify`` filter,
    mongraph.py:90-94). Existing vertices win; new vertices are deduped by
    id within the batch too (first occurrence by key is arbitrary-but-
    consistent because all rows with one key produce one id).
    """
    _validate_label(label, set(data.columns), registry)
    props = F.map_from_arrays(
        F.array(*[F.lit(c) for c in data.columns]),
        F.array(*[F.col(c).cast("string") for c in data.columns]),
    )
    new = data.select(
        vertex_id(label, F.col(key)).alias("id"),
        F.lit(label).alias("label"),
        props.alias("props"),
    ).dropDuplicates(["id"])
    merged = g.vertices.unionByName(
        new.join(g.vertices.select("id"), on="id", how="left_anti")
    )
    return PropertyGraph(merged.select(VERTEX_FIELDS), g.edges)


def upsert_edges(
    g: PropertyGraph,
    edges: DataFrame,
    label: str | None = "resolve",
    validate_endpoints: bool = True,
) -> PropertyGraph:
    """W2 batch upsert. ``edges`` needs ``src``/``dst`` (+ optional
    ``label``, ``props``). Default label 'resolve' per mongraph.py:99.
    Dedup on the directed (src, dst, label) triple (mongraph.py:120-127).
    Endpoint validation (mongraph.py:114-115 checks ObjectId-ness; ours is
    stronger — referential integrity) is a pair of semi joins.
    """
    e = edges
    if "label" not in e.columns:
        e = e.withColumn("label", F.lit(label))
    if "props" not in e.columns:
        e = e.withColumn("props", F.lit(None).cast("map<string,string>"))
    # cast FIRST, then hash: edge_id over the raw columns would hash
    # '123' (string) differently from 123 (long), giving the same
    # directed triple two ids and defeating the W2 dedup
    e = e.select(
        F.col("src").cast("long").alias("src"),
        F.col("dst").cast("long").alias("dst"),
        "label",
        "props",
    )
    e = e.select(
        edge_id(F.col("src"), F.col("dst"), F.col("label")).alias("id"),
        "src", "dst", "label", "props",
    ).dropDuplicates(["id"])
    if validate_endpoints:
        ids = g.vertices.select("id")
        e = (
            e.join(ids.withColumnRenamed("id", "src"), on="src", how="left_semi")
            .join(ids.withColumnRenamed("id", "dst"), on="dst", how="left_semi")
        )
    merged = g.edges.unionByName(e.join(g.edges.select("id"), on="id", how="left_anti"))
    return PropertyGraph(g.vertices, merged.select(EDGE_FIELDS))


def insert_nodes(
    g: PropertyGraph,
    destination_ids: DataFrame,
    vertex_label: str,
    edge_label: str,
    data: DataFrame,
    key: str,
) -> PropertyGraph:
    """W3 insert_node (mongraph.py:132-151): upsert vertices from ``data``
    and connect each NEW vertex as the edge *source* to the matching
    destination (``destination_ids``: columns [key, dst]). Composition of
    W1+W2, exactly as the reference composes them."""
    g2 = upsert_vertices(g, vertex_label, data, key)
    new_edges = (
        data.select(vertex_id(vertex_label, F.col(key)).alias("src"), F.col(key).alias("__k"))
        .join(destination_ids.select(F.col(key).alias("__k"), F.col("dst")), on="__k")
        .select("src", "dst")
    )
    return upsert_edges(g2, new_edges, label=edge_label)


def _fold_updates(updates: DataFrame) -> DataFrame:
    """Collapse duplicate ids in an updates frame into ONE $set map per id
    by applying them in application order (later maps win per key) — the
    reference applies sequential update_one calls; a left join against
    duplicate ids would instead FAN OUT the target into one row per
    update, breaking id uniqueness for every downstream join.

    Ordering: if the caller supplies an explicit ``ord`` column (like the
    importer's staging ``(ord, seq)``, pre-combined), duplicates fold in
    that order regardless of the frame's lineage. Otherwise the fallback
    is monotonically_increasing_id(), which preserves the caller's row
    order ONLY for shuffle-free inputs (after any shuffle the ids reflect
    partition layout) — callers with conflicting duplicate-id updates
    downstream of a shuffle must pass ``ord``."""
    if "ord" in updates.columns:
        u = updates.select("id", "props", F.col("ord").cast("bigint").alias("ord"))
    else:
        u = updates.select("id", "props").withColumn("ord", F.monotonically_increasing_id())
    return u.groupBy("id").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("ord", "props")), by_ordinal("ord")),
            F.lit(None).cast("map<string,string>"),
            lambda acc, s: set_props(acc, s["props"]),
        ).alias("__new_props")
    )


def _apply_updates(frame: DataFrame, updates: DataFrame, fields: list[str]) -> DataFrame:
    return (
        frame.join(_fold_updates(updates), on="id", how="left")
        .withColumn("props", set_props(F.col("props"), F.col("__new_props")))
        .select(fields)
    )


def update_vertices(g: PropertyGraph, updates: DataFrame) -> PropertyGraph:
    """U1 batch property merge (mongraph.py:195-203). ``updates`` has
    columns [id, props: map] plus an optional ``ord`` bigint giving the
    application order for duplicate ids; $set semantics (model.set_props).
    Duplicate ids in ``updates`` are folded in that order first
    (sequential update_one semantics), never fanned out."""
    return PropertyGraph(_apply_updates(g.vertices, updates, VERTEX_FIELDS), g.edges)


def update_edges(g: PropertyGraph, updates: DataFrame) -> PropertyGraph:
    """U2 — same merge on edges (mongraph.py:205-213), duplicate update
    ids folded like update_vertices."""
    return PropertyGraph(g.vertices, _apply_updates(g.edges, updates, EDGE_FIELDS))


def delete_vertices(g: PropertyGraph, target) -> PropertyGraph:
    """D1 cascading delete (mongraph.py:153-181). ``target`` is a predicate
    (Column/dict/SQL string) or a DataFrame of ids. Removes matching
    vertices and ALL incident edges either direction — the $or incident
    query (mongraph.py:172-177) becomes a left anti-join on each endpoint.
    """
    if isinstance(target, DataFrame):
        doomed = target.select("id")
    else:
        doomed = g.vertices.filter(_as_predicate(target)).select("id")
    # PIN the doomed id set (ids only — graph-sized, ContextCleaner-freed,
    # not a cache-manager persist): the three anti-joins below must all
    # see the SAME rows, and re-deriving a predicate over a
    # nondeterministic upstream plan (e.g. an unpersisted dropDuplicates
    # picking among duplicate-key rows) could match differently per join,
    # leaving dangling edges — the exact invariant D1 promises.
    doomed = doomed.localCheckpoint(eager=True)
    vertices = g.vertices.join(doomed, on="id", how="left_anti")
    edges = (
        g.edges.join(doomed.withColumnRenamed("id", "src"), on="src", how="left_anti")
        .join(doomed.withColumnRenamed("id", "dst"), on="dst", how="left_anti")
    )
    return PropertyGraph(vertices.select(VERTEX_FIELDS), edges.select(EDGE_FIELDS))


def delete_edges(g: PropertyGraph, target) -> PropertyGraph:
    """D2 edge delete (mongraph.py:183-193)."""
    if isinstance(target, DataFrame):
        doomed = target.select("id")
        edges = g.edges.join(doomed, on="id", how="left_anti")
    else:
        pred = _as_predicate(target)
        # NULL-evaluating rows (e.g. dict predicate on a props key the edge
        # lacks) do NOT match the delete target, so keep them: ~NULL is NULL
        # and filter drops it, silently deleting non-matching edges.
        edges = g.edges.filter(~F.coalesce(pred, F.lit(False)))
    return PropertyGraph(g.vertices, edges.select(EDGE_FIELDS))
