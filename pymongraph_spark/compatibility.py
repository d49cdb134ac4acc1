"""Drop-in API façade: the reference's classes and method signatures
(``MongoGraph`` — /root/reference/mongraph.py:8-303, ``GraphImporter`` —
/root/reference/graph_importer.py:7-175) over the Spark-native engine, so
existing reference callers can switch imports and run unchanged.

Semantics match the reference's documented intent (bug intents per
SURVEY.md §2.12), with two deliberate upgrades:
- ids are deterministic natural-key hashes (returned as ints, used
  anywhere the reference passed ObjectIds);
- ``find_one``-style "any match" resolution is deterministic (min id).

This is the OLTP-convenience layer: each call materializes a small batch
through the same engine paths the bulk API uses (writes.py, traversal.py,
importer.py). Per-call latency is Spark-job latency (~100ms), which is
the price of single-document round trips — exactly the access pattern the
batch API exists to replace. Use it for compatibility and tests; use the
batch operators for pipelines.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from pymongraph_spark.graph import traversal, writes
from pymongraph_spark.graph.model import (
    TYPE_DEPENDENCY,
    PropertyGraph,
    _as_predicate,
    vertex_id,
)


class MongoGraph:
    """Reference-compatible property-graph façade (mongraph.py:8-303)."""

    def __init__(
        self,
        spark: SparkSession | None = None,
        # reference connection params accepted and ignored (mongraph.py:8-17
        # opens a MongoClient; our "connection" is the SparkSession)
        host: str = "localhost",
        port: int = 27017,
        username: str = "",
        password: str = "",
        dbname: str = "mongraph",
    ):
        from pymongraph_spark.session import get_spark

        self._spark = spark or get_spark(app_name=f"mongraph-{dbname}")
        self._type_dependency = {k: set(v) for k, v in TYPE_DEPENDENCY.items()}
        self._graph = PropertyGraph.empty(self._spark)
        self._namespace = ("vertices", "edge")  # mongraph.py:20-21 names
        # namespace → graph, like the reference's server-side collections:
        # switching away must not lose data, switching back must see it
        # (B6 intent, mongraph.py:62-69). Frames are checkpointed by
        # _commit, so stashed graphs stay valid across later mutations.
        self._collections: dict[tuple[str, str], PropertyGraph] = {}

    # -- state ------------------------------------------------------------
    @property
    def graph(self) -> PropertyGraph:
        return self._graph

    def _commit(self, g: PropertyGraph) -> None:
        # checkpoint per mutation: the façade is interactive, so plans must
        # not accrete across hundreds of calls
        self._graph = PropertyGraph(
            g.vertices.localCheckpoint(eager=True),
            g.edges.localCheckpoint(eager=True),
        )

    def change_collection(self, vertices_collection: str, edge_collection: str) -> None:
        """S2 (mongraph.py:62-69, B6 intent: actually switch): the current
        namespace's data is stashed and the target namespace's previous
        data (if any) is re-attached — a reference user switching
        collections and back sees their earlier graph, exactly as Mongo's
        server-side collections behave. A never-used namespace binds
        empty. Cross-session durability goes through graph.store
        (save/load) on top of this in-session registry."""
        self._collections[self._namespace] = self._graph
        self._namespace = (vertices_collection, edge_collection)
        self._graph = self._collections.get(
            self._namespace, PropertyGraph.empty(self._spark)
        )

    # -- writes -----------------------------------------------------------
    def insert_vertex(self, label: str = "domain", identify: dict | None = None,
                      data: dict | None = None) -> int:
        """W1 (mongraph.py:71-97): validate, dedup by identify, return id.

        The reference treats ``identify`` as a lookup-only filter and
        stores ``data`` as given (mongraph.py:90-96), so when both carry
        the same key, DATA's value is what lands in the stored row; our
        ids are natural-key hashes of the stored key column, so data's
        value also feeds the id hash (returned id == stored row's id).
        identify's value is used only when the key is absent from data
        (the key must exist as a column for the upsert). Keyless inserts
        (no identify, empty data) collapse to one deterministic vertex
        per label — documented divergence from the reference's
        always-fresh ObjectIds.
        """
        data = dict(data or {})
        # validate BEFORE key selection: empty data must raise the typed
        # dependency error (mongraph.py:84-85), not StopIteration
        writes._validate_label(label, set(data), self._type_dependency)
        if identify:
            # reference dedup (mongraph.py:90-94): find_one over the FULL
            # identify dict; when a matching vertex exists, return ITS id
            # with nothing stored — inserting data here would create a
            # second vertex the reference never creates
            pred = F.col("label") == F.lit(label)
            for k, v in identify.items():
                pred = pred & (F.col("props").getItem(k) == F.lit(str(v)))
            hit = self._graph.find_one(pred).collect()
            if hit:
                return int(hit[0]["id"])
            key_field, key_value = next(iter(identify.items()))
            # reference stores data's value on key collision; keep id
            # hashing consistent with what is stored
            key_value = data.get(key_field, key_value)
            data[key_field] = key_value
        elif data:
            key_field, key_value = next(iter(data.items()))
        else:
            key_field, key_value = "__key", ""
            data[key_field] = key_value
        df = self._spark.createDataFrame(
            [tuple(str(v) for v in data.values())],
            ", ".join(f"`{k}` string" for k in data),
        )
        self._commit(writes.upsert_vertices(
            self._graph, label, df, key=key_field, registry=self._type_dependency
        ))
        return int(
            self._spark.range(1)
            .select(vertex_id(label, F.lit(str(key_value))))
            .collect()[0][0]
        )

    def insert_edge(self, first_node: int, second_node: int,
                    label: str = "resolve", data: dict | None = None) -> int:
        """W2 (mongraph.py:99-130): directed (src, dst, label) dedup."""
        props = {k: str(v) for k, v in (data or {}).items()} or None
        df = self._spark.createDataFrame(
            [(int(first_node), int(second_node), label, props)],
            "src long, dst long, label string, props map<string,string>",
        )
        self._commit(writes.upsert_edges(self._graph, df, label=label))
        row = (
            self._graph.edges.filter(
                (F.col("src") == first_node) & (F.col("dst") == second_node)
                & (F.col("label") == label)
            ).select("id").collect()
        )
        if not row:
            # the referential semi-join dropped the edge — mirror the
            # reference's endpoint validation error (mongraph.py:114-115)
            raise ValueError(
                f"edge endpoints must reference existing vertices "
                f"(src={first_node}, dst={second_node})"
            )
        return int(row[0][0])

    def insert_node(self, destination: int, vertex_label: str = "domain",
                    edge_label: str = "resolve", vertex_identify: dict | None = None,
                    vertex_data: dict | None = None,
                    edge_data: dict | None = None) -> tuple[int, int, int]:
        """W3 (mongraph.py:132-151): new vertex is the edge SOURCE.
        Defaults match the reference signature exactly."""
        src = self.insert_vertex(vertex_label, vertex_identify, vertex_data)
        eid = self.insert_edge(src, destination, edge_label, edge_data)
        return src, eid, destination

    def update_vertex(self, vertex: int, data: dict) -> None:
        """U1 (mongraph.py:195-203): $set merge."""
        df = self._spark.createDataFrame(
            [(int(vertex), {k: str(v) for k, v in data.items()})],
            "id long, props map<string,string>",
        )
        self._commit(writes.update_vertices(self._graph, df))

    def update_edge(self, edge: int, data: dict) -> None:
        """U2 (mongraph.py:205-213)."""
        df = self._spark.createDataFrame(
            [(int(edge), {k: str(v) for k, v in data.items()})],
            "id long, props map<string,string>",
        )
        self._commit(writes.update_edges(self._graph, df))

    def delete_node(self, node: int | None, filter: dict | None = None) -> bool:
        """D1 (mongraph.py:153-181): cascade delete; filter resolves to the
        deterministic first match."""
        if node is None:
            match = self._graph.find_one(filter).select("id").collect()
            if not match:
                return False
            node = match[0][0]
        before = self._graph.vertices.count()
        self._commit(writes.delete_vertices(self._graph, {"id": int(node)}))
        return self._graph.vertices.count() < before

    def delete_edge(self, edge: int) -> bool:
        """D2 (mongraph.py:183-193)."""
        before = self._graph.edges.count()
        df = self._spark.createDataFrame([(int(edge),)], "id long")
        self._commit(writes.delete_edges(self._graph, df))
        return self._graph.edges.count() < before

    # -- reads ------------------------------------------------------------
    def search_vertex(self, filter) -> list[dict]:
        """Q1 (mongraph.py:215-226): filtered scan → list of docs."""
        rows = self._graph.search_vertices(filter).collect()
        return [
            {"_id": r["id"], "__type": r["label"], **dict(r["props"] or {})}
            for r in rows
        ]

    def find_neighbors(self, vertex: int, get_details: bool = False):
        """G1 (mongraph.py:228-250), B7 semantics kept."""
        ids_or_details, edges = traversal.find_neighbors(
            self._graph, int(vertex), get_details=get_details
        )
        edge_list = [
            {"_id": r["id"], "__type": r["label"],
             "first_node": r["src"], "second_node": r["dst"],
             **dict(r["props"] or {})}
            for r in edges.collect()
        ]
        if get_details:
            verts = [
                {"_id": r["id"], "__type": r["label"], **dict(r["props"] or {})}
                for r in ids_or_details.collect()
            ]
            return verts, edge_list
        return {int(r["id"]) for r in ids_or_details.collect()}, edge_list

    def build_graph(self, root_vertex: int | None = None,
                    filter: dict | None = None, depth: int = 4) -> str:
        """G3 (mongraph.py:276-303), B2/B4 intent."""
        return traversal.build_graph(
            self._graph, root=root_vertex, predicate=filter, depth=depth
        )


class GraphImporter(MongoGraph):
    """Reference-compatible importer façade (graph_importer.py:7-175):
    same entry point, executed through the batch staging pipeline."""

    def import_from_json(self, json_data: dict, is_malicious: bool = False) -> None:
        from pymongraph_spark.graph import store
        from pymongraph_spark.ingest import importer

        reports = self._spark.createDataFrame(
            [(0, json.dumps(json_data))], "ord bigint, value string"
        )
        incoming = importer.build_graph_tables(
            importer.staging_frame(self._spark, reports)
        )
        # Reference re-import semantics (graph_importer.py per report):
        # insert_vertex on an EXISTING vertex is a no-op (mongraph.py:
        # 90-97), while the report's update_vertex calls (detected_prop,
        # residual fields, graph_importer.py:131-168) still $set onto it;
        # edges keep the first insert. That is the store's fold with the
        # current graph at ordinal 0 and this report at ordinal 1.
        self._commit(store.fold_graphs(self._graph, incoming))
