"""The labeled property digraph data model (SURVEY.md §1).

Reference mapping:
- ``vertices`` collection (mongraph.py:20)  → vertices DataFrame
  ``id: bigint, label: string, props: map<string,string>``
- ``edge`` collection (mongraph.py:21)      → edges DataFrame
  ``id: bigint, src: bigint, dst: bigint, label: string, props: map``
- ``bson.ObjectId`` (mongraph.py:96)        → deterministic natural-key id:
  ``xxhash64(label, natural_key)``. This is the load-bearing design choice:
  it turns the reference's racy find-before-insert dedup
  (mongraph.py:90-94, 120-127) into a pure function of the key, so upsert
  becomes ``dropDuplicates`` / anti-join-union with no read-before-write —
  embarrassingly parallel at 100 TB.
- ``_type_dependency`` required-keys registry (mongraph.py:22-27) →
  TYPE_DEPENDENCY below, extended with ``owner: {email}`` per the importer's
  intent (graph_importer.py:151; SURVEY §2.12 B5).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Vertex label → required property keys (mongraph.py:22-27 + B5 intent).
TYPE_DEPENDENCY: dict[str, set[str]] = {
    "domain": {"name"},
    "ip": {"address"},
    "legitimate": {"hash"},
    "malicious": {"hash"},
    "owner": {"email"},
}

VERTEX_FIELDS = ["id", "label", "props"]
EDGE_FIELDS = ["id", "src", "dst", "label", "props"]

VERTEX_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("props", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

EDGE_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("src", T.LongType(), False),
        T.StructField("dst", T.LongType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("props", T.MapType(T.StringType(), T.StringType()), True),
    ]
)


def set_props(acc: Column, new: Column) -> Column:
    """Mongo ``$set`` of map ``new`` onto map ``acc``: new keys win,
    missing keys keep old values. A NULL ``new`` is no update; a NULL
    ``acc`` takes ``new`` as is. Overwritten keys are dropped before the
    concat so the result never depends on mapKeyDedupPolicy."""
    return (
        F.when(new.isNull(), acc)
        .when(acc.isNull(), new)
        .otherwise(
            F.map_concat(
                F.map_filter(acc, lambda k, _: ~F.array_contains(F.map_keys(new), k)),
                new,
            )
        )
    )


def by_ordinal(*fields: str):
    """``array_sort`` comparator ordering structs by ``fields``
    lexicographically (structs holding maps are not orderable, so the
    comparison is spelled out)."""

    def cmp(left: Column, right: Column) -> Column:
        out = F  # F.when opens the CASE chain, Column.when extends it
        for f in fields:
            out = out.when(left[f] < right[f], -1).when(left[f] > right[f], 1)
        return out.otherwise(0)

    return cmp


def vertex_id(label: Column | str, natural_key: Column | str) -> Column:
    """Deterministic vertex id: xxhash64(label, natural key).

    Replaces ObjectId assignment at mongraph.py:96-97. Collision odds at
    100 TB scale (~1e11 vertices) are ~1e-4 across the whole dataset
    (birthday bound on 64 bits) — acceptable for analytics; a 128-bit
    variant (sha2 → two longs) is the documented escape hatch.
    """
    label = F.lit(label) if isinstance(label, str) else label
    natural_key = F.col(natural_key) if isinstance(natural_key, str) else natural_key
    return F.xxhash64(label, natural_key.cast("string"))


def edge_id(src: Column, dst: Column, label: Column | str) -> Column:
    """Deterministic edge id over the (src, dst, label) dedup triple
    (mongraph.py:120-127): direction-sensitive, one edge per triple."""
    label = F.lit(label) if isinstance(label, str) else label
    return F.xxhash64(src, dst, label)


@dataclass(frozen=True)
class PropertyGraph:
    """An immutable (vertices, edges) DataFrame pair.

    Mutations (upsert/update/delete in writes.py) return a new
    PropertyGraph — the batch/columnar analogue of the reference's
    per-document CRUD (mongraph.py:71-213). Persisting to parquet keyed by
    label gives partition pruning on label filters.

    A batch graph built from reports (ingest.build_graph_tables) has one
    more vertex column, ``upd``: the props it ``$set``s on a vertex that
    already exists in the store (see graph.store.fold).
    """

    vertices: DataFrame
    edges: DataFrame

    @staticmethod
    def empty(spark: SparkSession) -> "PropertyGraph":
        return PropertyGraph(
            vertices=spark.createDataFrame([], VERTEX_SCHEMA),
            edges=spark.createDataFrame([], EDGE_SCHEMA),
        )

    def persist(self) -> "PropertyGraph":
        return PropertyGraph(self.vertices.persist(), self.edges.persist())

    def localCheckpoint(self) -> "PropertyGraph":
        """Truncate lineage — essential inside iterative traversal loops."""
        return PropertyGraph(
            self.vertices.localCheckpoint(eager=True),
            self.edges.localCheckpoint(eager=True),
        )

    def counts(self) -> tuple[int, int]:
        return self.vertices.count(), self.edges.count()

    # ---- reads ----------------------------------------------------------
    def search_vertices(self, predicate) -> DataFrame:
        """Filtered vertex scan — the batch form of ``search_vertex``
        (mongraph.py:215-226). ``predicate`` is a Column expression or a
        dict of equality constraints (the only predicate surface the
        reference exercises — SURVEY §2.6); Column exposes the full Spark
        expression language, a strict superset."""
        return self.vertices.filter(_as_predicate(predicate, props_col="props"))

    def find_one(self, predicate) -> DataFrame:
        """Deterministic ``find_one`` (mongraph.py:92,165,290): Mongo's
        'any match' is made stable by taking the minimum id (SURVEY §5.5)."""
        return self.search_vertices(predicate).orderBy("id").limit(1)

    def hydrate_vertices(self, ids: DataFrame) -> DataFrame:
        """Batch vertex hydration (_get_vertex_details, mongraph.py:29-44):
        the N+1 point-lookup loop becomes a single join. No broadcast
        hint: a small id list (a literal list, an ego network) is
        auto-broadcast from its size, while an unbounded one (a promoted
        k_hop's visited set) must be free to fall back to a shuffle join."""
        return self.vertices.join(ids.select("id"), on="id", how="inner")

    def hydrate_edges(self, ids: DataFrame) -> DataFrame:
        """_get_edge_details (mongraph.py:46-60), same join pattern."""
        return self.edges.join(ids.select("id"), on="id", how="inner")


def _as_predicate(predicate, props_col: str = "props") -> Column:
    """dict {field: value} → conjunction of equality tests, checking typed
    columns when present else the props map; Column passes through."""
    if predicate is None:
        # reference filter-less calls (find_one({}), delete_node(None))
        # mean "match anything" — the deterministic min-id pick downstream
        # then mirrors Mongo's first-document semantics
        return F.lit(True)
    if isinstance(predicate, Column):
        return predicate
    if isinstance(predicate, str):
        return F.expr(predicate)
    if isinstance(predicate, dict):
        if not predicate:
            return F.lit(True)
        conds = []
        for k, v in predicate.items():
            if k in ("id", "label", "src", "dst"):
                conds.append(F.col(k) == F.lit(v))
            else:
                conds.append(F.col(props_col).getItem(k) == F.lit(str(v)))
        out = conds[0]
        for c in conds[1:]:
            out = out & c
        return out
    raise TypeError(f"unsupported predicate: {type(predicate)}")
