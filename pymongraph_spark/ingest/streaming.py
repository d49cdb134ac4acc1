"""Streaming ingest (SURVEY.md §2.11): the reference has no streaming at
all — ingestion is synchronous per-document RPCs. Here the same staging
transform as batch (importer.py) runs per micro-batch under Structured
Streaming, with ``foreachBatch`` appending each batch to the parquet graph
store's log (store.merge_into_log).

Exactly-once-effective: ids are pure functions of natural keys and a
batch's delta is keyed by the store batch id its checkpoint recorded for
it, so micro-batch replays after failure converge to the same graph.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from pymongraph_spark.graph import store
from pymongraph_spark.ingest.importer import build_graph_tables, staging_frame


def _store_batch_id(checkpoint_dir: str, store_path: str, batch_id: int) -> int:
    """Store batch id of this checkpoint's micro-batch ``batch_id``.

    A stream's batch ids restart at 0 with every new checkpoint, and
    several checkpoints may feed one store in turn, so each micro-batch
    claims a fresh store id (store.reserve_batch_id) the first time it
    runs and records it in the checkpoint. A replay of the batch reads
    the same id back, which keeps its append exactly-once. Spark replays
    only the latest batch, so the records of older ones are dropped.
    """
    ids = os.path.join(checkpoint_dir, "sparkgraph_ids")
    record = os.path.join(ids, str(batch_id))
    if not os.path.exists(record):
        os.makedirs(ids, exist_ok=True)
        with open(record + ".tmp", "w") as fh:
            fh.write(str(store.reserve_batch_id(store_path)))
        os.replace(record + ".tmp", record)
        for name in os.listdir(ids):
            if name.isdigit() and int(name) < batch_id:
                os.remove(os.path.join(ids, name))
    with open(record) as fh:
        return int(fh.read())


def stream_import(
    spark: SparkSession,
    input_dir: str,
    store_path: str,
    checkpoint_dir: str,
    available_now: bool = True,
    max_files_per_trigger: int | None = None,
    merge_mode: str = "log",
    compact_every: int = 16,
) -> StreamingQuery:
    """Watch ``input_dir`` for text files (one JSON report per line) and
    continuously upsert them into the graph store at ``store_path``.

    ``available_now=True`` drains what exists and stops (deterministic for
    tests/backfills); False runs a continuous micro-batch stream.
    ``max_files_per_trigger`` caps files per micro-batch — with
    availableNow this slices a backfill into several idempotent merges
    (the replay/convergence story under test in st87).

    Each micro-batch is appended to the store as an immutable delta
    (store.merge_into_log, O(batch)) and the log is compacted every
    ``compact_every`` batches; store.load / store.load_log read the
    current state with pending deltas folded in. ``compact_every=1``
    rewrites the full version after every batch. Each micro-batch takes
    the next free store batch id and keeps it in the checkpoint for its
    replays, so streams with different checkpoints can feed one store in
    turn without one's batch being skipped as a replay of another's.
    ``merge_mode`` is kept for callers of the former two-mode signature;
    "log" is its only value.

    ARRIVAL ORDER: the file source processes files in mtime order, and
    batch order is what $set merge resolution follows — two reports
    updating the same vertex resolve last-batch-wins. Files tied at
    millisecond mtime granularity (any parallel writer) arrive in
    ARBITRARY order, making that resolution nondeterministic; ties are
    detected loudly BOTH at stream start and per micro-batch for files
    that land while the stream runs (streaming.staging.mtime_tie_monitor
    — the long-running-stream mode is exactly where mid-stream writers
    appear). Backfills should be staged with
    streaming.staging.stamp_monotone_mtimes / stage_time_sorted.
    """
    if merge_mode != "log":
        raise ValueError(
            f"unknown merge_mode {merge_mode!r}; the store has one write path, 'log'"
        )
    from pymongraph_spark.streaming.staging import mtime_tie_monitor

    check_ties = mtime_tie_monitor(input_dir, context="stream_import")
    check_ties()  # start-of-stream sweep (covers everything already staged)
    reader = spark.readStream
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    lines = reader.text(input_dir)

    def process_batch(batch_df, batch_id: int) -> None:
        check_ties()  # files that landed since the last batch
        reports = batch_df.filter(F.length(F.trim("value")) > 0).select(
            F.monotonically_increasing_id().alias("ord"), "value"
        )
        if reports.isEmpty():
            return
        g = build_graph_tables(staging_frame(spark, reports))
        store.merge_into_log(
            spark,
            store_path,
            g,
            _store_batch_id(checkpoint_dir, store_path, batch_id),
            compact_every=compact_every,
        )

    writer = (
        lines.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
