"""Benchmark workloads. Each one generates its inputs from the seed,
sets the engine up, runs a timed pass, checks the outputs and reports
its metrics.

Interface (see run.py for the order of calls):

- ``generate()``: pure-Python input generation (timed apart from setup).
- ``setup()``: load or import the inputs and run an untimed warm-up.
- ``run(seconds)``: one timed pass; returns the pass's measurements.
- ``check()``: output checks; returns a list of failure messages.
- ``attempted`` / ``failed``: operation counts of the timed passes.
- ``end_to_end(m)``: the driver-facing metrics from a pass's measurements.
- ``per_layer(tracer, jobs)``: per-layer metrics from the traced pass.
- ``work_units(m)``: units of work a pass completed, for trace overhead.
"""

from __future__ import annotations


def get(name: str):
    if name == "graph_serve":
        from perfbench.workloads.graph_serve import GraphServe
        return GraphServe
    if name == "corpus_curation":
        from perfbench.workloads.corpus_curation import CorpusCuration
        return CorpusCuration
    raise KeyError(name)


NAMES = ("graph_serve", "corpus_curation")


#: Every per-layer metric a traced run prints, with its unit. A workload
#: that does not call a layer reports 0 for that layer's metrics.
PER_LAYER: dict[str, str] = {
    # graph_serve
    "graph.traversal.find_neighbors.p50_ms": "ms",
    "graph.traversal.find_neighbors.jobs": "count",
    "graph.traversal.k_hop.p50_ms": "ms",
    "graph.traversal.k_hop.jobs": "count",
    "graph.traversal.build_graph.p50_ms": "ms",
    "graph.model.search_vertices.p50_ms": "ms",
    "graph.model.localCheckpoint.p50_ms": "ms",
    "graph.writes.insert_nodes.p50_ms": "ms",
    "graph.writes.upsert_edges.p50_ms": "ms",
    "graph.writes.update_vertices.p50_ms": "ms",
    "graph.writes.delete_edges.p50_ms": "ms",
    "serve.jobs_per_request": "count/request",
    "serve.tasks_per_request": "count/request",
    "serve.rows_read_per_row_returned": "ratio",
    # graph_serve's ingest (setup)
    "ingest.streaming.trigger_p50_ms": "ms",
    "ingest.streaming.add_batch_p50_ms": "ms",
    "ingest.importer.build_graph_tables.ms_per_batch": "ms",
    "graph.store.merge_into_log.ms_per_batch": "ms",
    "graph.store.compact_log.ms": "ms",
    "graph.store.bytes_written_per_input_byte": "ratio",
    "graph.store.bytes_on_disk_per_input_byte": "ratio",
    "graph.store.input_bytes": "bytes",
    "graph.store.load_log.ms": "ms",
    # corpus_curation
    "operators.graph_algos.connected_components.ms": "ms",
    "operators.dedup.dedup_keep_first.ms": "ms",
    "operators.dedup.minhash_lsh_pairs_neutral.ms": "ms",
    "operators.dedup.semdedup.ms": "ms",
    "operators.dedup.shingled_grams.ms": "ms",
    "operators.dedup.bloom_decontaminate.ms": "ms",
    "functions.text.quality_score.ms": "ms",
    "functions.text.bpe_encode_doc_stats.ms": "ms",
    "operators.sink.write_shards.ms": "ms",
    "operators.dedup.minhash_lsh_pairs_neutral.pairs": "count",
    "operators.dedup.semdedup.removed": "count",
    "functions.text.bpe_encode_doc_stats.tokens": "count",
    "operators.dedup.bloom_decontaminate.flagged": "count",
    "operators.dedup.bloom_decontaminate.false_positive_ratio": "ratio",
    "operators.sink.write_shards.bytes_per_input_byte": "ratio",
    "operators.sink.write_shards.input_bytes": "bytes",
    # every workload: Spark counters per phase, and the tracing overhead
    **{f"phase.{p}.spark.{k}": u for p in ("setup", "run", "check")
       for k, u in (("jobs", "count"), ("tasks", "count"), ("tasks_failed", "count"),
                    ("shuffle_write_bytes", "bytes"), ("gc_ms", "ms"),
                    ("unattributed_jobs", "count"))},
    "trace.overhead_ratio": "ratio",
}
