"""Streaming-tier scaling probe (VERDICT r7 items 1 + 8): the batch
registry has two measured decades of scaling; this script gives the
streaming tier the same treatment — measured ratios, not plan-shape
prose.

Five measurements:

1. **st88 standing-index sensitivity** (the load-bearing claim): probe a
   FIXED batch of documents against a standing LSH index built from the
   sf0.1 corpus vs the 10× sf1 corpus. Identical probe work; only the
   index grows. "Per-batch cost flat in corpus size" becomes the ratio
   t(10× index)/t(1× index) — the banded equi-join's probe side touches
   only buckets the batch hashes into, so the expected growth is the
   per-bucket collision fan-out, not 10×.

2. **st88 full pipeline at both scales**: the registered query (4 waves,
   maxFilesPerTrigger=1) at sf0.1 and sf1. Here the batches themselves
   are 10× bigger, so per-batch cost growing ~linearly in BATCH size is
   the healthy outcome; the index-size term is isolated by (1).

3. **stream_import batch-size → rows/s curve** (ingest provisioning):
   a fixed 8k-report JSON-lines corpus split into files of B reports,
   drained with maxFilesPerTrigger=1 so each file is one micro-batch —
   every micro-batch pays the full staging-transform + graph-store merge,
   so rows/s vs B quantifies the per-batch fixed cost a provisioner must
   amortize (the r7 bench's 332 rows/s at one 1k batch is this curve's
   low end). Also records a 1-batch 10× run (8k reports in one batch)
   for the fixture-size scaling point. Both compaction cadences: "full"
   compacts after every batch (compact_every=1), "log" every 16.

4. **standing-store sensitivity**: marginal per-batch ingest cost vs the
   size of the accumulated store (2k/16k/128k reports), compacting after
   every batch ("full") vs never during the probe ("log") — the
   structural O(store)-rewrite vs O(batch)-append difference
   merge_into_log exists for.

5. **streaming registry sweep**: every non-st88 st query end-to-end at
   both scales, so the whole streaming tier carries two-scale numbers.

Usage: python scripts/scale_probe_streaming.py [small_dir] [big_dir] [out_json]
Defaults: /root/testdata/sf0.1 /tmp/sparkgraph_sf1 SCALE_PROBE_streaming.json
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402


def _report_line(i: int) -> str:
    return json.dumps(
        {
            f"probe-{i}.example": {
                "dns-resolutions": [
                    {
                        "ipaddress": f"10.{i // 256 % 256}.{i % 256}.7",
                        "domain": f"probe-{i}.example",
                        "date": "2024-01-01",
                    }
                ],
                "detected-downloaded": [
                    {"hash": f"h-{i}", "datetime": "2024-01-02", "prob": f"{i % 60}/60"}
                ],
                "asn": 65000 + i,
            }
        }
    )


def probe_index_sensitivity(spark, small: str, big: str, out: dict) -> None:
    """(1): fixed probe batch vs 1× and 10× standing index."""
    from pymongraph_spark.catalog import load_tables
    from pymongraph_spark.operators.dedup import (
        minhash_index_frames,
        minhash_lsh_probe_index,
    )

    def _checkpointed(frames):
        # eager, so the timed probes read stored frames and the build
        # time covers the whole hashing
        return tuple(f.localCheckpoint(eager=True) for f in frames)

    base = tempfile.mkdtemp(prefix="sparkgraph_stream_probe_")
    try:
        result: dict[str, dict] = {}
        for tag, sf_dir in (("index_1x", small), ("index_10x", big)):
            # the fixed probe batch: 1k docs sampled deterministically from
            # the TARGET corpus with shifted ids (disjoint id space) — the
            # batch must contain text that actually near-dups the index
            # (sf1 documents are freshly synthesized, so an sf0.1-drawn
            # batch would find zero candidates at 10× and the verify stage
            # would measure nothing); same batch size at both scales keeps
            # the probe-side work constant
            probe_docs = (
                load_tables(spark, sf_dir)["documents"]
                .orderBy("doc_id")
                .limit(1000)
                .select((F.col("doc_id") + 100_000_000).alias("doc_id"), "text")
                .localCheckpoint(eager=True)
            )
            new_sh, new_bb = _checkpointed(minhash_index_frames(probe_docs))
            sh_dir = os.path.join(base, tag, "sh")
            bb_dir = os.path.join(base, tag, "bb")
            corpus = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
            n_corpus = corpus.count()
            t0 = time.perf_counter()
            sh, bb = _checkpointed(minhash_index_frames(corpus))
            sh.write.mode("overwrite").parquet(sh_dir)
            bb.write.mode("overwrite").parquet(bb_dir)
            build_s = round(time.perf_counter() - t0, 3)
            # probe time: median of 3 warm runs against the STORED frames,
            # exactly st88's steady-state micro-batch shape
            times = []
            pairs = 0
            for _ in range(3):
                t0 = time.perf_counter()
                pairs = minhash_lsh_probe_index(
                    new_sh,
                    new_bb,
                    spark.read.parquet(sh_dir),
                    spark.read.parquet(bb_dir),
                    threshold=0.5,
                ).count()
                times.append(round(time.perf_counter() - t0, 3))
            result[tag] = {
                "corpus_docs": n_corpus,
                "index_build_s": build_s,
                "probe_times_s": times,
                "probe_median_s": sorted(times)[1],
                "pairs": pairs,
            }
        r1 = result["index_1x"]["probe_median_s"]
        r10 = result["index_10x"]["probe_median_s"]
        result["probe_ratio_10x_index"] = round(r10 / r1, 2) if r1 else None
        out["st88_index_sensitivity"] = result
    finally:
        shutil.rmtree(base, ignore_errors=True)


def probe_st88_full(spark, small: str, big: str, out: dict) -> None:
    """(2): the registered 4-wave pipeline at both corpus scales."""
    from pymongraph_spark.queries import QUERIES

    result: dict[str, dict] = {}
    for tag, sf_dir in (("sf0.1", small), ("sf1", big)):
        t0 = time.perf_counter()
        rows = QUERIES["st88_streaming_neardup_index"](spark, sf_dir).count()
        total = round(time.perf_counter() - t0, 3)
        result[tag] = {
            "total_s": total,
            "sec_per_batch": round(total / 4, 3),
            "pairs": rows,
        }
    result["per_batch_ratio_10x_corpus"] = round(
        result["sf1"]["sec_per_batch"] / result["sf0.1"]["sec_per_batch"], 2
    )
    out["st88_full_pipeline"] = result


def probe_stream_import(spark, out: dict) -> None:
    """(3): batch-size → rows/s curve for the ingest pipeline, in BOTH
    merge modes — "full" (read-merge-rewrite, O(store) per batch) and
    "log" (delta append + amortized compaction, O(batch) per batch).
    The gap between the two curves at small batches is the rewrite cost
    the log mode exists to remove."""
    from pymongraph_spark.ingest.streaming import stream_import

    total_rows = 8000
    curves: dict[str, list] = {}
    for mode, every in (("full", 1), ("log", 16)):
        curve = []
        for batch_rows in (250, 1000, 2000, 8000):
            base = tempfile.mkdtemp(prefix="sparkgraph_ingest_curve_")
            try:
                inp = os.path.join(base, "in")
                os.makedirs(inp)
                n_files = total_rows // batch_rows
                for f_idx in range(n_files):
                    with open(
                        os.path.join(inp, f"reports_{f_idx:04d}.jsonl"), "w"
                    ) as fh:
                        for j in range(batch_rows):
                            fh.write(_report_line(f_idx * batch_rows + j) + "\n")
                t0 = time.perf_counter()
                q = stream_import(
                    spark,
                    inp,
                    os.path.join(base, "store"),
                    os.path.join(base, "ckpt"),
                    available_now=True,
                    max_files_per_trigger=1,
                    compact_every=every,
                )
                q.awaitTermination()
                total_s = round(time.perf_counter() - t0, 3)
                curve.append(
                    {
                        "batch_rows": batch_rows,
                        "n_batches": n_files,
                        "total_s": total_s,
                        "rows_per_sec": round(total_rows / total_s, 1),
                        "sec_per_batch": round(total_s / n_files, 3),
                    }
                )
            finally:
                shutil.rmtree(base, ignore_errors=True)
        curves[mode] = curve
    out["stream_import_curve"] = {
        "total_rows": total_rows,
        "modes": curves,
    }


def probe_ingest_store_sensitivity(spark, out: dict) -> None:
    """(4): per-batch ingest cost vs STANDING STORE size — the structural
    difference between the compaction cadences. Build stores of 2k and
    16k reports, then append four 250-row batches to each and report the
    marginal per-batch cost. Compacting every batch re-reads and rewrites
    the whole store per batch (cost grows with the store); without
    compaction each batch appends an O(batch) delta."""
    from pymongraph_spark.ingest.streaming import stream_import

    result: dict[str, dict] = {}
    for mode, every in (("full", 1), ("log", 1_000_000)):
        per_store = {}
        for store_rows in (2000, 16000, 128000):
            base = tempfile.mkdtemp(prefix="sparkgraph_ingest_standing_")
            try:
                inp = os.path.join(base, "in")
                os.makedirs(inp)
                store_path = os.path.join(base, "store")
                # seed the standing store in one batch
                with open(os.path.join(inp, "seed.jsonl"), "w") as fh:
                    for j in range(store_rows):
                        fh.write(_report_line(j) + "\n")
                stream_import(
                    spark, inp, store_path, os.path.join(base, "ckpt"),
                    available_now=True, compact_every=every,
                ).awaitTermination()
                # append 4 fixed 250-row batches; time the marginal drain
                for f_idx in range(4):
                    with open(
                        os.path.join(inp, f"inc_{f_idx:02d}.jsonl"), "w"
                    ) as fh:
                        for j in range(250):
                            fh.write(_report_line(1_000_000 + f_idx * 250 + j) + "\n")
                t0 = time.perf_counter()
                stream_import(
                    spark, inp, store_path, os.path.join(base, "ckpt"),
                    available_now=True, max_files_per_trigger=1,
                    compact_every=every,
                ).awaitTermination()
                per_store[f"store_{store_rows}"] = round(
                    (time.perf_counter() - t0) / 4, 3
                )
            finally:
                shutil.rmtree(base, ignore_errors=True)
        per_store["ratio_8x_store"] = round(
            per_store["store_16000"] / per_store["store_2000"], 2
        )
        per_store["ratio_64x_store"] = round(
            per_store["store_128000"] / per_store["store_2000"], 2
        )
        result[mode] = per_store
    out["ingest_standing_store_sensitivity"] = {
        "batch_rows": 250,
        "modes": result,
    }


STREAMING_REGISTRY = [
    "st80_windowed_event_counts",
    "st81_session_windows",
    "st82_sliding_window_counts",
    "st83_streaming_dedup",
    "st84_stateful_user_stats",
    "st85_stream_static_enrichment",
    "st86_stream_stream_interval_join",
    "st87_streaming_graph_ingest",
    "st89_transform_with_state",
    "st90_streaming_shard_ingest",
]


def probe_streaming_registry(spark, small: str, big: str, out: dict) -> None:
    """(5): the REST of the streaming registry at both scales — st88 has
    its own parts above; this times every other st query end-to-end
    (readStream bootstrap + availableNow drain included, so these are
    whole-pipeline numbers, not marginal batch costs). Events grow 10×
    at sf1; the watermark/window/state operators should track their
    input ~linearly with the stream bootstrap amortizing."""
    from pymongraph_spark.queries import QUERIES

    result: dict[str, dict] = {}
    for name in STREAMING_REGISTRY:
        rec: dict[str, object] = {}
        for tag, sf_dir in (("sf0.1", small), ("sf1", big)):
            t0 = time.perf_counter()
            rows = QUERIES[name](spark, sf_dir).count()
            rec[f"{tag}_s"] = round(time.perf_counter() - t0, 3)
            rec[f"{tag}_rows"] = rows
        rec["ratio"] = round(rec["sf1_s"] / rec["sf0.1_s"], 2)
        result[name] = rec
    out["streaming_registry_sweep"] = result


def main() -> None:
    small = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    big = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sparkgraph_sf1"
    out_path = (
        sys.argv[3] if len(sys.argv) > 3 else os.path.join(REPO, "SCALE_PROBE_streaming.json")
    )
    from pymongraph_spark.session import get_spark

    spark = get_spark()
    out: dict = {"small": small, "big": big}
    probe_index_sensitivity(spark, small, big, out)
    probe_st88_full(spark, small, big, out)
    probe_stream_import(spark, out)
    probe_ingest_store_sensitivity(spark, out)
    spark.stop()
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
