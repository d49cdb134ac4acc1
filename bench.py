#!/usr/bin/env python
"""Benchmark harness (driver contract): run the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print ONE JSON line:
    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is timed to full materialization (count + collect of a
bounded result), not just plan construction.
"""

from __future__ import annotations

import json
import os
import sys
import time


HEADLINE = [
    # relational core
    "q01_pricing_summary",
    "q03_shipping_priority",
    "q05_local_supplier_volume",
    "q10_top_customers_per_nation",
    "q11_running_total_events",
    "q22_json_events",
    "q36_event_pairs_within_5min",
    # graph
    "g30_degree_by_label",
    "g32_two_hop_customer1",
    "g37_connected_components_placed",
    "g43_triangle_counts",
    # multimodal (mapInPandas WAV decode — the Python-batch hot path)
    "m74_wav_decode_real",
    # LLM pipeline
    "d40_exact_dedup",
    "d42_minhash_lsh_pairs",
    # round-7 corpus-curation flagships: cluster-scoped semantic dedup
    # (kmeans assignment hot path) and Bloom-filter decontamination
    # (shingle + broadcast-probe hot path) — both had sf1-probe-caught
    # regressions this round; benching them keeps the fixes measured
    "d58_semdedup",
    "d59_bloom_decontamination",
    "s50_cosine_topk_bruteforce",
    "s54_ivf_topk",
    "t61_quality_scores",
    "t64_tfidf_top_terms",
    # round-11 flagships: the end-to-end pipeline composition (dedup →
    # Bloom → Gopher → pack → manifest; its cost is the decon+dedup
    # exchanges — at raw sf0.1 the output is legitimately empty, the
    # work is not), the eval-sized Bloom decontamination, and the
    # map-only PII scrub
    "t104_pipeline_compose",
    "d65_bloom_decontamination_sized",
    "t105_pii_redaction",
    # round-12 flagships: the production BPE encoder (frozen 256-merge
    # broadcast rank map in mapInPandas — the Python-batch tokenize hot
    # path) and the composed pipeline with the fuzzy MinHash tier (its
    # cost adds the banded-join + CC stages to t104's)
    "t106_bpe_encode_frozen",
    "t107_pipeline_compose_fuzzy",
    # round-13 flagship: tokenizer-unit packing on the FULL 256-merge
    # table (dedup → sized Bloom → Gopher → hex-enriched frozen-vocab
    # encode → 512-token packing) — the heaviest mapInPandas composition
    "t109_pipeline_compose_tokenized_full",
]


def _streaming_bench(spark, sf_dir: str) -> dict:
    """Streaming throughput visibility (one shot each, reported under a
    'streaming' key so round-over-round regressions are measurable):

    - stream_import_rows_per_sec: JSON-report lines/s through the full
      readStream → foreachBatch staging-transform → store log-append
      pipeline (availableNow drain of a deterministic 1k-report fixture).
    - st88_sec_per_batch: wall seconds per micro-batch of the streaming
      near-dup index pipeline (4 maxFilesPerTrigger=1 waves over the
      sf documents table: probe batch vs standing index + index append).
    """
    import shutil
    import tempfile

    from pymongraph_spark.ingest.streaming import stream_import
    from pymongraph_spark.queries import QUERIES

    base = tempfile.mkdtemp(prefix="sparkgraph_stream_bench_")
    inp = os.path.join(base, "in")
    os.makedirs(inp)
    n_reports = 1000
    with open(os.path.join(inp, "reports.jsonl"), "w") as fh:
        for i in range(n_reports):
            fh.write(
                json.dumps(
                    {
                        f"bench-{i}.example": {
                            "dns-resolutions": [
                                {
                                    "ipaddress": f"10.{i // 256 % 256}.{i % 256}.7",
                                    "domain": f"bench-{i}.example",
                                    "date": "2024-01-01",
                                }
                            ],
                            "detected-downloaded": [
                                {
                                    "hash": f"h-{i}",
                                    "datetime": "2024-01-02",
                                    "prob": f"{i % 60}/60",
                                }
                            ],
                            "asn": 65000 + i,
                        }
                    }
                )
                + "\n"
            )
    out: dict[str, float] = {}
    try:
        t0 = time.perf_counter()
        q = stream_import(
            spark,
            inp,
            os.path.join(base, "store"),
            os.path.join(base, "ckpt"),
            available_now=True,
        )
        q.awaitTermination()
        out["stream_import_rows_per_sec"] = round(
            n_reports / (time.perf_counter() - t0), 1
        )
        t0 = time.perf_counter()
        QUERIES["st88_streaming_neardup_index"](spark, sf_dir).count()
        out["st88_sec_per_batch"] = round((time.perf_counter() - t0) / 4, 3)
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 4)

    from pymongraph_spark.session import get_spark
    from pymongraph_spark.queries import QUERIES

    spark = get_spark(app_name="sparkgraph-bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the JVM/codegen once so per-query numbers measure the engine,
    # not session bootstrap.
    QUERIES["q01_pricing_summary"](spark, sf_dir).count()

    # Median of 5 runs per query: shared-host load and first-plan codegen
    # inject ±2× noise into single-shot numbers (BASELINE.md documents the
    # swing); the median is the honest central estimate, and the per-query
    # spread (max-min) is reported so regressions can be told from noise.
    # n=5 matches BASELINE.md's binding-record protocol (VERDICT r10 item
    # 8: the r10 driver artifact at n=3 and the baseline record at n=5
    # diverged 16.77 vs 17.76 with identical code — same n ends that).
    runs_per_query = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    # Adaptive re-run (VERDICT r7 item 5: BENCH_r07's g43 spread was 3×
    # its median under host load): when max-min ≥ median after the base
    # runs, take up to MAX_RUNS total samples so one loaded-host outlier
    # can't dominate the recorded spread. Cost: extra runs only for
    # queries that actually measured noisy.
    max_runs = max(runs_per_query, int(os.environ.get("SPARK_GRAFT_BENCH_MAX_RUNS", "7")))
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    still_noisy: list[str] = []
    for name in HEADLINE:
        # One UNCOUNTED warm-up execution per query: the first run pays
        # whole-stage codegen, Python-worker spin-up, and broadcast build
        # (measured 3-5× the steady-state sample on g30/m74/d40 — the
        # sole source of the r9 `still_noisy` flags: medians were stable,
        # the cold first sample blew the max-min spread). Steady-state
        # per-query cost is what the suite tracks round over round; the
        # cold-start cost is a per-SESSION constant, not per-query work.
        QUERIES[name](spark, sf_dir).count()
        samples, rows = [], 0
        for _ in range(runs_per_query):
            t0 = time.perf_counter()
            rows = QUERIES[name](spark, sf_dir).count()
            samples.append(time.perf_counter() - t0)
        while (
            len(samples) < max_runs
            and max(samples) - min(samples) >= sorted(samples)[len(samples) // 2]
        ):
            t0 = time.perf_counter()
            rows = QUERIES[name](spark, sf_dir).count()
            samples.append(time.perf_counter() - t0)
        samples.sort()
        timings[name] = round(samples[len(samples) // 2], 3)
        # Trim one sample per end ONLY when the adaptive loop actually
        # exited because the spread condition cleared — i.e. the extra
        # runs CONFIRMED the extremes as load outliers. A query that hit
        # max_runs with spread still ≥ median is genuinely noisy/bimodal:
        # it keeps its full range and is flagged, not quietly understated
        # (r8 ADVICE: the old len>=5 check trimmed both cases alike).
        full_range = samples[-1] - samples[0]
        converged = full_range < samples[len(samples) // 2]
        if len(samples) >= 5 and converged:
            spreads[name] = round(samples[-2] - samples[1], 3)
        else:
            spreads[name] = round(full_range, 3)
            if not converged:
                still_noisy.append(name)
        print(
            f"# {name}: median {timings[name]:.3f}s "
            f"spread {spreads[name]:.3f}s ({rows} rows)"
            + (" [still-noisy]" if name in still_noisy else ""),
            file=sys.stderr,
        )

    try:
        streaming = _streaming_bench(spark, sf_dir)
    except Exception as exc:  # noqa: BLE001 — never lose the batch timings
        streaming = {"error": f"{type(exc).__name__}: {exc}"[:300]}
    print(f"# streaming: {streaming}", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    line = json.dumps(
        {
            "metric": "headline_queries_total_time",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "spread": spreads,
            "still_noisy": still_noisy,
            "runs_per_query": runs_per_query,
            "streaming": streaming,
            "sf": float(sf) if sf.replace(".", "", 1).isdigit() else sf,
        }
    )
    print(line)
    # Also persist the line next to the repo (VERDICT r14 item 6): the
    # driver's stdout tail-capture truncated BENCH_r13's record mid-token
    # and silently nulled that round's entire perf comparison. The stdout
    # contract above is unchanged; this file is additions-only insurance
    # a later consumer can diff without tail parsing.
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_LAST.json"), "w") as fh:
            fh.write(line + "\n")
    except OSError:
        pass  # read-only checkout — the printed line remains the contract


if __name__ == "__main__":
    main()
