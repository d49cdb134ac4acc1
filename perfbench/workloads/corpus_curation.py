"""corpus_curation: the LLM-data pipeline over generated docs.

A timed pass reads the docs from parquet and runs, each step
materialised: ``dedup_keep_first``; ``minhash_lsh_pairs_neutral`` (64
hashes, 16 bands, threshold 0.5); ``connected_components`` on the pair
graph, keeping the minimum id of each cluster; ``semdedup`` on the
embeddings; Bloom decontamination against the 10% eval split
(``shingled_grams``, ``bloom_m_bits_for``, ``bloom_decontaminate``); a
``quality_score`` filter; ``bpe_encode_doc_stats`` with the frozen merge
table; and ``write_shards`` with its on-disk manifest.

The check (checks.check_corpus) needs every planted exact copy and
near-dup dropped, every planted contaminated doc flagged, and the shards
to hold exactly the docs the pipeline's decisions keep.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from perfbench import checks, gen
from perfbench.stats import median

DOCS = 6000
WARMUP_DOCS = 300
QUALITY_MIN = 0.5
#: l2² on semdedup's 1e6 integer grid: unit vectors within l2² 0.1
#: (cosine >= 0.95); planted semantic duplicates sit near 0.03
SEMDEDUP_L2SQ = 100_000_000_000
STEPS = ("dedup_keep_first", "minhash_lsh_pairs_neutral", "connected_components", "semdedup",
         "shingled_grams", "bloom_decontaminate", "quality_score", "bpe_encode_doc_stats",
         "write_shards")


def _write_inputs(c: gen.Corpus, folder: str) -> None:
    os.makedirs(folder, exist_ok=True)
    pq.write_table(pa.table({"doc_id": pa.array([d for d, _ in c.docs], pa.int64()),
                             "text": [t for _, t in c.docs]}),
                   os.path.join(folder, "docs.parquet"))
    pq.write_table(pa.table({"doc_id": pa.array([d for d, _ in c.eval_docs], pa.int64()),
                             "text": [t for _, t in c.eval_docs]}),
                   os.path.join(folder, "eval.parquet"))
    emb = pa.FixedSizeListArray.from_arrays(pa.array(c.embeddings.ravel(), pa.float32()),
                                            gen.EMB_DIM)
    pq.write_table(pa.table({"vec_id": pa.array(np.arange(len(c.docs)), pa.int64()),
                             "embedding": emb.cast(pa.list_(pa.float32()))}),
                   os.path.join(folder, "emb.parquet"))


class CorpusCuration:
    name = "corpus_curation"

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.attempted = self.failed = 0
        self.passes = 0
        self.step = lambda name, fn: fn()   # the traced run times each step

    def generate(self) -> None:
        self.corpus = gen.corpus(self.seed, DOCS)
        self.warm = gen.corpus(self.seed + 1_000_003, WARMUP_DOCS)

    def setup(self) -> None:
        self.inputs = os.path.join(self.work, "corpus")
        _write_inputs(self.corpus, self.inputs)
        self.input_bytes = os.path.getsize(os.path.join(self.inputs, "docs.parquet"))
        warm = os.path.join(self.work, "warm")
        _write_inputs(self.warm, warm)
        self._pass(warm, "warm", len(self.warm.docs))

    def _pass(self, folder: str, tag: str, n_docs: int) -> dict:
        from pymongraph_spark.functions import text
        from pymongraph_spark.functions.bpe_frozen import FROZEN_MERGES_R12
        from pymongraph_spark.operators import dedup, graph_algos, sink

        spark, step = self.spark, self.step
        t0 = time.perf_counter()
        docs = spark.read.parquet(os.path.join(folder, "docs.parquet"))
        dd = step("operators.dedup.dedup_keep_first",
                  lambda: dedup.dedup_keep_first(docs).localCheckpoint(eager=True))
        pairs = dedup.minhash_lsh_pairs_neutral(dd, num_hashes=64, bands=16, threshold=0.5)
        comp = graph_algos.connected_components(
            dd.select(F.col("doc_id").alias("id")),
            pairs.select(F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst")),
        ).localCheckpoint(eager=True)
        keep = comp.filter(F.col("id") == F.col("component")).select(F.col("id").alias("doc_id"))
        emb = spark.read.parquet(os.path.join(folder, "emb.parquet"))
        sem = dedup.semdedup(emb, k_clusters=max(16, n_docs // 125), iters=2,
                             threshold_l2sq=SEMDEDUP_L2SQ).localCheckpoint(eager=True)
        removed = sem.filter(F.col("removed") == 1)
        surv = (dd.join(keep, "doc_id", "left_semi")
                .join(removed.select(F.col("vec_id").alias("doc_id")), "doc_id", "left_anti")
                .localCheckpoint(eager=True))
        train_grams = dedup.shingled_grams(surv, n=gen.DECONTAM_N).localCheckpoint(eager=True)
        eval_grams = dedup.shingled_grams(
            spark.read.parquet(os.path.join(folder, "eval.parquet")), n=gen.DECONTAM_N
        ).localCheckpoint(eager=True)
        m_bits = dedup.bloom_m_bits_for(eval_grams.count())
        flags = dedup.bloom_decontaminate(train_grams, eval_grams,
                                          m_bits=m_bits).localCheckpoint(eager=True)
        flagged = flags.filter(F.col("bloom_flagged") == 1).select("doc_id")
        good = step("functions.text.quality_score", lambda: (
            surv.join(flagged, "doc_id", "left_anti")
            .filter(text.quality_score("text") >= QUALITY_MIN)
            .localCheckpoint(eager=True)))
        stats = text.bpe_encode_doc_stats(
            good.select("doc_id", F.lower("text").alias("text")), FROZEN_MERGES_R12
        ).localCheckpoint(eager=True)
        out = os.path.join(self.work, f"shards-{tag}")
        manifest = sink.write_shards(good.join(stats, "doc_id"), out).collect()
        wall = time.perf_counter() - t0
        return {"wall_s": wall, "docs": n_docs, "keep": keep, "flags": flags, "sem": sem,
                "pairs": pairs, "stats": stats, "manifest": manifest, "out": out}

    def run(self, seconds: float) -> dict:
        t0 = time.perf_counter()
        passes = []
        while not passes or time.perf_counter() - t0 < seconds:
            self.passes += 1
            passes.append(self._pass(self.inputs, f"p{self.passes}", DOCS))
            self.attempted += len(STEPS)
        self.last = passes[-1]
        return {"wall_s": time.perf_counter() - t0, "passes": [p["wall_s"] for p in passes]}

    def check(self) -> list[str]:
        p = self.last
        survivors = {r[0] for r in p["keep"].collect()}
        flagged = {r[0] for r in p["flags"].filter("bloom_flagged = 1").select("doc_id").collect()}
        sem = {r[0]: r[1] for r in p["sem"].filter("removed = 1").select("vec_id", "dup_of")
               .collect()}
        final = {r[0] for r in self.spark.read.parquet(p["out"]).select("doc_id").collect()}
        manifest_docs = sum(r["n_docs"] for r in p["manifest"])
        self.counts = {
            "flagged": len(flagged),
            "false_positives": len(flagged - self.corpus.contaminated),
            "sem_removed": len(sem),
            "pairs": p["pairs"].count(),
            "tokens": p["stats"].agg(F.sum("n_bpe_tokens")).first()[0],
            "shard_bytes": sum(os.path.getsize(os.path.join(r, f))
                               for r, _, fs in os.walk(p["out"]) for f in fs
                               if f.endswith(".parquet")),
        }
        return checks.check_corpus(self.corpus, survivors, flagged, sem, manifest_docs, final)

    # ----------------------------------------------------------- metrics
    @staticmethod
    def work_units(m: dict) -> float:
        return len(m["passes"]) * DOCS

    def end_to_end(self, m: dict) -> tuple[dict, dict]:
        e2e = {
            "throughput_per_s": (DOCS * len(m["passes"]) / sum(m["passes"]), "items/s"),
            "op_p50_ms": (median(m["passes"]) * 1000.0, "ms"),
        }
        issue = {
            "corpus_docs_per_s": DOCS * len(m["passes"]) / sum(m["passes"]),
            "docs": DOCS,
            "passes": len(m["passes"]),
            **getattr(self, "counts", {}),
        }
        return e2e, issue

    def per_layer(self, tracer, jobs) -> dict:
        from perfbench import tracing

        c = self.counts
        out = {}
        for name in ("operators.dedup.dedup_keep_first", "operators.dedup.minhash_lsh_pairs_neutral",
                     "operators.graph_algos.connected_components", "operators.dedup.semdedup",
                     "operators.dedup.shingled_grams", "operators.dedup.bloom_decontaminate",
                     "functions.text.quality_score", "functions.text.bpe_encode_doc_stats",
                     "operators.sink.write_shards"):
            out[f"{name}.ms"] = tracing.total_ms(tracer, name)
        out.update({
            "operators.dedup.minhash_lsh_pairs_neutral.pairs": c["pairs"],
            "operators.dedup.semdedup.removed": c["sem_removed"],
            "functions.text.bpe_encode_doc_stats.tokens": c["tokens"],
            "operators.dedup.bloom_decontaminate.flagged": c["flagged"],
            "operators.dedup.bloom_decontaminate.false_positive_ratio":
                c["false_positives"] / max(1, c["flagged"]),
            "operators.sink.write_shards.bytes_per_input_byte": c["shard_bytes"] / self.input_bytes,
            "operators.sink.write_shards.input_bytes": self.input_bytes,
        })
        return out

    def trace_hooks(self, tracer) -> None:
        def step(name, fn):
            if not tracer.enabled:
                return fn()
            with tracer.span(name):
                return fn()

        self.step = step

    @staticmethod
    def trace_targets():
        from pymongraph_spark.functions import text
        from pymongraph_spark.operators import dedup, graph_algos, sink

        return [
            (dedup, "minhash_lsh_pairs_neutral", "operators.dedup.minhash_lsh_pairs_neutral", False),
            (graph_algos, "connected_components", "operators.graph_algos.connected_components", True),
            (dedup, "semdedup", "operators.dedup.semdedup", True),
            (dedup, "shingled_grams", "operators.dedup.shingled_grams", True),
            (dedup, "bloom_decontaminate", "operators.dedup.bloom_decontaminate", True),
            (text, "bpe_encode_doc_stats", "functions.text.bpe_encode_doc_stats", True),
            (sink, "write_shards", "operators.sink.write_shards", True),
        ]
