"""Stage-level wall breakdown of t107 (guide §1: measure first).

Replays t107_pipeline_compose_fuzzy's construction step by step, timing
every eager action (the localCheckpoints / counts the query performs) and
the final count, so the 8.9s bench median can be attributed to stages.
"""

from __future__ import annotations

import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    from pymongraph_spark.catalog import load_tables
    from pymongraph_spark.operators.dedup import (
        dedup_keep_first,
        minhash_lsh_pairs_neutral,
    )
    from pymongraph_spark.operators.graph_algos import connected_components, endpoint_ids
    from pymongraph_spark.queries import QUERIES
    from pymongraph_spark.queries.llm import _T107_PLANT_MOD, _T107_TAIL, _compose_tail
    from pymongraph_spark.session import get_spark

    spark = get_spark(app_name="profile-t107")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext

    # warm-up: full query once
    QUERIES["t107_pipeline_compose_fuzzy"](spark, sf_dir).count()

    t_all0 = time.perf_counter()
    marks = [("start", t_all0)]

    def mark(name):
        marks.append((name, time.perf_counter()))

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    sc.setJobDescription("t107: max_id agg")
    max_id = docs.agg(F.max("doc_id")).first()[0] or 0
    assert max_id < 1_000_000
    mark("max_id agg")

    planted = docs.filter(F.col("doc_id") % _T107_PLANT_MOD == 3).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(_T107_TAIL)).alias("text"),
    )
    full = docs.unionByName(planted)
    sc.setJobDescription("t107: surv checkpoint")
    surv = dedup_keep_first(full).localCheckpoint(eager=True)
    mark("surv checkpoint")

    sc.setJobDescription("t107: minhash pairs")
    pairs = (
        minhash_lsh_pairs_neutral(surv, n=3, num_hashes=64, bands=16, threshold=0.5)
        .select("doc_id_a", "doc_id_b")
        .localCheckpoint(eager=True)
    )
    mark("minhash pairs (checkpointed)")

    verts = endpoint_ids(pairs, "doc_id_a", "doc_id_b").distinct()
    edges = pairs.select(F.col("doc_id_a").alias("src"), F.col("doc_id_b").alias("dst"))
    sc.setJobDescription("t107: connected components")
    noncanon = (
        connected_components(verts, edges, max_iter=200)
        .filter(F.col("component") != F.col("id"))
        .select(F.col("id").alias("doc_id"))
        .localCheckpoint(eager=True)
    )
    mark("connected components (checkpointed)")
    n_dropped = noncanon.count()
    mark("noncanon count")

    fuzzy = surv.join(noncanon, "doc_id", "left_anti")
    sc.setJobDescription("t107: compose tail build (ev checkpoint + count inside)")
    out = _compose_tail(fuzzy).withColumn(
        "n_neardup_dropped", F.lit(n_dropped).cast("bigint")
    )
    mark("compose tail construction (ev ckpt/count + bloom words)")
    sc.setJobDescription("t107: final count")
    out.count()
    mark("final count")
    sc.setJobDescription(None)

    prev = t_all0
    for name, t in marks[1:]:
        print(f"{name:55s} {t - prev:7.3f}s")
        prev = t
    print(f"{'TOTAL':55s} {prev - t_all0:7.3f}s")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
