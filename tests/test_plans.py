"""Physical-plan hygiene audits (the .explain discipline, SURVEY.md §4):
these tests pin the properties that make the engine scale — predicate
pushdown reaching the parquet scan, column pruning in ReadSchema, small
dims broadcast, no cartesian products, whole-stage codegen present —
so a regression in plan shape fails CI even while results stay correct.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pymongraph_spark.catalog import load_tables
from pymongraph_spark.queries import QUERIES

from tests.conftest import SF_SMALL


import contextlib
import io


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _plan_all(query_name, spark, sf_dir=SF_SMALL) -> str:
    """Every plan segment of a registry query, concatenated: the final
    frame PLUS each pre-localCheckpoint frame. Queries that checkpoint
    return a lineage-truncated LogicalRDD scan, so asserting on _plan
    alone would be vacuous for anything upstream of the checkpoint
    (ADVICE r5 #1) — lint-sensitive tests for checkpointed queries go
    through this instead."""
    from pymongraph_spark.audit import all_plan_segments, capture_checkpoint_inputs

    with capture_checkpoint_inputs() as captured:
        df = QUERIES[query_name](spark, sf_dir)
    return "\n###SEGMENT###\n".join(all_plan_segments(df, captured))


def _formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q01_filter_pushed_to_scan(spark):
    df = QUERIES["q01_pricing_summary"](spark, SF_SMALL)
    plan = _formatted(df)
    assert "PushedFilters" in plan
    # the shipdate predicate reaches the parquet reader
    assert "l_shipdate" in plan.split("PushedFilters")[1][:200]


def test_q01_column_pruning(spark):
    df = QUERIES["q01_pricing_summary"](spark, SF_SMALL)
    plan = _formatted(df)
    # ReadSchema must NOT include unused columns like l_comment-ish ones;
    # our lineitem has 11 columns, the query needs 7
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" not in read_schema
    assert "l_partkey" not in read_schema
    assert "l_quantity" in read_schema


def test_q05_broadcasts_small_dims(spark):
    df = QUERIES["q05_local_supplier_volume"](spark, SF_SMALL)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_q05_region_restriction_before_fact_joins(spark):
    """The ASIA restriction must reach customer AND supplier as broadcast
    semi-joins below the fact joins (Catalyst won't reorder this without
    CBO stats), so non-ASIA rows never enter the lineitem shuffle."""
    df = QUERIES["q05_local_supplier_volume"](spark, SF_SMALL)
    plan = _plan(df)
    assert plan.count("LeftSemi") >= 2
    # each semi-join keys on the nation key — the pruning predicate
    semi_sections = plan.split("LeftSemi")
    assert any("c_nationkey" in s[-400:] for s in semi_sections[:-1])
    assert any("s_nationkey" in s[-400:] for s in semi_sections[:-1])


def test_q03_no_cartesian_and_codegen(spark):
    # codegen spans only appear in the FINAL adaptive plan — run the query
    # first, then read the post-execution plan
    df = QUERIES["q03_shipping_priority"](spark, SF_SMALL)
    df.collect()
    plan = _plan(df)
    assert "isFinalPlan=true" in plan
    assert "CartesianProduct" not in plan
    # '*(n)' operator prefixes mark whole-stage-codegen'd spans
    assert "*(" in plan


def test_point_filter_pushdown_on_edges_scan(spark):
    # the k-hop fast path predicate (src=… OR dst=…) must reach the scan
    t = load_tables(spark, SF_SMALL)
    df = t["lineitem"].filter((F.col("l_orderkey") == 4) | (F.col("l_suppkey") == 4))
    plan = _formatted(df)
    assert "PushedFilters" in plan
    assert "Or" in plan.split("PushedFilters")[1][:250]


def test_scalar_subquery_is_broadcast_not_cartesian(spark):
    df = QUERIES["q19_orders_above_avg"](spark, SF_SMALL)
    plan = _plan(df)
    # the 1-row aggregate joins via broadcast nested loop, never a
    # shuffled cartesian
    assert "CartesianProduct" not in plan


def test_semi_anti_joins_stay_hash_joins(spark):
    for name in ["q16_customers_without_orders", "q17_customers_with_urgent_orders"]:
        plan = _plan(QUERIES[name](spark, SF_SMALL))
        assert "Join LeftAnti" in plan or "Join LeftSemi" in plan or "HashJoin" in plan, name
        assert "CartesianProduct" not in plan, name


def test_aggregate_has_partial_and_final(spark):
    # map-side partial aggregation before the shuffle (2-phase hash agg)
    df = QUERIES["q01_pricing_summary"](spark, SF_SMALL)
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 2


def test_s50_corpus_side_never_shuffles_before_scoring(spark):
    df = QUERIES["s50_cosine_topk_bruteforce"](spark, SF_SMALL)
    plan = _plan(df)
    # queries broadcast: scoring join must be broadcast, not sort-merge
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_q47_dims_broadcast_no_cartesian(spark):
    """Q9 shape: filtered part and supplier are broadcast; the only
    shuffle join is lineitem⋈orders on orderkey."""
    df = QUERIES["q47_profit_by_nation_year"](spark, SF_SMALL)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q46_min_cost_uses_pushdown_and_hash_joins(spark):
    """Q2 shape: p_size predicate reaches the part scan; the min-cost
    equality join back stays a hash join."""
    df = QUERIES["q46_min_cost_supplier"](spark, SF_SMALL)
    fmt = _formatted(df)
    assert "PushedFilters" in fmt and "p_size" in fmt
    assert "CartesianProduct" not in _plan(df)


def test_q50_sessionization_single_window_exchange(spark):
    """Sessionization shuffles once on user_id; the lag and cumsum windows
    reuse the same partitioning rather than re-exchanging."""
    df = QUERIES["q50_batch_sessionization"](spark, SF_SMALL)
    plan = _plan(df)
    # exchanges: one hashpartitioning(user_id) for the windows + the final
    # agg's partial/final pair may reuse it; what we pin is that adding the
    # second window fn did NOT add a second user_id exchange
    assert plan.count("hashpartitioning(user_id") <= 2
    assert "CartesianProduct" not in plan


def test_triangle_wedge_join_no_cartesian(spark):
    """Triangle counting: wedge join + closing-edge semi-join must all be
    equi hash joins, never nested-loop."""
    df = QUERIES["g43_triangle_counts"](spark, SF_SMALL)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_t66_packing_windows_partition_by_shard(spark):
    """Sequence packing must window per lang shard (parallel), not over a
    single global partition."""
    df = QUERIES["t66_sequence_packing"](spark, SF_SMALL)
    plan = _plan(df)
    assert "hashpartitioning(lang" in plan
    # a global (empty-partition-spec) window would show SinglePartition
    assert "SinglePartition" not in plan


def test_ivf_assign_partial_aggregate_no_window_sort(spark):
    """ivf_assign must be broadcast scoring + combinable max_by: partial
    HashAggregate before the exchange, no window sort of n×C rows."""
    from pymongraph_spark.catalog import load_tables
    from pymongraph_spark.operators.similarity import ivf_assign

    emb = load_tables(spark, SF_SMALL)["embeddings"]
    df = ivf_assign(emb, emb.filter(F.col("vec_id") < 16))
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "Window" not in plan
    # partial + final aggregation (SortAggregate: max_by carries the
    # array-typed vector, which hash-agg buffers don't support — the
    # map-side partial still collapses n×C rows to n before the exchange)
    assert plan.count("Aggregate(") >= 2


def test_q57_spine_broadcast_single_shuffle(spark):
    """Gap-fill: the hourly spine and type dim broadcast; the only
    exchange is the event aggregation."""
    df = QUERIES["q57_dense_hourly_gapfill"](spark, SF_SMALL)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_cc_edge_frame_single_exchange(spark):
    """Connected components: the undirected message graph must reach its
    cache with exactly ONE Exchange (repartition-by-dst absorbs the dedup
    clustering), so the fixpoint loop never re-shuffles the edge side."""
    from pymongraph_spark.operators.graph_algos import message_frame
    from pymongraph_spark.queries.graph import tpch_graph

    g = tpch_graph(spark, SF_SMALL)
    und = message_frame(g.edges.filter(F.col("label") == "placed"))
    assert _plan(und).count("Exchange") == 1


def test_cc_adjacency_message_frame_zero_exchange(spark):
    """The adjacency-routed CC variant (g37's fast path) must build its
    message frame with ZERO exchanges: the bucketed adjacency table is
    already both orientations of every edge, so the frame is a plain
    bucketed scan + projection — no union re-shuffle, no dedup, ever."""
    from pymongraph_spark.operators.graph_algos import adjacency_message_frame
    from pymongraph_spark.queries.graph import tpch_adjacency

    adjacency = tpch_adjacency(spark, SF_SMALL)
    if adjacency is None:
        pytest.skip("bucketed layout unavailable")
    und = adjacency_message_frame(adjacency, label="placed")
    assert _plan(und).count("Exchange") == 0


def test_t70_sampling_broadcasts_rates_no_corpus_shuffle(spark):
    """Stratified sampling: the per-stratum rate table joins the corpus
    as a broadcast; the documents scan must never hit a shuffle exchange
    before the final 1-row-per-lang aggregate."""
    plan = _plan(QUERIES["t70_stratified_sample"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_t71_corpus_selection_cluster_join_strategy_free(spark):
    """Corpus selection: the cluster-frame join must NOT carry a forced
    broadcast hint (cluster membership is unbounded at corpus scale —
    ADVICE r4; AQE picks broadcast vs SMJ from runtime sizes), and no
    cartesian product may appear anywhere in the composite plan."""
    q = QUERIES["t71_corpus_selection"](spark, SF_SMALL)
    assert "ResolvedHint" not in q._jdf.queryExecution().analyzed().toString()
    plan = _plan(q)
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )
    assert "CartesianProduct" not in plan


def test_d49_cluster_output_no_cartesian(spark):
    # d49 checkpoints its pair frame — lint every segment, not the
    # truncated final scan
    plan = _plan_all("d49_neardup_clusters", spark)
    assert "CartesianProduct" not in plan


def test_q62_partition_filter_prunes_at_listing_time(spark):
    """The read-back scan must carry the event_type predicate as a
    PartitionFilter (directory pruning), not a post-scan filter over all
    partitions' files."""
    df = QUERIES["q62_partitioned_sink_roundtrip"](spark, SF_SMALL)
    plan = _plan(df)
    assert "PartitionFilters" in plan
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1), plan[:2000]


def test_d52_decontamination_no_cartesian_single_gram_join(spark):
    """Decontamination must be one equi-join on the gram — never a
    corpus × corpus comparison."""
    plan = _plan(QUERIES["d52_decontamination"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_s58_hard_negatives_queries_broadcast(spark):
    """The ≤8-row query side must broadcast; the corpus never shuffles
    before scoring (same contract as s50)."""
    plan = _plan(QUERIES["s58_hard_negatives"](spark, SF_SMALL))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_t79_feature_hashing_single_exchange_partial_agg(spark):
    """The vectorizer is one partial-aggregated groupBy: exactly one
    Exchange, with map-side HashAggregate before it."""
    plan = _plan(QUERIES["t79_feature_hashing"](spark, SF_SMALL))
    assert plan.count("Exchange") == 1
    assert plan.count("HashAggregate") >= 2


def test_write_shards_layout_matches_manifest_and_prunes(spark, tmp_path):
    """The sharded writer's on-disk layout must agree with t72's planned
    manifest, survive append-stable re-landing, and prune to one
    directory when a loader reads a single shard."""
    from pymongraph_spark.operators.sink import write_shards

    docs = load_tables(spark, SF_SMALL)["documents"]
    out = str(tmp_path / "shards")
    manifest = {
        r["shard_id"]: r["n_docs"]
        for r in write_shards(docs, out, n_shards=8).collect()
    }
    planned = {
        r["shard_id"]: r["n_docs"]
        for r in QUERIES["t72_shard_manifest"](spark, SF_SMALL).collect()
    }
    assert manifest == planned
    # single-shard read prunes at listing time
    one = spark.read.parquet(out).filter(F.col("shard_id") == 3)
    plan = _plan(one)
    assert "PartitionFilters" in plan and "shard_id" in plan
    assert one.count() == planned.get(3, 0)


def test_write_shards_append_grows_in_place(spark, tmp_path):
    """mode='append' must ADD to existing shard dirs, never truncate:
    total manifest counts equal the sum of both batches."""
    from pymongraph_spark.operators.sink import write_shards

    docs = load_tables(spark, SF_SMALL)["documents"].select("doc_id", "text")
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)
    out = str(tmp_path / "shards_inc")
    m1 = {r["shard_id"]: r["n_docs"] for r in write_shards(b1, out).collect()}
    m2 = {
        r["shard_id"]: r["n_docs"]
        for r in write_shards(b2, out, mode="append").collect()
    }
    assert sum(m2.values()) == docs.count()
    assert all(m2[s] >= n for s, n in m1.items())  # batch-1 rows survived


def test_t84_cutoff_broadcast_no_wide_shuffle(spark):
    """Per-lang percentile cutoffs join the corpus as a broadcast (the
    cutoff table is |langs| rows); the corpus must never sort-merge."""
    plan = _plan(QUERIES["t84_quality_percentile_filter"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_t83_prune_legs_broadcast_and_no_cartesian(spark):
    """Domain-capped sampling: the per-source limit and fallback frames
    join as broadcasts; nothing in the two-leg plan goes cartesian."""
    plan = _plan_all("t83_domain_capped_sample", spark)  # checkpointed
    assert "CartesianProduct" not in plan


def test_g51_wedge_join_no_cartesian_degrees_broadcast(spark):
    """Bipartite jaccard: the wedge self-join is an equi-join on the
    shared order key (never cartesian) and both degree tables broadcast."""
    plan = _plan(QUERIES["g51_part_jaccard_pairs"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_q67_pivot_explicit_values_single_scan_shape(spark):
    """PIVOT with an explicit value list: no distinct-discovery job in the
    plan (no extra aggregate over l_linestatus alone) and no cartesian."""
    df = QUERIES["q67_pivot_revenue_by_status"](spark, SF_SMALL)
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    assert sorted(df.columns) == [
        "l_returnflag", "n_items", "status_f_revenue", "status_o_revenue",
    ]


def test_q68_exists_decorrelated_to_semi_anti(spark):
    """Q21 shape: Catalyst must decorrelate EXISTS into a left-semi and
    NOT EXISTS into a left-anti equi-join on l_orderkey — never per-row
    subquery re-execution or a cartesian."""
    plan = _plan(QUERIES["q68_exclusive_late_supplier"](spark, SF_SMALL))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_q69_nested_in_stays_semi_join_with_broadcasts(spark):
    """Q20 shape: both IN lists become semi joins; the hot-part and
    supplier-key lists broadcast; the scalar max is a 1-row broadcast."""
    plan = _plan(QUERIES["q69_hot_part_suppliers"](spark, SF_SMALL))
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_d53_containment_no_cartesian(spark):
    """Containment pairs: prefix × full inverted-index join is an
    equi-join on (shingle, lang); verification joins are equi too."""
    plan = _plan_all("d53_containment_pairs", spark)  # checkpointed
    assert "CartesianProduct" not in plan


def test_spread_if_narrow_noop_when_wide(spark):
    """_spread_if_narrow must be a no-op (no added Exchange) when the
    input already has >= defaultParallelism partitions — the guard that
    keeps it from full-shuffling a real corpus."""
    from pymongraph_spark.operators.similarity import _spread_if_narrow

    target = spark.sparkContext.defaultParallelism
    emb = load_tables(spark, SF_SMALL)["embeddings"].repartition(target + 4)
    out = _spread_if_narrow(emb)
    assert out.rdd.getNumPartitions() == target + 4  # untouched
    narrow = load_tables(spark, SF_SMALL)["embeddings"].coalesce(1)
    assert _spread_if_narrow(narrow).rdd.getNumPartitions() == target


def test_q76_hll_two_phase_aggregation(spark):
    """HLL registers must build with map-side partial aggregation (the
    sketch's whole point: registers combine associatively)."""
    plan = _plan(QUERIES["q76_hll_neutral"](spark, SF_SMALL))
    assert plan.count("HashAggregate") >= 2
    assert "CartesianProduct" not in plan


def test_q78_bitmap_broadcasts_to_probe(spark):
    """The bloom bitmap (32 words) must broadcast; the probe side never
    shuffles toward it."""
    plan = _plan(QUERIES["q78_bloom_filter_accounting"](spark, SF_SMALL))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_t89_model_join_no_cartesian(spark):
    """Bigram scoring: both model joins are equi-joins on the bigram
    keys; nothing goes nested-loop."""
    plan = _plan(QUERIES["t89_bigram_lm_score"](spark, SF_SMALL))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q87_cohort_sizes_broadcast_no_window(spark):
    # the calendar-bounded cohort-size frame joins via broadcast; the
    # retention rollup is pure partial aggregation — no window sort and
    # no cartesian anywhere.
    df = QUERIES["q87_cohort_retention"](spark, SF_SMALL)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan
    assert "Window" not in plan
    assert "Cartesian" not in plan


def test_plan_audit_sees_through_checkpoints(spark):
    """The capture mechanism itself: a cross join hidden behind
    localCheckpoint is invisible in the final frame's plan (the ADVICE
    r5 blindness) but MUST appear in the captured segment."""
    from pymongraph_spark.audit import all_plan_segments, capture_checkpoint_inputs

    a, b = spark.range(3), spark.range(3).withColumnRenamed("id", "id2")
    with capture_checkpoint_inputs() as captured:
        hidden = a.crossJoin(b).localCheckpoint(eager=True).select("id")
    assert len(captured) == 1
    final = _plan(hidden)
    assert "Cartesian" not in final and "NestedLoop" not in final  # blind
    segs = "\n".join(all_plan_segments(hidden, captured))
    assert "Cartesian" in segs or "NestedLoop" in segs  # capture sees it


def test_registry_plan_lint(spark):
    # registry-wide sweep: no CartesianProduct, no row-at-a-time Python
    # eval outside the inline allowlist (scripts/plan_lint.py).
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "plan_lint",
        os.path.join(os.path.dirname(__file__), "..", "scripts", "plan_lint.py"),
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.lint(SF_SMALL) == 0


def test_q88_zorder_clusters_both_dimensions(spark):
    # the point of the z-order layout: within-bucket min/max spans are a
    # strict fraction of the global span for BOTH dims simultaneously —
    # a straight sort on either single key leaves the other at ~1.0.
    pdf = QUERIES["q88_zorder_layout"](spark, SF_SMALL).toPandas()
    gu = pdf.max_user.max() - pdf.min_user.min()
    gd = pdf.max_day.max() - pdf.min_day.min()
    assert (pdf.max_user - pdf.min_user).mean() / gu < 0.7
    assert (pdf.max_day - pdf.min_day).mean() / gd < 0.5
    plan = _plan(QUERIES["q88_zorder_layout"](spark, SF_SMALL))
    assert "Window" not in plan and "Cartesian" not in plan


def test_shingled_grams_single_construction(spark):
    """InferFiltersFromGenerate pin: exploding a shingle array aliased in
    its own Project lets Spark push an inferred size()>0 filter through
    it with the WHOLE construction re-inlined (tokenization re-evaluated
    per shingle index — measured 14× on d59's shape at sf1). The fused
    shingled_grams must keep exactly ONE array_distinct in its optimized
    plan, and it must agree row-for-row with the late-explode form."""
    from pymongraph_spark.operators.dedup import shingled, shingled_grams

    docs = load_tables(spark, SF_SMALL)["documents"]
    fused = shingled_grams(docs, n=3)
    plan = fused._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("array_distinct") == 1, plan
    late = shingled(docs, n=3).select("doc_id", F.explode("shingles").alias("gram"))
    assert sorted(map(tuple, fused.collect())) == sorted(map(tuple, late.collect()))


def test_bloom_with_exact_leaves_eval_join_to_planner(spark):
    """bloom_decontaminate(with_exact=True) must not force-broadcast the
    distinct eval-gram set: a hint hard-fails once that set outgrows the
    broadcast cap. With auto-broadcast off, the only BroadcastHashJoins
    left are the n_hashes bounded lookups into the filter words."""
    from pymongraph_spark.operators.dedup import bloom_decontaminate, shingled_grams

    grams = shingled_grams(load_tables(spark, SF_SMALL)["documents"], n=8)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        out = bloom_decontaminate(
            grams.filter("doc_id % 10 != 0"),
            grams.filter("doc_id % 10 = 0"),
            n_hashes=3,
            with_exact=True,
        )
        assert _plan(out).count("BroadcastHashJoin") == 3
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_t103_replace_chain_evaluated_once(spark):
    """VERDICT r10 blemish 2: t103's 12-deep nested replace chain must be
    evaluated once per row STRUCTURALLY (hoisted through one aliased
    column), not by codegen CSE grace. The optimized plan must contain
    the chain's innermost regexp_replace exactly once — CollapseProject
    duplicating the alias into both size() and substring() would show it
    twice."""
    df = QUERIES["t103_bpe_encode_lengths"](spark, SF_SMALL)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("regexp_replace") == 1, plan
