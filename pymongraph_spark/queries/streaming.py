"""Structured Streaming surface (SURVEY.md §2.11): event-time windowed
aggregation with watermark, run to completion with availableNow so the
result is deterministic and oracle-checkable (a bounded replay of the
events table is semantically a batch query over tumbling windows).
"""

from __future__ import annotations

import os
from pymongraph_spark.catalog import scratch_dir
from pymongraph_spark.streaming.staging import _data_files, stamp_monotone_mtimes
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pymongraph_spark.compat import MICRO_SUM, SUM_D, dsum
from pymongraph_spark.queries.registry import query


def _stream_dir(sf_dir: str, name: str) -> str:
    """File-source streams need a DIRECTORY; stage the single parquet file
    into a per-(sf_dir, table) temp dir via symlink (no data copy)."""
    d = scratch_dir(f"stream_{name}", sf_dir)
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, f"{name}.parquet")
    if not os.path.exists(link):
        os.symlink(f"{sf_dir}/{name}.parquet", link)
    return d


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming source over events with the same dtype-adaptive ts
    normalization as the batch catalog (catalog.table): nanos-long →
    µs timestamp, TIMESTAMP_NTZ → TIMESTAMP (instant-preserving under
    the UTC session timezone), µs TIMESTAMP passthrough."""
    from pyspark.sql import types as T

    from pymongraph_spark.streaming.staging import warn_same_mtime

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw_schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    src = _stream_dir(sf_dir, "events")
    # single staged file today, but every watermarked query downstream of
    # this source depends on mtime-monotone arrival — detect ties loudly
    # the moment the staging ever grows multi-file (SCALE.md round-9: a
    # same-mtime tie late-dropped 81% of st86's pairs on the probe)
    warn_same_mtime(src, context="_events_stream")
    stream = spark.readStream.schema(raw_schema).parquet(src)
    ts_type = raw_schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if isinstance(ts_type, T.TimestampNTZType):
        return stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def _run_to_memory(frame: DataFrame, prefix: str, output_mode: str) -> DataFrame:
    """Drain a streaming frame through an availableNow memory sink and
    return the sink table — the one start-and-drain sequence every batch-
    checkable streaming query shares (uuid'd sink name so concurrent
    queries never collide)."""
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    q = (
        frame.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return frame.sparkSession.table(name)


def windowed_event_counts_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the events parquet → 1h tumbling windows per
    event_type with a 1h watermark → availableNow → memory sink."""
    stream = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )
    return _run_to_memory(stream, "win_events", "complete")


@query(
    "st80_windowed_event_counts",
    oracle=f"""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {SUM_D.format('value')} AS total_value
    FROM events
    GROUP BY 1, 2
    """,
)
def st80_windowed_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windowed_event_counts_stream(spark, sf_dir)


@query(
    "st81_session_windows",
    # Session windows (30 min gap) per user — the oracle reproduces Spark's
    # merge semantics with a classic gaps-and-islands window query. Spark's
    # session window is [t, t+30): an event exactly 30 min after the
    # previous one starts a NEW session, hence >= (not >) below.
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       >= INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sessions AS (
      SELECT user_id, ts, value,
             -- the cumulative window carries the SAME (ts, event_id)
             -- tie-break as flagged: ORDER BY ts alone leaves same-ts
             -- peers in unspecified ROWS order, which could split a
             -- timestamp tie across sessions where Spark's
             -- session_window always merges it
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged
    )
    SELECT user_id,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           COUNT(*) AS n_events,
           {SUM_D.format('value')} AS total_value
    FROM sessions
    GROUP BY user_id, session_id
    """,
)
def st81_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(
            F.col("user_id"),
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "total_value",
        )
    )
    return _run_to_memory(stream, "sess_events", "complete")


@query(
    "st82_sliding_window_counts",
    # 1h windows sliding every 30min: each event lands in exactly two
    # windows; the oracle enumerates both via time_bucket arithmetic.
    oracle=f"""
    SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
           event_type,
           COUNT(*) AS n_events,
           {SUM_D.format('value')} AS total_value
    FROM (
      SELECT time_bucket(INTERVAL '30 minutes', ts) - i * INTERVAL '30 minutes' AS ws,
             event_type, value
      FROM events, (VALUES (0), (1)) g(i)
    )
    GROUP BY 1, 2
    """,
)
def st82_sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type", "n_events", "total_value",
        )
    )
    return _run_to_memory(stream, "slide_events", "complete")


@query(
    "st84_stateful_user_stats",
    # applyInPandasWithState accumulates floor(v*1e6 + 0.5) integer units;
    # MICRO_SUM is the same IEEE arithmetic in SQL, so the operator's
    # final state equals the batch aggregate bit-for-bit on ANY values
    # (the old SUM_D pairing relied on 2dp inputs: numpy rounded the
    # product half-even while the decimal cast rounded the exact value
    # half-up).
    oracle=f"""
    SELECT user_id,
           COUNT(*) AS n_events,
           {MICRO_SUM.format('value')} AS total_value,
           MAX(value) AS max_value
    FROM events
    GROUP BY user_id
    """,
)
def st84_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pymongraph_spark.streaming.stateful import running_user_stats

    stream = _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    sink = _run_to_memory(running_user_stats(stream), "state_events", "update")
    # update mode emits one row per user per micro-batch; the final state
    # is the row with the largest n_events (cumulative count is monotone
    # even when values are negative)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        sink
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "n_events", "total_value", "max_value")
    )


@query(
    "st83_streaming_dedup",
    # The stream is unioned with itself (every event arrives twice);
    # dropDuplicatesWithinWatermark(event_id) must collapse the pairs, so
    # the deduped aggregate equals the batch aggregate over the ORIGINAL
    # events — a vacuous-proof oracle (without dedup every count doubles).
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           {SUM_D.format('value')} AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def st83_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pymongraph_spark.streaming.dedup import deduped_event_stream

    doubled = (
        _events_stream(spark, sf_dir)
        .unionByName(_events_stream(spark, sf_dir))
        .withWatermark("ts", "1 hour")
    )
    deduped = deduped_event_stream(doubled, ["event_id"])
    sink = _run_to_memory(deduped, "dedup_events", "append")
    return (
        sink
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("total_value"))
    )


@query(
    "st85_stream_static_enrichment",
    # Stream-static join: the streaming events are enriched against the
    # static customer dim (re-read per micro-batch in Spark's semantics —
    # deterministic here because the dim is immutable), then aggregated
    # per market segment. At scale the static side is a broadcast join
    # per micro-batch; no state store is involved at all.
    oracle=f"""
    SELECT c_mktsegment,
           COUNT(*) AS n_events,
           {SUM_D.format('value')} AS total_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY c_mktsegment
    """,
)
def st85_stream_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pymongraph_spark.catalog import load_tables

    customers = load_tables(spark, sf_dir)["customer"].select("c_custkey", "c_mktsegment")
    stream = _events_stream(spark, sf_dir).join(
        customers, F.col("user_id") == F.col("c_custkey"), "inner"
    )
    agg = stream.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        dsum("value").alias("total_value"),
    )
    return _run_to_memory(agg, "enrich_events", "complete")


@query(
    "st87_streaming_graph_ingest",
    # End-to-end streaming GRAPH ingest: JSON threat-report lines derived
    # deterministically from the customer table are replayed through
    # stream_import (file stream → foreachBatch → idempotent store merge,
    # sliced into ≥4 micro-batches, with one shard duplicated so replay
    # convergence is actually exercised), then the final store is read
    # back and joined domain→assign→ip. The oracle recomputes the whole
    # graph from customer directly — if any micro-batch merge dropped,
    # duplicated, or mis-keyed a vertex/edge, rows or values diverge.
    oracle="""
    SELECT 'c' || c_custkey || '.example' AS domain_name,
           c_mktsegment AS segment,
           '10.' || c_nationkey || '.' || (c_custkey // 250) || '.' || (c_custkey % 250) AS ip,
           '0.0' AS detected_prop
    FROM customer
    WHERE c_custkey <= 2000
    """,
)
def st87_streaming_graph_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from pymongraph_spark.catalog import load_tables
    from pymongraph_spark.graph import store
    from pymongraph_spark.ingest.streaming import stream_import

    base = scratch_dir("st87_ingest", sf_dir)
    input_dir = os.path.join(base, "in")
    store_path = os.path.join(base, "store")
    ckpt = os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)  # idempotent across re-runs

    # fixture: one JSON report line per customer, derived 1:1 from the
    # table so DuckDB can recompute the expected graph exactly
    line = F.format_string(
        '{"c%s.example": {"dns-resolutions": [{"ipaddress": "10.%s.%s.%s", '
        '"domain": "c%s.example", "date": "2020-01-01"}], "segment": "%s"}}',
        "c_custkey",
        "c_nationkey",
        F.expr("c_custkey div 250"),
        F.expr("c_custkey % 250"),
        "c_custkey",
        "c_mktsegment",
    )
    reports = (
        load_tables(spark, sf_dir)["customer"]
        .filter(F.col("c_custkey") <= 2000)
        .select(line.alias("value"), "c_custkey")
    )
    reports.repartitionByRange(4, "c_custkey").select("value").write.text(input_dir)
    # duplicate one shard → those reports arrive twice; the idempotent
    # merge must converge to the same graph
    a_part = sorted(
        f for f in os.listdir(input_dir) if f.startswith("part-")
    )[0]
    shutil.copy(
        os.path.join(input_dir, a_part), os.path.join(input_dir, "replay-dup.txt")
    )
    # the parallel write stamps the part files the same mtime; this
    # fixture's reports carry no conflicting cross-file updates (the
    # merge converges under any order — that's the point of the test),
    # but batch order should still be deterministic, and the staging
    # discipline is the product guarantee (streaming/staging.py)
    stamp_monotone_mtimes(input_dir)

    q = stream_import(
        spark, input_dir, store_path, ckpt,
        available_now=True, max_files_per_trigger=1,
    )
    q.awaitTermination()

    g = store.load(spark, store_path)
    domains = g.vertices.filter(F.col("label") == "domain").select(
        F.col("id").alias("did"),
        F.col("props")["name"].alias("domain_name"),
        F.col("props")["segment"].alias("segment"),
        F.col("props")["detected_prop"].alias("detected_prop"),
    )
    ips = g.vertices.filter(F.col("label") == "ip").select(
        F.col("id").alias("iid"), F.col("props")["address"].alias("ip")
    )
    assign = g.edges.filter(F.col("label") == "assign").select("src", "dst")
    return (
        domains.join(assign, domains.did == assign.src)
        .join(ips, assign.dst == ips.iid)
        .select("domain_name", "segment", "ip", "detected_prop")
    )


@query(
    "st86_stream_stream_interval_join",
    # Stream-stream inner join with an event-time range condition — same
    # semantics as the batch q36 (pairs of a user's events within 5 min),
    # so it shares that oracle shape. Both sides carry watermarks; the
    # range condition lets Spark evict join state older than watermark -
    # 5 min, which is what makes the join runnable on an unbounded stream.
    # pair-INCLUSION must bound the RAW timestamp gap, exactly as the
    # streaming join's interval condition compares raw microseconds — a
    # date_diff('second') bound (floor-second counting) would disagree on
    # pairs whose true gap falls in (300, 301); the reported gap_seconds
    # stays the floor-second diff on both sides
    oracle="""
    SELECT a.event_id AS event_id_a, b.event_id AS event_id_b,
           a.user_id,
           CAST(date_diff('second', a.ts, b.ts) AS BIGINT) AS gap_seconds
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_id < b.event_id
     AND b.ts >= a.ts - INTERVAL 5 MINUTE
     AND b.ts <= a.ts + INTERVAL 5 MINUTE
    """,
)
def st86_stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream self interval join (±5 min same-user pairs).

    ARRIVAL-ORDER HAZARD (SCALE.md round-9, SCALE_PROBE_st86.json): the
    file source processes files in mtime order, and a same-mtime tie
    makes that order arbitrary — on the probe's first run the watermark
    jumped ahead and 81% of the pairs were late-dropped. The guard is
    the staging layer: _events_stream detects ties loudly
    (streaming.staging.warn_same_mtime), and historical event data must
    be staged with streaming.staging.stage_time_sorted, which the
    late-drop regression test exercises raw vs guarded.
    """
    # ONE source instance passed to both sides: a stream self-join shares
    # the source's per-trigger offsets, so both sides always see the same
    # micro-batch. Two separate readStream instances are only equivalent
    # under a full single-batch drain — with maxFilesPerTrigger they can
    # disagree on file order and silently join batch i against batch j
    # (measured: 16-file drain emitted 19% of the pairs; SCALE_PROBE_st86).
    events = _events_stream(spark, sf_dir)
    joined = interval_join_streams(events, events)
    sink = _run_to_memory(joined, "ssjoin_events", "append")
    # the gap is floor-second arithmetic, same as the oracle's date_diff
    return (
        sink
        .filter(F.col("event_id_a") < F.col("event_id_b"))
        .select(
            "event_id_a",
            "event_id_b",
            F.col("user_a").alias("user_id"),
            (F.unix_timestamp("ts_b") - F.unix_timestamp("ts_a")).cast("bigint").alias("gap_seconds"),
        )
    )


def interval_join_streams(
    left_events: DataFrame, right_events: DataFrame, watermark: str = "10 minutes"
) -> DataFrame:
    """The st86 join shape, parameterized on the watermark delay so the
    scale probe (scripts/probe_st86.py) can measure state-resident-set
    sensitivity on the exact gated pipeline. Inputs are streaming frames
    with (event_id, user_id, ts)."""
    left = left_events.select(
        F.col("event_id").alias("event_id_a"),
        F.col("user_id").alias("user_a"),
        F.col("ts").alias("ts_a"),
    ).withWatermark("ts_a", watermark)
    right = right_events.select(
        F.col("event_id").alias("event_id_b"),
        F.col("user_id").alias("user_b"),
        F.col("ts").alias("ts_b"),
    ).withWatermark("ts_b", watermark)
    # ONLY the equi-key and time-range conjuncts may reach the streaming
    # join condition: StreamingJoinHelper derives the state-eviction bound
    # (watermark - 5 min) from them, and any extra predicate — even added
    # as a .filter(), which Catalyst pushes back into the join — breaks
    # that extraction and leaves join state unbounded. So the stream emits
    # both orientations of each pair and the canonical a<b ordering is
    # applied batch-side on the sink table.
    return left.join(
        right,
        (F.col("user_a") == F.col("user_b"))
        & (F.col("ts_b") >= F.col("ts_a") - F.expr("INTERVAL 5 MINUTES"))
        & (F.col("ts_b") <= F.col("ts_a") + F.expr("INTERVAL 5 MINUTES")),
    )


def _st88_oracle() -> str:
    from pymongraph_spark.queries.llm import _d45_parts

    ctes, _ = _d45_parts()
    return f"""
    WITH {ctes},
    cand_st AS (
      SELECT DISTINCT a.doc_id AS doc_id_new, b.doc_id AS doc_id_corpus
      FROM band a JOIN band b ON a.band = b.band AND a.key = b.key
      WHERE a.doc_id % 4 > b.doc_id % 4
    )
    SELECT doc_id_new, doc_id_corpus,
           CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
             / (len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles)))
             AS jaccard
    FROM cand_st JOIN sh sa ON cand_st.doc_id_new = sa.doc_id
                 JOIN sh sb ON cand_st.doc_id_corpus = sb.doc_id
    WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
             / (len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles)))
          >= 0.5
    """


@query("st88_streaming_neardup_index", oracle=_st88_oracle())
def st88_streaming_neardup_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming LSH-index maintenance — the production shape of
    continuous near-dup screening: documents arrive in micro-batches
    (one file per ingest wave, ``doc_id % 4`` is the wave id), and each
    foreachBatch probes the arriving batch against the STANDING index
    (minhash_lsh_probe_index — cost scales with the batch, never
    corpus²), appends the verified cross-wave pairs to a result sink,
    then appends the batch itself to the index. Because every unordered
    cross-wave pair is produced exactly when its later-arriving member
    is processed (and oriented higher-wave → lower-wave afterwards), the
    final pair set is independent of micro-batch arrival order — which
    is what makes a streaming operator oracle-checkable: DuckDB bands
    the whole corpus and keeps pairs with ``a.doc_id%4 > b.doc_id%4``.
    at-least-once foreachBatch replays are absorbed by the read-back
    ``distinct()`` (pair rows are deterministic, so replays duplicate
    rows, never diverge them)."""
    import shutil

    from pymongraph_spark.catalog import load_tables
    from pymongraph_spark.operators.dedup import (
        minhash_index_frames,
        minhash_lsh_probe_index,
    )
    from pymongraph_spark.session import run_concurrently

    base = scratch_dir("st88_neardup", sf_dir)
    input_dir = os.path.join(base, "in")
    index_sh_dir = os.path.join(base, "index_shingles")
    index_bb_dir = os.path.join(base, "index_bands")
    pairs_dir = os.path.join(base, "pairs")
    ckpt = os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)  # idempotent across re-runs

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    staged: list[str] = []
    for wave in range(4):
        docs.filter(F.col("doc_id") % 4 == wave).coalesce(1).write.mode(
            "append"
        ).parquet(input_dir)
        seen = set(staged)
        staged.extend(sorted(p for p in _data_files(input_dir) if p not in seen))
    # four sequential writes can tie at millisecond mtime granularity and
    # the file source orders by mtime — the pair SET here is arrival-order
    # independent by design, but wave processing order should still be
    # deterministic (and the staging discipline is the product guarantee:
    # see streaming/staging.py, SCALE.md round-9)
    stamp_monotone_mtimes(input_dir, order=staged)

    schema = spark.read.parquet(input_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # hash the ARRIVING batch once into its index frames; the standing
        # index is probed as stored parquet — the corpus is never
        # re-shingled or re-minhashed per micro-batch (previously every
        # wave re-ran the 64-permutation signature over the whole
        # accumulated corpus, O(corpus) hashing per batch).
        #
        # APPEND-FIRST shape (optimization r14, guide §1.2 fewer passes):
        # pin the standing index's file list, append the batch's lazy
        # frames straight to the index dirs (the parquet write IS the
        # materialization — the former eager-localCheckpoint variant
        # spent 3 extra jobs per batch re-materializing what the sink
        # writes anyway), then probe the batch's just-written rows
        # against the PINNED old list. Replay safety is unchanged: a
        # replayed append duplicates index rows for one wave, a batch
        # probing its own first-attempt copy yields only same-wave pairs
        # (filtered below), and duplicated cross-wave pair rows are
        # absorbed by the read-back distinct().
        old_sh = sorted(_data_files(index_sh_dir)) if os.path.isdir(index_sh_dir) else []
        old_bb = sorted(_data_files(index_bb_dir)) if os.path.isdir(index_bb_dir) else []
        sh, bb = minhash_index_frames(batch_df, n=3, num_hashes=64, bands=16)
        run_concurrently(
            lambda: sh.write.mode("append").parquet(index_sh_dir),
            lambda: bb.write.mode("append").parquet(index_bb_dir),
        )
        if not old_sh:
            return
        new_sh = [p for p in _data_files(index_sh_dir) if p not in set(old_sh)]
        new_bb = [p for p in _data_files(index_bb_dir) if p not in set(old_bb)]
        if not new_sh or not new_bb:
            # a batch whose docs all shingle to nothing (< 3 tokens each)
            # appends no data file; spark.read.parquet(*[]) would raise
            # and kill the stream (ADVICE r14)
            return
        pairs = minhash_lsh_probe_index(
            spark.read.parquet(*new_sh),
            spark.read.parquet(*new_bb),
            spark.read.parquet(*old_sh),
            spark.read.parquet(*old_bb),
            threshold=0.5,
        )
        hi = F.col("doc_id_new") % 4 > F.col("doc_id_corpus") % 4
        oriented = (
            pairs.filter(F.col("doc_id_new") % 4 != F.col("doc_id_corpus") % 4)
            .select(
                F.when(hi, F.col("doc_id_new"))
                .otherwise(F.col("doc_id_corpus"))
                .alias("doc_id_new"),
                F.when(hi, F.col("doc_id_corpus"))
                .otherwise(F.col("doc_id_new"))
                .alias("doc_id_corpus"),
                "jaccard",
            )
        )
        oriented.write.mode("append").parquet(pairs_dir)

    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    if not os.path.isdir(pairs_dir):
        return spark.createDataFrame(
            [], "doc_id_new: long, doc_id_corpus: long, jaccard: double"
        )
    return spark.read.parquet(pairs_dir).distinct()


@query(
    "st89_transform_with_state",
    # transformWithStateInPandas (Spark 4's stateful successor API —
    # named typed state handles instead of one opaque tuple): per-type
    # running stats accumulate floor(v*1e6 + 0.5) units (MICRO_SUM twin),
    # so the final streaming state equals the batch aggregate
    # bit-for-bit and the whole path sits under the hash gate. The new
    # API needs protobuf (absent in this container) — tws.py probes and
    # routes to a semantics-identical applyInPandasWithState fallback,
    # so the gate is green on either runtime.
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           {MICRO_SUM.format('value')} AS total_value,
           MIN(value) AS min_value,
           MAX(value) AS max_value
    FROM events
    GROUP BY event_type
    """,
)
def st89_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pymongraph_spark.streaming.tws import running_type_stats

    stream = _events_stream(spark, sf_dir).select("event_type", "value")
    sink = _run_to_memory(running_type_stats(stream), "tws_events", "update")
    # update mode emits one row per key per micro-batch; the final state
    # is the row with the largest n_events (cumulative count is monotone)
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy(F.desc("n_events"))
    return (
        sink
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("event_type", "n_events", "total_value", "min_value", "max_value")
    )


@query(
    "st90_streaming_shard_ingest",
    # Streaming ingestion INTO the training-data shard layout: documents
    # arrive in micro-batches and foreachBatch appends each one into the
    # hash-sharded sink (operators/sink.write_shards, mode='append' —
    # placement is a pure function of doc_id, so waves land in the same
    # shard dirs a batch rebuild would produce). The certified manifest
    # read back from disk must therefore equal the BATCH manifest over
    # the whole corpus — arrival order and batching cannot show through.
    oracle="""
    WITH s AS (
      SELECT doc_id,
             list_reduce([CAST(strpos('0123456789abcdef',
                               substr(md5(CAST(doc_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)
                          for i in generate_series(1, 8)],
                         (acc, x) -> acc * 16 + x) % 8 AS shard_id
      FROM documents
    )
    SELECT CAST(shard_id AS INT) AS shard_id,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS min_doc_id,
           MAX(doc_id) AS max_doc_id
    FROM s GROUP BY shard_id
    """,
)
def st90_streaming_shard_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from pymongraph_spark.catalog import load_tables
    from pymongraph_spark.operators.sink import shard_manifest_from_disk, write_shards

    base = scratch_dir("st90_shards", sf_dir)
    input_dir = os.path.join(base, "in")
    shards_dir = os.path.join(base, "shards")
    ckpt = os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)  # idempotent across re-runs

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "lang", "n_chars")
    for wave in range(4):
        docs.filter(F.col("doc_id") % 4 == wave).coalesce(1).write.mode(
            "append"
        ).parquet(input_dir)

    schema = spark.read.parquet(input_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )

    def handle(batch_df, batch_id):
        write_shards(batch_df, shards_dir, n_shards=8, mode="append")

    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return shard_manifest_from_disk(spark, shards_dir)


# --------------------------------------------------------------------------
# st91: streaming EMBEDDING near-dup screening (VERDICT r9 item 7) — the
# embedding-tier analogue of st88's MinHash index. Vectors arrive in
# micro-batches (vec_id % 4 is the ingest wave, staged mtime-monotone so
# wave order is deterministic); each foreachBatch (a) assigns the arriving
# batch to its coarse cell with the PRETRAINED codebook — the broadcast
# k×dim matrix argmin, map-only, the production artifact a streaming
# dedup probes against — (b) equi-joins the batch against the STANDING
# index on cell and keeps exact integer-L2² pairs under the d58
# threshold, (c) appends the batch to the index. Per-trigger cost is
# O(batch × same-cell index rows), never corpus²; every cross-wave pair
# is emitted exactly when its later wave arrives, so the final pair set
# equals the batch ground truth — which is what makes it oracle-checkable
# (the d58 unrolled-CTE kmeans + a cross-wave same-cell pair join).
# IDEMPOTENT under at-least-once replay: both sinks are batch-id-keyed
# subdirs (b=<id>) written exactly once — a replayed batch overwrites its
# own subdir with identical content, and the probe join reads only index
# partitions with b < batch_id, so a replay can never probe rows the same
# batch already appended (which would emit same-wave and identity pairs
# the read-back distinct() cannot remove).
# SCALE: the pretrained codebook's k must scale with the expected corpus
# so cell occupancy stays bounded (the d58→d62 lesson; at fixed k the
# per-trigger candidate count grows linearly with the standing index —
# measured 11.9× for 10× corpus at fixed k=16, SCALE_PROBE_st91.json);
# the gate config k=16 over 2k vectors is the bounded-occupancy regime.
# --------------------------------------------------------------------------
_ST91_T = 1_300_000_000_000


def st91_streaming_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    base = scratch_dir("st91_embneardup", sf_dir)
    shutil.rmtree(base, ignore_errors=True)  # idempotent across re-runs
    return _st91_run(spark, sf_dir, base)


def _st91_run(spark: SparkSession, sf_dir: str, base: str) -> DataFrame:
    """st91 body, restartable on an existing ``base``: a second call with
    the same base resumes from the checkpoint and REPLAYS any batch whose
    commit is missing — the at-least-once path the batch-id-keyed sinks
    make idempotent (pinned by test_st91_replayed_batch_is_idempotent)."""
    from pymongraph_spark.catalog import load_tables
    from pymongraph_spark.operators.similarity import (
        GRID_SCALE,
        _assign_from_matrix,
        grid_kmeans_cells_fast,
        grid_seeds,
        quantize_arr,
    )

    def make_flat_assign(emb: DataFrame):
        # offline codebook: the exact-grid Lloyd's d58 uses (k=16, 2
        # rounds), trained once on the standing corpus; the stream only
        # ever does map-only assignment against its k×dim matrix
        qa = quantize_arr(emb, "vec_id", "embedding", GRID_SCALE, out="qarr")
        _, cells_arr, cmat = grid_kmeans_cells_fast(
            qa, grid_seeds(emb, 16, "vec_id"), 2
        )
        return lambda qb: _assign_from_matrix(qb, cells_arr, cmat)

    emb = load_tables(spark, sf_dir)["embeddings"].select("vec_id", "embedding")
    return _stream_neardup_run(spark, emb, base, _ST91_T, make_flat_assign)


# Hot-cell split id stride (VERDICT r13 item 5): a split of base cell c
# re-keys its rows to sub-cells -(c*64 + j + 1), j < 64 — negative ids
# cannot collide with codebook cells (coarse*2^20+fine, always >= 0) and
# map back to their base via (-id-1) // 64. A re-split REPLACES the
# patch for c (wider k over the whole family), so one level of
# negativity suffices.
_SPLIT_STRIDE = 64


def _codebook_payload(cells_arr, cmat, fine_cb) -> str:
    """Canonical JSON serialization of a hierarchical codebook
    (VERDICT r13 item 7). All values are int64 grid coordinates, so the
    round-trip is exact; key order and separators are pinned so the
    sha256 over this string is a stable checksum."""
    import json as _json

    payload = {
        "cells": [int(x) for x in cells_arr],
        "cmat": [[int(x) for x in row] for row in cmat],
        "fine": {
            str(int(c)): {
                "ids": [int(x) for x in fids],
                "cents": [[int(x) for x in row] for row in fmat],
            }
            for c, fids, fmat in sorted(
                (c, f[0], f[1]) for c, f in fine_cb.items()
            )
        },
    }
    return _json.dumps(payload, sort_keys=True, separators=(",", ":"))


def _codebook_from_payload(text: str):
    """Inverse of _codebook_payload: (cells_arr, cmat, fine_cb) as the
    numpy structures assign_hierarchical consumes."""
    import json as _json

    import numpy as np

    p = _json.loads(text)
    cells_arr = np.array(p["cells"], dtype=np.int64)
    cmat = np.array(p["cmat"], dtype=np.int64)
    fine_cb = {
        int(c): (
            np.array(f["ids"], dtype=np.int64),
            np.array(f["cents"], dtype=np.int64),
        )
        for c, f in p["fine"].items()
    }
    return cells_arr, cmat, fine_cb


def _stream_neardup_run(
    spark: SparkSession,
    emb: DataFrame,
    base: str,
    threshold: int,
    make_assign,
    waves: int = 4,
    batch_times: list | None = None,
    compact_every: int | None = None,
    occupancy: list | None = None,
    occupancy_target: int = 125,
    refresh: "str | int | None" = None,
    refresh_k: int | None = None,
    refresh_log: list | None = None,
    split_hot: bool = True,
    split_at: int | None = None,
) -> DataFrame:
    """Shared streaming near-dup core (st91 flat / st92 hierarchical /
    st94 compacted / scale probes): stage ``emb`` as ``waves``
    mtime-monotone files, then per micro-batch (a) map-only cell
    assignment via the PRETRAINED codebook ``make_assign(emb)`` builds,
    (b) same-cell equi-join against the standing index, exact
    integer-L2² pairs under ``threshold``, (c) batch-id-keyed idempotent
    append of batch and pairs. Restartable on an existing ``base``
    (replays are absorbed — see _st91_run). ``batch_times`` (optional
    list) collects (batch_id, rows, seconds) per trigger, for scale
    probes.

    ``compact_every`` (VERDICT r11 item 2): the flat one-``b=N``-subdir-
    per-trigger index layout grows listing + footer overhead linearly in
    TRIGGER COUNT (fine at 4 probe triggers, a small-files accumulation
    at 10⁴-10⁵ production triggers). When set, the store.py LSM
    discipline (generation-fold + retirement GC) runs SIZE-TIERED:

    - **minor fold** every ``compact_every`` committed batches: only the
      new ``b=*`` subdirs fold into one generation ``gen/r=<lo>_<hi>``
      (batch id carried as an explicit ``b`` column) — O(those batches)
      written, NO rewrite of standing data;
    - **staggered major fold, binary-counter discipline** (r12 item 6):
      each trigger folds AT MOST ONE adjacent generation pair — the
      rightmost pair violating span(left) ≥ 2·span(right) — instead of
      merging the whole tier at once (the r12 all-at-once major landed
      as late-decile latency spikes, last/first decile 2.9 at 100
      triggers; and any fixed-count roster is quadratic in fold bytes —
      see _fold_pair). Merges combine near-equal sizes only, so total
      fold bytes are O(n log n) and the generation count is
      ≤ log₂(minors)+1.

    Live per-batch subdirs stay ≤ compact_every and committed
    generations ≤ log₂(minors)+1 at any trigger count. Crash-safe in
    write order: a generation commits (atomic _SUCCESS) BEFORE any
    retirement delete; generation ranges are disjoint-or-contained by
    construction, and the read path keeps only the MAXIMAL ranges (a
    crash between a major's commit and its GC leaves contained minors
    on disk — skipped, never double-read) plus ``b > covered`` subdirs.
    The ``b < batch_id`` replay prune applies unchanged to the
    generations' ``b`` column.

    ``occupancy`` (VERDICT r11 item 5 — codebook drift monitor): when a
    list is passed, each trigger appends
    (batch_id, n_cells, index_rows, mean_occupancy, max_occupancy,
    needs_refresh) for the standing index INCLUDING this batch. Counts
    are maintained in a driver dict from each batch's per-cell counts (a
    k-row collect of the batch assignment the trigger already computed —
    no new shuffle over the index). needs_refresh fires when
    max_occupancy > 4 × ``occupancy_target`` (the codebook_k_for design
    occupancy): the bounded-occupancy guarantee behind flat per-trigger
    cost assumes the pretrain corpus was representative, and a drifting
    stream erodes it silently — the refresh rule is to retrain the
    codebook at codebook_k_for(index_rows) when the flag fires (probe:
    scripts/probe_occupancy_drift.py catches a deliberately undersized
    codebook). When ``refresh`` is enabled (below), the monitor's
    counts are SEEDED from the standing index at stream start so a
    restarted process keeps a correct view.

    ``refresh`` (VERDICT r12 item 1 — the monitor→retrain consumer):

    - ``"occupancy"`` — the PRODUCTION rule: when the monitor's
      max_occupancy exceeds 4 × ``occupancy_target`` AND the index has
      grown ≥ 2× since the last retrain (growth hysteresis — clustered
      data keeps a hot cell above any threshold, and without the
      damper the decade-2 probe re-fired an O(index) retrain every
      trigger; geometric spacing bounds total retrain cost at O(n)),
      retrain the codebook on the standing index at ``refresh_k`` or
      codebook_k_for(index_rows) and RE-KEY the index (probe:
      scripts/probe_retrain.py: occupancy re-bounded, per-trigger cost
      re-flattened at two scale decades);
    - an ``int`` — fire unconditionally at the END of that trigger id.
      The st96 GATE row pins the trigger (and refresh_k=16) because its
      DuckDB oracle is a static string that must replay the retrained
      codebook — the st92 pins-k-16 precedent; the occupancy-driven
      path is what production runs, exercised by the probe and unit
      tests.

    The retrain itself is a major compaction with a new assignment
    function: train hierarchical_codebook on the standing index's
    stored (vec_id, qarr) rows (scale=1 — already quantized), write the
    re-keyed full index as ONE generation ``re=0_<j>`` (epoch
    namespace), then commit the epoch with an atomic marker file
    ``retrain/j=<j>.json`` and only then retire the old-epoch dirs.
    Crash-safe in that order: an UNMARKED re= generation is invisible
    to the read path (state stays pre-retrain and the fire re-runs — a
    deterministic function of the committed index, so the rewrite is
    byte-identical); a marked one is authoritative, and a restart
    rebuilds the epoch's codebook by re-running the same deterministic
    retrain on the index rows b ≤ j. Pairs emitted BEFORE the retrain
    are never touched (they were exact-L2²-verified facts); pairs after
    it probe the re-keyed index under the new cells.

    ``split_hot`` (VERDICT r13 item 5 — bounding steady-state occupancy
    under hysteresis): the 2×-growth gate makes retrain cost O(n) but
    lets a single hot cell climb to many multiples of the design
    occupancy between fires (decade-2 ended at 6.6×). When the
    occupancy rule trips but the growth gate blocks the global fire,
    the targeted path splits ONLY the violating cell: a flat
    sub-codebook (k ∝ family size, ≤ 63) trained on that cell's family
    rows, the family re-keyed into sub-cells -(c·64+j+1) and written as
    an overlay generation ``gen/p=<c>_<hi>``, committed by the atomic
    marker ``retrain/p=<c>.json`` (which carries the tiny sub-codebook
    inline, plus the epoch it belongs to). The read path excludes
    base-frame family rows with b ≤ hi and appends the overlay; the
    assignment path refines base assignments landing in patched cells
    through the sub-codebook (map-only, like the main assignment). At
    most one split per trigger; re-splits require 2× family growth
    since the last split (baseline durable in the marker), so lifetime
    re-key bytes per family are O(family) and O(n) overall. A global
    retrain supersedes and sweeps every patch (its epoch re-keys all
    rows); a patch marker from an older epoch is ignored and swept on
    load. Crash discipline mirrors the retrain: overlay commits
    (_SUCCESS) before its marker; an unmarked overlay is invisible and
    the split deterministically re-fires.

    ``split_at``: force ONE hot-cell split at the end of that trigger
    id, on the currently-hottest cell (max count, ties to the smallest
    cell id — a total order a SQL oracle can replay with ORDER BY
    count DESC, cell). The st97 GATE row pins the trigger the same way
    st96 pins its retrain trigger: the DuckDB oracle is a static string
    that must replay the sub-codebook, so the fire point must be a
    deterministic function of the data alone; the occupancy-driven
    split path is what production runs (probe + unit tests)."""
    import shutil as _shutil
    import time as _time

    from pymongraph_spark.operators.similarity import (
        GRID_SCALE,
        _l2sq_arr,
        quantize_arr,
    )

    input_dir = os.path.join(base, "in")
    index_dir = os.path.join(base, "index")
    gen_dir = os.path.join(base, "gen")
    pairs_dir = os.path.join(base, "pairs")
    retrain_dir = os.path.join(base, "retrain")
    ckpt = os.path.join(base, "ckpt")

    def _epoch_hi() -> int:
        """Highest committed retrain marker (-1 when never retrained).
        The marker — retrain/j=<j>.json, written with os.replace — is
        the atomic commit point of a retrain: re= generations without
        one are invisible to the read path."""
        if not os.path.isdir(retrain_dir):
            return -1
        js = [
            int(f[2:-5])
            for f in os.listdir(retrain_dir)
            if f.startswith("j=") and f.endswith(".json")
        ]
        return max(js) if js else -1

    def _epoch_rows() -> int:
        """index_rows recorded in the latest committed retrain marker
        (0 when never retrained) — the growth-hysteresis baseline for
        occupancy-driven re-fires, durable across restarts."""
        import json as _json

        ehi = _epoch_hi()
        if ehi < 0:
            return 0
        try:
            with open(os.path.join(retrain_dir, f"j={ehi}.json")) as fh:
                return int(_json.load(fh).get("index_rows", 0))
        except (OSError, ValueError):  # pragma: no cover — marker is ours
            return 0

    def _committed_gens() -> list[tuple[int, int, str]]:
        """Committed generation (lo, hi, dirname) ranges, reduced to the
        MAXIMAL set: ranges are disjoint or strictly contained (a major
        contains the minors it merged; a retrain epoch contains the
        whole prefix it re-keyed), so any contained range is a
        not-yet-GC'd duplicate — skip it. re= generations count only
        when their epoch marker committed, and outrank an r= twin of the
        same range (the re-keyed rows are the newer epoch)."""
        if not os.path.isdir(gen_dir):
            return []
        ehi = _epoch_hi()
        raw = []
        for d in os.listdir(gen_dir):
            if not os.path.exists(os.path.join(gen_dir, d, "_SUCCESS")):
                continue
            if d.startswith("re="):
                lo, hi = (int(x) for x in d[3:].split("_", 1))
                if hi <= ehi:  # marked epoch only
                    raw.append((lo, hi, d))
            elif d.startswith("r="):
                lo, hi = (int(x) for x in d[2:].split("_", 1))
                raw.append((lo, hi, d))
        # widest first; on an equal range the re= epoch wins
        raw.sort(key=lambda p: (p[0] - p[1], p[0], not p[2].startswith("re=")))
        kept: list[tuple[int, int, str]] = []
        for lo, hi, d in raw:
            if not any(lo >= klo and hi <= khi for klo, khi, _ in kept):
                kept.append((lo, hi, d))
        return sorted(kept)

    def _live_batches() -> list[int]:
        if not os.path.isdir(index_dir):
            return []
        return sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(index_dir)
            if d.startswith("b=")
        )

    patches: dict = {}  # base cell -> committed hot-cell patch (driver)

    def _to_base(cid: int) -> int:
        """Base cell of a (possibly sub-) cell id."""
        return (-int(cid) - 1) // _SPLIT_STRIDE if cid < 0 else int(cid)

    def _family_pred(c: int):
        """Column predicate matching base cell ``c`` and its sub-cells."""
        return (F.col("cell") == c) | (
            (F.col("cell") < 0)
            & (F.floor((-F.col("cell") - 1) / _SPLIT_STRIDE) == c)
        )

    def _patch_keep():
        """Predicate keeping base-frame rows NOT superseded by a
        committed hot-cell overlay (each overlay re-keys its family's
        rows b ≤ hi; newer family rows arrive already sub-keyed). The
        OR-chain is over the handful of hot cells — at a patch count
        where this matters, swap to a broadcast map join."""
        superseded = F.lit(False)
        for c, p in patches.items():
            superseded = superseded | (
                _family_pred(c) & (F.col("b") <= F.lit(p["hi"]))
            )
        return ~superseded

    def _standing_index(batch_id: int):
        """Maximal committed generations + newer per-batch subdirs, all
        pruned to b < batch_id (the replay guard), with hot-cell
        overlays replacing the base rows they re-keyed. None when
        empty."""
        gens = _committed_gens()
        covered = gens[-1][1] if gens else -1
        frames = []
        if gens:
            frames.append(
                spark.read.parquet(
                    *[os.path.join(gen_dir, d) for _, _, d in gens]
                )
                .filter(F.col("b") < F.lit(batch_id))
                .select("vec_id", "qarr", "cell", F.col("b").cast("long").alias("b"))
            )
        if any(b > covered for b in _live_batches()):
            frames.append(
                # partition column b comes from the subdir names; the
                # b < batch_id prune keeps a replay from probing rows
                # this same batch appended on its first attempt.
                # The per-batch tier stays FLAT (no partitionBy(cell)):
                # a cell-partitioned layout was implemented and
                # MEASURED WORSE at probe scale — 4.54× vs 1.26× per
                # decade — because a 1000-vector trigger touches ~all
                # cells (batch × occupancy ≈ 62% of the index), so
                # dir-pruning saves little while per-cell small files
                # multiply open/footer overhead. Cell pruning pays only
                # when batch × occupancy ≪ index AND cells are
                # compacted; see SCALE.md round-11 for the break-even.
                spark.read.parquet(index_dir)
                .filter((F.col("b") > F.lit(covered)) & (F.col("b") < F.lit(batch_id)))
                .select("vec_id", "qarr", "cell", F.col("b").cast("long").alias("b"))
            )
        if frames and patches:
            frames = [fr.filter(_patch_keep()) for fr in frames]
            for c, p in patches.items():
                frames.append(
                    spark.read.parquet(
                        os.path.join(gen_dir, f"p={c}_{p['hi']}")
                    )
                    .filter(F.col("b") < F.lit(batch_id))
                    .select(
                        "vec_id", "qarr", "cell",
                        F.col("b").cast("long").alias("b"),
                    )
                )
        if not frames:
            return None
        out = frames[0]
        for fr in frames[1:]:
            out = out.unionByName(fr)
        return out

    def _gen_frame(gens) -> DataFrame:
        return (
            spark.read.parquet(
                *[os.path.join(gen_dir, d) for _, _, d in gens]
            )
            .select("vec_id", "qarr", "cell", F.col("b").cast("long").alias("b"))
        )

    def _compact(upto: int) -> None:
        """MINOR fold + retirement GC (the store.py LSM pattern): fold
        only the not-yet-covered b=* subdirs into one generation
        r=<lo>_<upto> — O(those batches), no standing-data rewrite. The
        generation commits atomically (_SUCCESS) before any retirement
        delete; a crash between commit and GC leaves duplicates the
        maximal-range read path skips (and _gc_contained_gens retires).
        Majors are STAGGERED — see _fold_pair."""
        gens = _committed_gens()
        covered = gens[-1][1] if gens else -1
        fresh = [b for b in _live_batches() if covered < b <= upto]
        if fresh:
            lo, hi = min(fresh), upto
            (
                spark.read.parquet(index_dir)
                .filter((F.col("b") >= F.lit(lo)) & (F.col("b") <= F.lit(hi)))
                .select("vec_id", "qarr", "cell", F.col("b").cast("long").alias("b"))
                .write.mode("overwrite")
                .parquet(os.path.join(gen_dir, f"r={lo}_{hi}"))
            )
            for b in _live_batches():
                if b <= hi:  # includes pre-covered stragglers from replays
                    _shutil.rmtree(
                        os.path.join(index_dir, f"b={b}"), ignore_errors=True
                    )
        _gc_contained_gens()

    def _fold_pair() -> None:
        """STAGGERED major fold, binary-counter discipline (VERDICT r12
        item 6). The r12 major merged ALL committed generations in one
        trigger, so at 100 triggers the majors landed as late-decile
        latency spikes (last/first decile 2.9). Staggering alone (one
        pair per trigger) fixes the spikes but NOT the write
        amplification: ANY policy that caps the generation COUNT at a
        constant is quadratic in total fold bytes — a fixed roster
        forces some generation to keep re-absorbing small neighbors
        (simulated: the fixed-fanout-4 pair rule writes ~2017
        bytes/trigger by 10⁵ triggers; the r12 all-at-once rule ~2084 —
        both O(n²/compact_every)). The classic fix is to bound the
        count LOGARITHMICALLY instead: maintain the invariant
        span(gens[i]) ≥ 2·span(gens[i+1]) by folding, at most once per
        trigger, the RIGHTMOST adjacent pair that violates it — merges
        then only ever combine near-equal sizes, every row is rewritten
        ≤ log₂(n) times, total fold bytes are O(n log n) (simulated:
        ~0.81·n·log₂n from 10² through 10⁶ triggers) and the live
        generation count is ≤ log₂(minors)+1 (16 at 10⁶ triggers vs
        the quadratic roster's 3-4 — a trade every size-tiered LSM
        makes). One fold per trigger drains the counter's carry chain
        easily: minors arrive every compact_every ≥ 2 triggers and the
        amortized folds per minor is ~1. Same crash discipline: the
        merged generation contains both sources, commits before their
        retirement, and a crash in between leaves contained duplicates
        the read path skips and the GC sweep retires."""
        gens = _committed_gens()
        i = next(
            (
                j
                for j in range(len(gens) - 2, -1, -1)
                if (gens[j][1] - gens[j][0] + 1)
                < 2 * (gens[j + 1][1] - gens[j + 1][0] + 1)
            ),
            None,
        )
        if i is None:
            return
        pair = gens[i : i + 2]
        lo, hi = pair[0][0], pair[1][1]
        # majors are the standing mass family scans read — cluster them
        # by cell so a hot-cell split's family extraction is file/row-
        # group pruned instead of a full-generation scan (b second, so
        # the replay prune keeps usable stats). repartitionByRange puts
        # each output file on a disjoint cell range (AQE coalesces the
        # small-fold case back to few files); sortWithinPartitions
        # tightens per-row-group min/max inside big files. Minors stay
        # unclustered: they are small, frequent, and measured-worse
        # territory for layout games (see the per-batch tier note).
        (
            _gen_frame(pair)
            .repartitionByRange("cell", "b")
            .sortWithinPartitions("cell", "b")
            .write.mode("overwrite")
            .parquet(os.path.join(gen_dir, f"r={lo}_{hi}"))
        )
        for _, _, d in pair:
            if d != f"r={lo}_{hi}":
                _shutil.rmtree(os.path.join(gen_dir, d), ignore_errors=True)
        _gc_contained_gens()

    def _gc_contained_gens() -> None:
        """Retire committed generations no longer in the kept maximal
        set (ADVICE r12): a crash between a major's _SUCCESS commit and
        its retirement GC leaves the folded minors on disk — the
        maximal-range read path skips them, but without this sweep they
        accumulate unboundedly across crashes. re= dirs are swept only
        when superseded INSIDE a committed epoch (an unmarked re= dir
        is a retrain mid-commit — the fire will overwrite it)."""
        kept = {d for _, _, d in _committed_gens()}
        kept.update(f"p={c}_{p['hi']}" for c, p in patches.items())
        ehi = _epoch_hi()
        if not os.path.isdir(gen_dir):
            return
        for d in os.listdir(gen_dir):
            if d in kept or not os.path.exists(
                os.path.join(gen_dir, d, "_SUCCESS")
            ):
                continue
            if d.startswith("r=") or d.startswith("p="):
                # p= overlays not in the live patch set are crash
                # leftovers (unmarked split) or superseded re-splits
                _shutil.rmtree(os.path.join(gen_dir, d), ignore_errors=True)
            elif d.startswith("re="):
                hi = int(d[3:].split("_", 1)[1])
                if hi <= ehi:  # superseded committed epoch
                    _shutil.rmtree(os.path.join(gen_dir, d), ignore_errors=True)

    # ADVICE r13 low: a typo'd string (e.g. 'ocupancy') must not silently
    # run the occupancy rule — accept exactly 'occupancy' or a non-bool
    # int, and fail BEFORE the stream starts
    if refresh is not None and not (
        refresh == "occupancy"
        or (isinstance(refresh, int) and not isinstance(refresh, bool))
    ):
        raise ValueError(f"refresh must be 'occupancy' or int, got {refresh!r}")

    cell_counts: dict = {}  # occupancy monitor state (driver-side, k-bounded)
    _monitor = (
        occupancy is not None or refresh is not None or split_at is not None
    )

    def _retrain_codebook(upto: int):
        """Deterministic retrain at the committed prefix b <= upto: a
        hierarchical codebook at refresh_k (gate) or codebook_k_for(n)
        (production) over the standing index's STORED qarr rows —
        scale=1, they are already quantized. Deterministic in the
        committed index content, so a replay (or a restart rebuild)
        reproduces the same codebook bit-exactly."""
        from pymongraph_spark.operators.dedup import (
            assign_hierarchical,
            codebook_k_for,
            hierarchical_codebook,
        )

        idx = _standing_index(upto + 1)
        if idx is None:
            return None, None, 0, 0, None
        idx = idx.localCheckpoint(eager=True)  # one read feeds train + re-key
        n = idx.count()
        k_new = refresh_k if refresh_k is not None else codebook_k_for(n)
        cells_arr, cmat, fine_cb = hierarchical_codebook(
            idx, k_clusters=k_new, iters=2, vec_col="qarr", scale=1
        )
        return (
            lambda qb: assign_hierarchical(qb, cells_arr, cmat, fine_cb),
            idx,
            k_new,
            n,
            (cells_arr, cmat, fine_cb),
        )

    def _load_epoch_codebook(ehi: int):
        """Load the persisted epoch codebook (VERDICT r13 item 7: a
        restart used to rebuild the codebook by re-running the full
        kmeans over the index — at 100 TB every restart paid one
        O(index) train). The artifact retrain/cb=<j>.json is written
        BEFORE the marker commits and its sha256 is recorded IN the
        marker, so a loaded codebook is exactly the one the epoch
        trained. Any miss — pre-artifact marker, missing file, checksum
        mismatch — returns None and the caller falls back to the
        deterministic re-train (which reproduces it bit-exactly)."""
        import hashlib as _hashlib
        import json as _json

        from pymongraph_spark.operators.dedup import assign_hierarchical

        try:
            with open(os.path.join(retrain_dir, f"j={ehi}.json")) as fh:
                marker = _json.load(fh)
            want_sha = marker["codebook_sha"]
            with open(os.path.join(retrain_dir, f"cb={ehi}.json")) as fh:
                text = fh.read()
            if _hashlib.sha256(text.encode("utf-8")).hexdigest() != want_sha:
                return None
            cells_arr, cmat, fine_cb = _codebook_from_payload(text)
        except (OSError, KeyError, ValueError):
            return None
        return lambda qb: assign_hierarchical(qb, cells_arr, cmat, fine_cb)

    def _retrain(upto: int) -> None:
        """The monitor→retrain consumer (VERDICT r12 item 1): retrain,
        RE-KEY the standing index through the generation-fold machinery
        (a retrain IS a major compaction with a new assignment
        function), commit the epoch with the atomic marker, then retire
        the superseded dirs — see the refresh docstring for the crash
        windows each ordering step closes."""
        new_assign, idx, k_new, n, cb = _retrain_codebook(upto)
        if new_assign is None:
            return
        rekeyed = (
            idx.drop("cell")
            .join(new_assign(idx.select("vec_id", "qarr")), "vec_id")
            .select("vec_id", "qarr", "cell", F.col("b").cast("long").alias("b"))
        )
        # the epoch generation is the whole standing index — cluster it
        # by cell (see _fold_pair) so later hot-cell family extractions
        # prune instead of scanning the full epoch
        (
            rekeyed.repartitionByRange("cell", "b")
            .sortWithinPartitions("cell", "b")
            .write.mode("overwrite")
            .parquet(os.path.join(gen_dir, f"re=0_{upto}"))
        )
        # persist the codebook artifact BEFORE the marker (VERDICT r13
        # item 7): once the marker commits with the artifact's sha256, a
        # restart loads the codebook instead of re-running the O(index)
        # kmeans; a crash before the marker leaves the artifact orphaned
        # and invisible (the re-fire overwrites it)
        import hashlib as _hashlib

        os.makedirs(retrain_dir, exist_ok=True)
        cb_text = _codebook_payload(*cb)
        cb_tmp = os.path.join(retrain_dir, f".cb={upto}.tmp")
        with open(cb_tmp, "w") as fh:
            fh.write(cb_text)
        os.replace(cb_tmp, os.path.join(retrain_dir, f"cb={upto}.json"))
        cb_sha = _hashlib.sha256(cb_text.encode("utf-8")).hexdigest()
        # atomic epoch commit: the marker is what makes the re=
        # generation visible — everything before this line is
        # invisible-on-crash and deterministically rewritten by the fire
        tmp = os.path.join(retrain_dir, f".j={upto}.tmp")
        with open(tmp, "w") as fh:
            fh.write(
                f'{{"k_new": {k_new}, "index_rows": {n},'
                f' "codebook_sha": "{cb_sha}"}}'
            )
        os.replace(tmp, os.path.join(retrain_dir, f"j={upto}.json"))
        # sweep superseded epochs' codebook artifacts (k×dim each — tiny,
        # but unbounded across epochs without this)
        for f in os.listdir(retrain_dir):
            if f.startswith("cb=") and int(f[3:-5]) < upto:
                try:
                    os.remove(os.path.join(retrain_dir, f))
                except OSError:  # pragma: no cover — concurrent sweep
                    pass
        # a global retrain supersedes every hot-cell patch: the epoch
        # re-keyed ALL rows b <= upto (the standing index it trained on
        # already presented overlay rows in place of the base rows they
        # replaced). A crash before this sweep is safe: _load_patches
        # ignores and sweeps markers whose epoch predates the new one.
        for f in list(os.listdir(retrain_dir)):
            if f.startswith("p=") and f.endswith(".json"):
                try:
                    os.remove(os.path.join(retrain_dir, f))
                except OSError:  # pragma: no cover
                    pass
        if os.path.isdir(gen_dir):
            for d in list(os.listdir(gen_dir)):
                if d.startswith("p="):
                    _shutil.rmtree(os.path.join(gen_dir, d), ignore_errors=True)
        patches.clear()
        # retirement GC of the superseded epoch's gens and b-subdirs
        _gc_contained_gens()
        for b in _live_batches():
            if b <= upto:
                _shutil.rmtree(
                    os.path.join(index_dir, f"b={b}"), ignore_errors=True
                )
        assign_ref[0] = new_assign
        if _monitor:
            # monitor counts are epoch-keyed — re-seed under the new cells
            # (k-row collect of the re-key the retrain already computed)
            cell_counts.clear()
            for r in rekeyed.groupBy("cell").count().collect():
                cell_counts[int(r["cell"])] = int(r["count"])
        if refresh_log is not None:
            refresh_log.append(
                {"batch_id": upto, "index_rows": int(n), "k_new": int(k_new)}
            )

    def _split_cell(c: int, upto: int) -> None:
        """Hot-cell-targeted refresh (VERDICT r13 item 5): re-key ONLY
        the violating cell's family — flat sub-codebook with k ∝ family
        size, overlay generation + atomic marker, same crash discipline
        as the retrain. O(family) rows rewritten per split; the 2×
        family-growth gate in the caller makes lifetime split cost
        O(family) per family and O(n) overall. The family extraction
        reads the standing index filtered on the cell predicate — I/O
        is bounded by parquet row-group stats on ``cell``; sorting
        generations by cell at fold time would sharpen that pruning if
        splits ever dominate."""
        import json as _json

        import numpy as np

        from pymongraph_spark.operators.similarity import (
            grid_kmeans_cells_fast,
            grid_seeds,
        )

        idx = _standing_index(upto + 1)
        if idx is None:
            return
        fam = idx.filter(_family_pred(c)).localCheckpoint(eager=True)
        n_fam = fam.count()
        if n_fam == 0:  # pragma: no cover — monitor counted a dead cell
            return
        k_split = min(
            _SPLIT_STRIDE - 1, max(2, -(-n_fam // max(1, occupancy_target)))
        )
        qa = fam.select("vec_id", "qarr")
        sub_cells, scells, smat = grid_kmeans_cells_fast(
            qa, grid_seeds(fam, k_split, "vec_id"), 2
        )
        rekeyed = (
            fam.drop("cell")
            .join(sub_cells, "vec_id")
            .select(
                "vec_id",
                "qarr",
                (-(F.lit(int(c)) * _SPLIT_STRIDE + F.col("cell") + 1))
                .cast("long")
                .alias("cell"),
                F.col("b").cast("long").alias("b"),
            )
        )
        rekeyed.write.mode("overwrite").parquet(
            os.path.join(gen_dir, f"p={c}_{upto}")
        )
        # atomic patch commit — the marker makes the overlay visible and
        # carries the sub-codebook inline (k×dim ints, driver metadata)
        marker = {
            "hi": int(upto),
            "rows": int(n_fam),
            "k": int(k_split),
            "epoch": _epoch_hi(),
            "cells": [int(x) for x in scells],
            "cmat": [[int(x) for x in row] for row in smat],
        }
        os.makedirs(retrain_dir, exist_ok=True)
        tmp = os.path.join(retrain_dir, f".p={c}.tmp")
        with open(tmp, "w") as fh:
            _json.dump(marker, fh, sort_keys=True)
        os.replace(tmp, os.path.join(retrain_dir, f"p={c}.json"))
        old = patches.get(c)
        patches[c] = {
            "hi": int(upto),
            "rows": int(n_fam),
            "cells": np.array(marker["cells"], dtype=np.int64),
            "cmat": np.array(marker["cmat"], dtype=np.int64),
        }
        if old is not None and old["hi"] != upto:
            _shutil.rmtree(
                os.path.join(gen_dir, f"p={c}_{old['hi']}"),
                ignore_errors=True,
            )
        if _monitor:
            # re-seed the family's monitor counts under the new sub-cells
            for key in [
                k for k in cell_counts if _to_base(k) == c
            ]:
                del cell_counts[key]
            for r in rekeyed.groupBy("cell").count().collect():
                cell_counts[int(r["cell"])] = int(r["count"])
        if refresh_log is not None:
            refresh_log.append(
                {
                    "batch_id": int(upto),
                    "split_cell": int(c),
                    "family_rows": int(n_fam),
                    "k_split": int(k_split),
                }
            )

    def _load_patches() -> None:
        """Rebuild the committed patch set on restart: markers whose
        epoch matches the current one and whose overlay committed; any
        other p= marker is stale (crash between a global retrain's epoch
        commit and its patch sweep, or an uncommitted overlay) and is
        swept here."""
        import json as _json

        import numpy as np

        if not os.path.isdir(retrain_dir):
            return
        ehi = _epoch_hi()
        for f in os.listdir(retrain_dir):
            if not (f.startswith("p=") and f.endswith(".json")):
                continue
            path = os.path.join(retrain_dir, f)
            try:
                with open(path) as fh:
                    m = _json.load(fh)
                c = int(f[2:-5])
            except (OSError, ValueError):  # pragma: no cover — ours
                continue
            overlay = os.path.join(gen_dir, f"p={c}_{m['hi']}")
            if m.get("epoch", -1) != ehi or not os.path.exists(
                os.path.join(overlay, "_SUCCESS")
            ):
                os.remove(path)
                _shutil.rmtree(overlay, ignore_errors=True)
                continue
            patches[c] = {
                "hi": int(m["hi"]),
                "rows": int(m["rows"]),
                "cells": np.array(m["cells"], dtype=np.int64),
                "cmat": np.array(m["cmat"], dtype=np.int64),
            }

    def _assign(qb: DataFrame) -> DataFrame:
        """The live assignment: the epoch codebook, refined through the
        committed hot-cell patches (rows landing in a patched cell get a
        second map-only argmin against that cell's sub-codebook)."""
        a = assign_ref[0](qb)
        if not patches:
            return a
        import numpy as np
        import pandas as pd

        from pymongraph_spark.operators.similarity import _argmin_kernel

        pc = list(patches)
        pb = {c: (p["cells"], p["cmat"]) for c, p in patches.items()}

        def refine(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                q = np.stack(pdf["qarr"].to_numpy()).astype(np.int64)
                base = pdf["cell"].to_numpy()
                out = np.empty(len(pdf), dtype=np.int64)
                for c in np.unique(base):
                    mask = base == c
                    scells, smat = pb[int(c)]
                    out[mask] = -(
                        int(c) * _SPLIT_STRIDE
                        + scells[_argmin_kernel(smat)(q[mask])]
                        + 1
                    )
                yield pd.DataFrame({"vec_id": pdf["vec_id"], "cell": out})

        joined = a.join(qb.select("vec_id", "qarr"), "vec_id")
        refined = (
            joined.filter(F.col("cell").isin(pc))
            .select("vec_id", "qarr", "cell")
            .mapInPandas(refine, schema="vec_id bigint, cell bigint")
        )
        return (
            a.filter(~F.col("cell").isin(pc))
            .select("vec_id", "cell")
            .unionByName(refined)
        )

    assign_ref = [make_assign(emb)]
    if refresh is not None or split_at is not None:
        ehi = _epoch_hi()
        if ehi >= 0:
            # restart into a committed epoch: load the persisted codebook
            # artifact (checksummed against the marker — no kmeans job on
            # a clean restart); fall back to re-running the deterministic
            # retrain over the rows b<=ehi when the artifact is missing
            # or corrupt (the re-key only relocated cells — vec_id/qarr
            # content is identical to what the original fire trained on,
            # so the rebuild is bit-exact)
            loaded = _load_epoch_codebook(ehi)
            if loaded is not None:
                assign_ref[0] = loaded
            else:
                rebuilt, _, _, _, _ = _retrain_codebook(ehi)
                if rebuilt is not None:
                    assign_ref[0] = rebuilt
        _load_patches()  # committed hot-cell patches survive restarts
        if ehi >= 0 or patches:
            _gc_contained_gens()  # finish any interrupted retirement
    if _monitor:
        seeded = _standing_index(1 << 62)
        if seeded is not None:
            # restart-correct monitor (needed once refresh consumes it):
            # seed the counts from the standing index so a replayed or
            # resumed stream evaluates the fire rule on true occupancy
            for r in seeded.groupBy("cell").count().collect():
                cell_counts[int(r["cell"])] = int(r["count"])

    if not os.path.isdir(input_dir):  # restart keeps the staged waves
        staged: list[str] = []
        for wave in range(waves):
            emb.filter(F.col("vec_id") % waves == wave).coalesce(1).write.mode(
                "append"
            ).parquet(input_dir)
            seen = set(staged)
            staged.extend(sorted(p for p in _data_files(input_dir) if p not in seen))
        stamp_monotone_mtimes(input_dir, order=staged)

    schema = spark.read.parquet(input_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        t0 = _time.perf_counter()
        bdir = os.path.join(index_dir, f"b={batch_id}")
        gens = _committed_gens()
        # a replayed batch already fully committed (or compacted) skips
        # its data work, but must NOT skip the refresh evaluation below:
        # the crash window between the batch's index commit and the
        # retrain's epoch marker replays exactly this way, and an early
        # return would strand the stream on the stale codebook
        already = (gens and batch_id <= gens[-1][1]) or os.path.exists(
            os.path.join(bdir, "_SUCCESS")
        )
        if not already:
            qb = quantize_arr(
                batch_df, "vec_id", "embedding", GRID_SCALE, out="qarr"
            )
            probe = (
                qb.join(_assign(qb), "vec_id")
                .select("vec_id", "qarr", "cell")
                .localCheckpoint(eager=True)  # reused twice below
            )
            standing = _standing_index(batch_id)
            if standing is not None:
                pairs = (
                    probe.select(
                        F.col("vec_id").alias("vec_id_new"),
                        F.col("qarr").alias("__qn"),
                        "cell",
                    )
                    .join(
                        standing.select(
                            F.col("vec_id").alias("vec_id_corpus"),
                            F.col("qarr").alias("__qc"),
                            "cell",
                        ),
                        "cell",
                    )
                    .select(
                        "vec_id_new",
                        "vec_id_corpus",
                        _l2sq_arr(F.col("__qn"), F.col("__qc")).alias("l2sq"),
                    )
                    .filter(F.col("l2sq") <= F.lit(threshold))
                )
                # pairs before index: a crash between the two leaves the
                # pair subdir committed and the index subdir absent — the
                # replay overwrites both with identical content
                pairs.write.mode("overwrite").parquet(
                    os.path.join(pairs_dir, f"b={batch_id}")
                )
            probe.write.mode("overwrite").parquet(bdir)
            if _monitor:
                # batch cell counts (k rows, no index scan) accumulate
                # into the driver dict seeded from the standing index
                for r in probe.groupBy("cell").count().collect():
                    cell_counts[r["cell"]] = (
                        cell_counts.get(r["cell"], 0) + r["count"]
                    )
            if occupancy is not None and cell_counts:
                # guarded on non-empty counts (ADVICE r12): an all-empty
                # first micro-batch would otherwise max() over {} and
                # kill the stream
                n_rows = sum(cell_counts.values())
                max_occ = max(cell_counts.values())
                occupancy.append(
                    {
                        "batch_id": batch_id,
                        "n_cells": len(cell_counts),
                        "index_rows": int(n_rows),
                        "mean_occupancy": round(n_rows / len(cell_counts), 2),
                        "max_occupancy": int(max_occ),
                        "needs_refresh": bool(max_occ > 4 * occupancy_target),
                    }
                )
            if compact_every is not None:
                if len(_live_batches()) >= compact_every:
                    _compact(batch_id)
                _fold_pair()  # staggered major: at most ONE pair per trigger
        if refresh is not None:
            hot_blocked = None
            if isinstance(refresh, int):
                fire = batch_id == refresh
            else:
                # occupancy rule WITH GROWTH HYSTERESIS: re-fire only
                # once the index has grown >= 2x since the last retrain.
                # The decade-2 probe (20k vectors, clustered data)
                # showed why the raw rule can't run un-dampened: a hot
                # cluster keeps max-occupancy above the threshold no
                # matter how well-sized the codebook is, so the rule
                # re-fired EVERY trigger (7 O(index) retrains in 8
                # waves). Geometric spacing bounds total retrain cost
                # at O(n) over the stream's life (n + n/2 + n/4 + ...)
                # and each retrain still lands within 2x of the ideal
                # k∝n point. Durable across restarts: the baseline is
                # the index_rows recorded in the committed marker.
                viol = bool(
                    cell_counts
                    and max(cell_counts.values()) > 4 * occupancy_target
                )
                fire = viol and sum(cell_counts.values()) >= 2 * _epoch_rows()
                if split_hot and viol and not fire:
                    # the occupancy rule tripped but the growth gate
                    # blocked the global fire — target just the hot
                    # cell (ties to the smallest cell id: a total order
                    # replays deterministically, unlike dict-insertion
                    # order)
                    hot_blocked = min(
                        cell_counts, key=lambda k2: (-cell_counts[k2], k2)
                    )
            if fire and _epoch_hi() < batch_id:
                _retrain(batch_id)
            elif hot_blocked is not None:
                c = _to_base(hot_blocked)
                p = patches.get(c)
                fam_rows = sum(
                    v for k2, v in cell_counts.items() if _to_base(k2) == c
                )
                # per-family 2x-growth hysteresis, baseline durable in the
                # patch marker — same discipline as the global rule; at
                # most one split per trigger (this one)
                if p is None or (
                    p["hi"] < batch_id and fam_rows >= 2 * p["rows"]
                ):
                    _split_cell(c, batch_id)
        if split_at is not None and batch_id == split_at and cell_counts:
            # forced split (st97 gate): hottest cell under the same
            # deterministic tie-break as the organic path; idempotent
            # across replays — the committed marker's hi equals this
            # trigger, so a replayed batch skips the re-fire
            hot = min(cell_counts, key=lambda k2: (-cell_counts[k2], k2))
            c = _to_base(hot)
            p = patches.get(c)
            if p is None or p["hi"] < batch_id:
                _split_cell(c, batch_id)
        if batch_times is not None and not already:
            batch_times.append(
                (batch_id, probe.count(), round(_time.perf_counter() - t0, 3))
            )

    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    if occupancy is not None and cell_counts:
        # end-state row (marked, so per-trigger consumers can filter):
        # the per-trigger rows read occupancy BEFORE that trigger's
        # refresh action, so the post-drain standing state — what a
        # steady-state occupancy claim is actually about — was invisible
        n_rows = sum(cell_counts.values())
        occupancy.append(
            {
                "end_state": True,
                "n_cells": len(cell_counts),
                "index_rows": int(n_rows),
                "mean_occupancy": round(n_rows / len(cell_counts), 2),
                "max_occupancy": int(max(cell_counts.values())),
            }
        )
    if not os.path.isdir(pairs_dir):
        return spark.createDataFrame(
            [], "vec_id_new bigint, vec_id_corpus bigint, l2sq bigint"
        )
    return (
        spark.read.parquet(pairs_dir)
        .select("vec_id_new", "vec_id_corpus", "l2sq")  # drop partition col b
        .distinct()
    )


def _st91_oracle() -> str:
    """DuckDB replay: the d58 exact-grid kmeans prefix (same codebook the
    stream pretrains) + cross-wave same-cell pairs under the integer-L2²
    threshold. Waves are vec_id % 4 and the stream probes only EARLIER
    waves (mtime-monotone staging makes wave order deterministic), so
    orientation is wave(new) > wave(corpus)."""
    from pymongraph_spark.queries.llm import _GRID_SCALE, _WHOLE_VEC, _grid_cells_cte

    return f"""
    {_grid_cells_cte(16, 2, _WHOLE_VEC, _GRID_SCALE)}
    , pairs AS (
      SELECT a.vec_id AS vec_id_new, b.vec_id AS vec_id_corpus
      FROM bf a JOIN bf b ON a.cell = b.cell AND a.sub = b.sub
      WHERE a.vec_id % 4 > b.vec_id % 4
    ), pd AS (
      SELECT p.vec_id_new, p.vec_id_corpus,
             CAST(SUM((q1.qv - q2.qv) * (q1.qv - q2.qv)) AS BIGINT) AS l2sq
      FROM pairs p
      JOIN q q1 ON q1.vec_id = p.vec_id_new
      JOIN q q2 ON q2.vec_id = p.vec_id_corpus AND q2.dim = q1.dim
      GROUP BY p.vec_id_new, p.vec_id_corpus
    )
    SELECT vec_id_new, vec_id_corpus, l2sq FROM pd WHERE l2sq <= {_ST91_T}
    """


query("st91_streaming_embedding_neardup", oracle=_st91_oracle())(
    st91_streaming_embedding_neardup
)


# --------------------------------------------------------------------------
# st92: streaming embedding near-dup with a HIERARCHICAL pretrained
# codebook (VERDICT r10 item 1 — the one measured scale-killer left
# standing): st91's flat codebook keeps per-trigger cost O(batch ×
# same-cell index rows), which at FIXED k grows linearly with the
# standing corpus (measured 11.9× for 10×, SCALE_PROBE_st91.json) — and
# growing a flat k is exactly the k∝n regime d58 proved super-linear.
# Here the stream reuses the d62 coarse+fine codebook
# (operators/dedup.hierarchical_codebook): assignment is still map-only
# but costs O(√k) products per vector, so k can scale WITH the corpus —
# bounded cell occupancy, flat per-trigger cost at any standing-index
# size (two-scale probe with k∝n: SCALE_PROBE_st92.json). Same
# batch-id-keyed idempotent sinks and mtime-monotone staging as st91;
# oracle = the d62 unrolled two-level kmeans leaf assignment + the
# cross-wave same-leaf pair join under the d58 integer-L2² threshold.
# --------------------------------------------------------------------------
def _make_hier_assign(emb: DataFrame):
    from pymongraph_spark.operators.dedup import (
        assign_hierarchical,
        hierarchical_codebook,
    )

    # the gate pins k=16: the DuckDB oracle is a static unrolled-CTE
    # string that must replay the same codebook. Production sizing is
    # dedup.codebook_k_for(n_corpus) — k∝n at bounded occupancy,
    # probe-verified (SCALE_PROBE_st92.json: trigger ratio 1.03 at
    # 10× standing index) and unit-pinned.
    cells_arr, cmat, fine_cb = hierarchical_codebook(emb, k_clusters=16, iters=2)
    return lambda qb: assign_hierarchical(qb, cells_arr, cmat, fine_cb)


def _st92_run(spark: SparkSession, sf_dir: str, base: str, **kw) -> DataFrame:
    """st92 body, restartable on an existing ``base`` (the _st91_run
    contract); ``kw`` forwards compact_every / occupancy / batch_times
    to the shared core (st94 and the probes use these)."""
    from pymongraph_spark.catalog import load_tables

    emb = load_tables(spark, sf_dir)["embeddings"].select("vec_id", "embedding")
    return _stream_neardup_run(spark, emb, base, _ST91_T, _make_hier_assign, **kw)


def st92_streaming_embedding_neardup_hier(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    import shutil

    base = scratch_dir("st92_embneardup", sf_dir)
    shutil.rmtree(base, ignore_errors=True)  # idempotent across re-runs
    return _st92_run(spark, sf_dir, base)


def _st92_oracle() -> str:
    """DuckDB replay: the d62 two-level kmeans leaf assignment (the same
    codebook the stream pretrains — _hier_leaf_parts is d62's own leaf
    CTE chain) + cross-wave same-leaf pairs under the integer-L2²
    threshold, orientation wave(new) > wave(corpus) as in st91."""
    from pymongraph_spark.queries.llm import _hier_leaf_parts

    return f"""
    {_hier_leaf_parts(16, 2)}
    , pairs AS (
      SELECT a.vec_id AS vec_id_new, b.vec_id AS vec_id_corpus
      FROM leaf a JOIN leaf b ON a.cell = b.cell
      WHERE a.vec_id % 4 > b.vec_id % 4
    ), pd2 AS (
      SELECT p.vec_id_new, p.vec_id_corpus,
             CAST(SUM((q1.qv - q2.qv) * (q1.qv - q2.qv)) AS BIGINT) AS l2sq
      FROM pairs p
      JOIN q q1 ON q1.vec_id = p.vec_id_new
      JOIN q q2 ON q2.vec_id = p.vec_id_corpus AND q2.dim = q1.dim
      GROUP BY p.vec_id_new, p.vec_id_corpus
    )
    SELECT vec_id_new, vec_id_corpus, l2sq FROM pd2 WHERE l2sq <= {_ST91_T}
    """


query("st92_streaming_embedding_neardup_hier", oracle=_st92_oracle())(
    st92_streaming_embedding_neardup_hier
)


# --------------------------------------------------------------------------
# st94: st92 with STANDING-INDEX COMPACTION live (VERDICT r11 item 2) —
# the same hierarchical streaming near-dup, but every 2 committed batches
# the size-tiered generation-fold + retirement-GC path (the store.py LSM
# discipline) folds the fresh per-trigger b=N subdirs into a generation
# file (minor), then folds at most one near-equal-size adjacent
# generation pair per trigger (staggered binary-counter major — see
# _fold_pair) — live per-batch subdirs stay ≤ compact_every and
# generations ≤ log₂(minors)+1 at any trigger count instead of growing
# one subdir per trigger forever, with total fold bytes O(n log n) over
# the stream's life. Pair results
# are IDENTICAL to st92 by construction (the fold only relocates rows;
# the b < batch_id replay prune applies to the generation's explicit b
# column) — so st94 shares st92's oracle verbatim, and the gate hash-
# checks that compaction never changes an answer. Flat per-trigger wall
# + bounded file count at 50 triggers: scripts/probe_st94_compaction.py.
# --------------------------------------------------------------------------
def st94_streaming_neardup_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    base = scratch_dir("st94_embneardup", sf_dir)
    shutil.rmtree(base, ignore_errors=True)  # idempotent across re-runs
    return _st92_run(spark, sf_dir, base, compact_every=2)


query("st94_streaming_neardup_compacted", oracle=_st92_oracle())(
    st94_streaming_neardup_compacted
)


# --------------------------------------------------------------------------
# st96: streaming near-dup with a MID-STREAM CODEBOOK RETRAIN (VERDICT r12
# item 1 — the monitor→retrain consumer, the tier's last unguarded scale
# assumption): the stream starts DELIBERATELY UNDERSIZED — a flat k=4
# codebook pretrained on wave 0 only, the "stream outgrew its pretrain
# corpus" drift the occupancy monitor catches — and at the end of trigger
# 2 RETRAINS a hierarchical k=16 codebook on the standing index (waves
# 0-2) and RE-KEYS the index through the generation-fold machinery (a
# retrain is a major compaction with a new assignment function; epoch
# commit via the atomic retrain marker, replay-idempotent — see
# _stream_neardup_run's refresh docstring). Waves 1-2 probe under the
# undersized codebook; wave 3 probes the re-keyed index under the
# retrained one; the final pair set is the union, and the oracle replays
# BOTH codebooks — a k=4 kmeans TRAINED ON WAVE 0 ONLY but assigning all
# vectors, then the d62 two-level kmeans TRAINED ON WAVES 0-2 assigning
# all vectors — so the retrain seam (train-on-subset → assign-everyone →
# re-key → probe) is cross-engine-gated end to end.
# The gate PINS the fire trigger (2) and the retrain k (16) because the
# DuckDB oracle is a static string (the st92 pins-k=16 precedent); the
# production path — refresh="occupancy", k=codebook_k_for(index_rows) —
# runs the same code and is probe-verified (scripts/probe_retrain.py:
# post-retrain max occupancy back at the design point, per-trigger cost
# re-flattened) and unit-tested (tests/test_streaming_state.py).
# --------------------------------------------------------------------------
_ST96_K_UNDERSIZED = 4
_ST96_FIRE_AT = 2
_ST96_K_RETRAIN = 16


def _st96_make_undersized_assign(emb: DataFrame):
    """Flat k=4 exact-grid codebook pretrained on WAVE 0 ONLY — the
    st91 recipe restricted to the first ingest wave, i.e. the codebook a
    stream that outgrew its pretrain corpus is stuck with."""
    from pymongraph_spark.operators.similarity import (
        GRID_SCALE,
        _assign_from_matrix,
        grid_kmeans_cells_fast,
        grid_seeds,
        quantize_arr,
    )

    wave0 = emb.filter(F.col("vec_id") % 4 == 0)
    qa = quantize_arr(wave0, "vec_id", "embedding", GRID_SCALE, out="qarr")
    _, cells_arr, cmat = grid_kmeans_cells_fast(
        qa, grid_seeds(wave0, _ST96_K_UNDERSIZED, "vec_id"), 2
    )
    return lambda qb: _assign_from_matrix(qb, cells_arr, cmat)


def _st96_run(spark: SparkSession, sf_dir: str, base: str, **kw) -> DataFrame:
    from pymongraph_spark.catalog import load_tables

    emb = load_tables(spark, sf_dir)["embeddings"].select("vec_id", "embedding")
    kw.setdefault("refresh", _ST96_FIRE_AT)
    kw.setdefault("refresh_k", _ST96_K_RETRAIN)
    return _stream_neardup_run(
        spark, emb, base, _ST91_T, _st96_make_undersized_assign, **kw
    )


def st96_streaming_neardup_retrain(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    base = scratch_dir("st96_embneardup", sf_dir)
    shutil.rmtree(base, ignore_errors=True)  # idempotent across re-runs
    return _st96_run(spark, sf_dir, base)


def _st96_flat_split_ctes(
    k: "int | str", iters: int, train_pred: str, tag: str
) -> str:
    """Unrolled flat-kmeans CTE chain TRAINED on the ``train_pred``
    subset but ASSIGNING every vector (ends at ``bf{tag}``) — the
    _grid_cells_cte arithmetic (same seeds rule, Lloyd rounds, truncated
    means, (d, cell) tie-break) with the train/assign split a mid-stream
    retrain introduces: the codebook only ever saw part of the stream,
    yet assigns all of it. Assumes ``q`` (vec_id, dim, qv) is already in
    scope; {{v}} in train_pred is replaced by the vec_id reference.
    ``k`` may be a SQL scalar-subquery string (st97 sizes the split
    sub-codebook from the family count, data the oracle must compute)."""
    tp = train_pred.format(v="vec_id")
    tpq = train_pred.format(v="q.vec_id")
    parts = [
        f"""
    rid{tag} AS (
      SELECT vec_id,
             row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1
               AS cell
      FROM (SELECT DISTINCT vec_id FROM embeddings WHERE {tp})
    ),
    seeds{tag} AS (SELECT CAST(cell AS BIGINT) AS cell, vec_id
                   FROM rid{tag} WHERE cell < {k}),
    c{tag}0 AS (SELECT s.cell, q.dim, q.qv AS cv
                FROM seeds{tag} s JOIN q USING (vec_id))"""
    ]
    for i in range(1, iters + 1):
        parts.append(f"""
    , a{tag}{i} AS (
      SELECT q.vec_id, c.cell, SUM((q.qv - c.cv) * (q.qv - c.cv)) AS d
      FROM q JOIN c{tag}{i - 1} c ON q.dim = c.dim
      WHERE {tpq}
      GROUP BY q.vec_id, c.cell
    ), b{tag}{i} AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
        FROM a{tag}{i}) WHERE rn = 1
    ), c{tag}{i} AS (
      SELECT b.cell, q.dim, SUM(q.qv) // COUNT(*) AS cv
      FROM b{tag}{i} b JOIN q ON q.vec_id = b.vec_id
      GROUP BY b.cell, q.dim
    )""")
    parts.append(f"""
    , af{tag} AS (
      SELECT q.vec_id, c.cell, SUM((q.qv - c.cv) * (q.qv - c.cv)) AS d
      FROM q JOIN c{tag}{iters} c ON q.dim = c.dim
      GROUP BY q.vec_id, c.cell
    ), bf{tag} AS (
      SELECT vec_id, cell FROM (
        SELECT vec_id, cell,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
        FROM af{tag}) WHERE rn = 1
    )""")
    return "".join(parts)


def _st96_hier_split_ctes(k: int, iters: int, train_pred: str, tag: str) -> str:
    """Two-level (coarse → fine) split-training chain ending at
    ``leaf{tag}`` — the _hier_leaf_parts arithmetic (fine seeds = k2
    smallest train vec_ids per coarse cell, per-cell Lloyd, (d, fine)
    tie-break, leaf = coarse·2^20 + fine) with training restricted to
    ``train_pred`` rows and the FINAL assignment over every vector, the
    hierarchical_codebook/assign_hierarchical contract the retrain
    uses."""
    import math

    k1 = max(2, math.isqrt(max(k - 1, 0)) + 1)
    k2 = max(1, -(-k // k1))
    tpq = train_pred.format(v="q.vec_id")
    tpv = train_pred.format(v="vec_id")
    parts = [_st96_flat_split_ctes(k1, iters, train_pred, tag)]
    parts.append(f"""
    , fs{tag} AS (
      SELECT vec_id, cell AS coarse,
             row_number() OVER (PARTITION BY cell ORDER BY vec_id) - 1 AS fine
      FROM bf{tag}
      WHERE {tpv}
      QUALIFY fine < {k2}
    ), fc{tag}0 AS (
      SELECT fs.coarse, fs.fine, q.dim, q.qv AS cv
      FROM fs{tag} fs JOIN q USING (vec_id)
    )""")
    for i in range(1, iters + 1):
        parts.append(f"""
    , fa{tag}{i} AS (
      SELECT q.vec_id, fc.fine,
             SUM((q.qv - fc.cv) * (q.qv - fc.cv)) AS d
      FROM q JOIN bf{tag} ON bf{tag}.vec_id = q.vec_id
             JOIN fc{tag}{i - 1} fc
               ON fc.coarse = bf{tag}.cell AND fc.dim = q.dim
      WHERE {tpq}
      GROUP BY q.vec_id, fc.fine
    ), fb{tag}{i} AS (
      SELECT vec_id, fine FROM (
        SELECT vec_id, fine,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, fine) AS rn
        FROM fa{tag}{i}) WHERE rn = 1
    ), fc{tag}{i} AS (
      SELECT bf{tag}.cell AS coarse, fb.fine, q.dim, SUM(q.qv) // COUNT(*) AS cv
      FROM fb{tag}{i} fb JOIN q ON q.vec_id = fb.vec_id
                    JOIN bf{tag} ON bf{tag}.vec_id = fb.vec_id
      GROUP BY bf{tag}.cell, fb.fine, q.dim
    )""")
    parts.append(f"""
    , faf{tag} AS (
      SELECT q.vec_id, fc.fine,
             SUM((q.qv - fc.cv) * (q.qv - fc.cv)) AS d
      FROM q JOIN bf{tag} ON bf{tag}.vec_id = q.vec_id
             JOIN fc{tag}{iters} fc
               ON fc.coarse = bf{tag}.cell AND fc.dim = q.dim
      GROUP BY q.vec_id, fc.fine
    ), leaf{tag} AS (
      SELECT f.vec_id, bf{tag}.cell * {1 << 20} + f.fine AS cell
      FROM (
        SELECT vec_id, fine FROM (
          SELECT vec_id, fine,
                 row_number() OVER (PARTITION BY vec_id ORDER BY d, fine) AS rn
          FROM faf{tag}) WHERE rn = 1
      ) f JOIN bf{tag} ON bf{tag}.vec_id = f.vec_id
    )""")
    return "".join(parts)


def _st96_oracle() -> str:
    """DuckDB replay of the retrain seam end to end: codebook A = flat
    k=4 kmeans TRAINED ON WAVE 0 only (the undersized pretrain),
    codebook B = the d62 two-level k=16 kmeans TRAINED ON WAVES 0-2
    (what the trigger-2 retrain fits to the standing index), both
    assigning every vector. Waves 1-2 pair under A against earlier
    waves; wave 3 pairs under B against waves 0-2 (the re-keyed
    standing index); union, exact integer-L2² threshold."""
    from pymongraph_spark.queries.llm import _GRID_SCALE

    return f"""
    WITH ex AS (
      SELECT vec_id,
             CAST(unnest(embedding) AS DOUBLE) AS val,
             unnest([i for i in generate_series(0, len(embedding) - 1)]) AS dim
      FROM embeddings
    ),
    q AS (SELECT vec_id, dim, CAST(floor(val * {_GRID_SCALE}) AS BIGINT) AS qv
          FROM ex),
    {_st96_flat_split_ctes(_ST96_K_UNDERSIZED, 2, "{v} % 4 = 0", "u")},
    {_st96_hier_split_ctes(_ST96_K_RETRAIN, 2, "{v} % 4 <= " + str(_ST96_FIRE_AT), "r")},
    pairs_u AS (
      SELECT a.vec_id AS vec_id_new, b.vec_id AS vec_id_corpus
      FROM bfu a JOIN bfu b ON a.cell = b.cell
      WHERE a.vec_id % 4 IN (1, 2) AND b.vec_id % 4 < a.vec_id % 4
    ),
    pairs_r AS (
      SELECT a.vec_id AS vec_id_new, b.vec_id AS vec_id_corpus
      FROM leafr a JOIN leafr b ON a.cell = b.cell
      WHERE a.vec_id % 4 = 3 AND b.vec_id % 4 < 3
    ),
    allp AS (SELECT * FROM pairs_u UNION ALL SELECT * FROM pairs_r),
    pd96 AS (
      SELECT p.vec_id_new, p.vec_id_corpus,
             CAST(SUM((q1.qv - q2.qv) * (q1.qv - q2.qv)) AS BIGINT) AS l2sq
      FROM allp p
      JOIN q q1 ON q1.vec_id = p.vec_id_new
      JOIN q q2 ON q2.vec_id = p.vec_id_corpus AND q2.dim = q1.dim
      GROUP BY p.vec_id_new, p.vec_id_corpus
    )
    SELECT vec_id_new, vec_id_corpus, l2sq FROM pd96 WHERE l2sq <= {_ST91_T}
    """


query("st96_streaming_neardup_retrain", oracle=_st96_oracle())(
    st96_streaming_neardup_retrain
)


# --------------------------------------------------------------------------
# st97: streaming near-dup with a HOT-CELL SPLIT fired mid-stream — the
# round-14 targeted-refresh seam (VERDICT r13 item 5), cross-engine
# gated the way st96 gates the global retrain. The stream runs st96's
# undersized wave-0 flat k=4 codebook WITHOUT a global retrain; at the
# end of trigger 2 the hottest cell (max standing count, ties to the
# smallest cell id — the deterministic pick the engine and the oracle
# share) is split: a flat sub-codebook with k = min(63, max(2,
# ceil(family/25))) is trained on the family rows that have arrived by
# then, the family is re-keyed into sub-cells -(c·64+j+1) through an
# overlay generation + atomic marker, and trigger 3's arrivals landing
# in the hot cell are refined through the same sub-codebook before
# pairing. Pairs: waves 1-2 under the plain codebook; wave 3 under the
# patched assignment against the re-keyed standing index. The DuckDB
# oracle replays every stage statically — hottest-cell argmax, family
# membership, ceil-division k sizing (a scalar subquery threaded into
# the shared flat-kmeans CTE builder), sub-codebook Lloyd rounds, and
# the two pairing regimes. Fire placement is pinned (split_at=2), the
# st96/st92 precedent: the occupancy-driven path is what production
# runs (probe scripts/probe_retrain.py retrain_split arm + unit tests).
# --------------------------------------------------------------------------
_ST97_SPLIT_AT = 2
_ST97_TARGET = 25


def _st97_run(spark: SparkSession, sf_dir: str, base: str, **kw) -> DataFrame:
    from pymongraph_spark.catalog import load_tables

    emb = load_tables(spark, sf_dir)["embeddings"].select("vec_id", "embedding")
    kw.setdefault("split_at", _ST97_SPLIT_AT)
    kw.setdefault("occupancy_target", _ST97_TARGET)
    return _stream_neardup_run(
        spark, emb, base, _ST91_T, _st96_make_undersized_assign, **kw
    )


def st97_streaming_neardup_hotsplit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    base = scratch_dir("st97_embneardup", sf_dir)
    shutil.rmtree(base, ignore_errors=True)  # idempotent across re-runs
    return _st97_run(spark, sf_dir, base)


def _st97_oracle() -> str:
    """DuckDB replay of the hot-cell split seam end to end: codebook A
    = st96's flat k=4 wave-0 pretrain assigning everyone; the hottest
    cell at trigger 2 (count over arrivals vec_id%4 <= 2, ties to the
    smallest cell) gets a flat sub-codebook trained on exactly those
    family rows, sized k = min(63, max(2, ceil(family/25))); wave-3
    pairing runs under the patched assignment (family rows — standing
    AND new — re-keyed to -(c·64+j+1)), waves 1-2 under plain A."""
    from pymongraph_spark.queries.llm import _GRID_SCALE

    return f"""
    WITH ex AS (
      SELECT vec_id,
             CAST(unnest(embedding) AS DOUBLE) AS val,
             unnest([i for i in generate_series(0, len(embedding) - 1)]) AS dim
      FROM embeddings
    ),
    q AS (SELECT vec_id, dim, CAST(floor(val * {_GRID_SCALE}) AS BIGINT) AS qv
          FROM ex),
    {_st96_flat_split_ctes(_ST96_K_UNDERSIZED, 2, "{v} % 4 = 0", "u")},
    hot97 AS (
      SELECT cell FROM bfu WHERE vec_id % 4 <= {_ST97_SPLIT_AT}
      GROUP BY cell ORDER BY COUNT(*) DESC, cell LIMIT 1
    ),
    fam97 AS (
      SELECT vec_id FROM bfu
      WHERE cell = (SELECT cell FROM hot97)
        AND vec_id % 4 <= {_ST97_SPLIT_AT}
    ),
    k97 AS (
      SELECT LEAST({_SPLIT_STRIDE - 1},
                   GREATEST(2, CAST(CEIL(COUNT(*) / {_ST97_TARGET}.0)
                                    AS BIGINT))) AS k
      FROM fam97
    ),
    {_st96_flat_split_ctes(
        "(SELECT k FROM k97)",
        2,
        "{v} IN (SELECT vec_id FROM fam97)",
        "s",
    )},
    final97 AS (
      SELECT b.vec_id,
             CASE WHEN b.cell = (SELECT cell FROM hot97)
                  THEN -((SELECT cell FROM hot97) * {_SPLIT_STRIDE}
                         + s.cell + 1)
                  ELSE b.cell END AS cell
      FROM bfu b JOIN bfs s ON s.vec_id = b.vec_id
    ),
    pairs_pre AS (
      SELECT a.vec_id AS vec_id_new, b.vec_id AS vec_id_corpus
      FROM bfu a JOIN bfu b ON a.cell = b.cell
      WHERE a.vec_id % 4 IN (1, 2) AND b.vec_id % 4 < a.vec_id % 4
    ),
    pairs_post AS (
      SELECT a.vec_id AS vec_id_new, b.vec_id AS vec_id_corpus
      FROM final97 a JOIN final97 b ON a.cell = b.cell
      WHERE a.vec_id % 4 = 3 AND b.vec_id % 4 < 3
    ),
    allp AS (SELECT * FROM pairs_pre UNION ALL SELECT * FROM pairs_post),
    pd97 AS (
      SELECT p.vec_id_new, p.vec_id_corpus,
             CAST(SUM((q1.qv - q2.qv) * (q1.qv - q2.qv)) AS BIGINT) AS l2sq
      FROM allp p
      JOIN q q1 ON q1.vec_id = p.vec_id_new
      JOIN q q2 ON q2.vec_id = p.vec_id_corpus AND q2.dim = q1.dim
      GROUP BY p.vec_id_new, p.vec_id_corpus
    )
    SELECT vec_id_new, vec_id_corpus, l2sq FROM pd97 WHERE l2sq <= {_ST91_T}
    """


query("st97_streaming_neardup_hotsplit", oracle=_st97_oracle())(
    st97_streaming_neardup_hotsplit
)


# --------------------------------------------------------------------------
# st93: streaming PII scrub — t105's battery (functions.text.PII_PATTERNS
# tag + mask, Dolma tagger family) applied ON INGEST, the production
# placement for a scrub: documents arrive in micro-batches (doc_id % 4
# waves, mtime-monotone staging) and each trigger emits the scrubbed
# projection for exactly its batch. Redaction is per-doc deterministic
# and batches partition the corpus, so the union of per-batch outputs
# EQUALS the batch operator's projection — st93 shares t105's oracle
# verbatim (queries/llm._pii_projection is the single code path for
# both). IDEMPOTENT under at-least-once replay: the sink is a
# batch-id-keyed subdir with a _SUCCESS-marker skip (the st91
# discipline), so a replayed batch rewrites identical content.
# Map-only per trigger — no state, no shuffle, O(batch) at any scale.
# --------------------------------------------------------------------------
def st93_streaming_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from pymongraph_spark.catalog import load_tables
    from pymongraph_spark.queries.llm import _pii_projection

    base = scratch_dir("st93_pii", sf_dir)
    input_dir = os.path.join(base, "in")
    out_dir = os.path.join(base, "scrubbed")
    ckpt = os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)  # idempotent across re-runs

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    staged: list[str] = []
    for wave in range(4):
        docs.filter(F.col("doc_id") % 4 == wave).coalesce(1).write.mode(
            "append"
        ).parquet(input_dir)
        seen = set(staged)
        staged.extend(sorted(p for p in _data_files(input_dir) if p not in seen))
    stamp_monotone_mtimes(input_dir, order=staged)

    schema = spark.read.parquet(input_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        bdir = os.path.join(out_dir, f"b={batch_id}")
        if os.path.exists(os.path.join(bdir, "_SUCCESS")):
            return  # replayed batch already fully committed — skip
        _pii_projection(batch_df).write.mode("overwrite").parquet(bdir)

    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir).drop("b")


def _st93_oracle() -> str:
    from pymongraph_spark.queries.llm import _t105_oracle

    return _t105_oracle()


query("st93_streaming_pii_scrub", oracle=_st93_oracle())(st93_streaming_pii_scrub)


# --------------------------------------------------------------------------
# st95: streaming BPE tokenization on ingest — t106's frozen-vocab encode
# (broadcast rank map + greedy apply in mapInPandas) applied per micro-
# batch, the production placement for tokenization in a training-data
# pipeline: documents are token-counted AS THEY ARRIVE, not in a later
# batch sweep. Same st93 shape: doc_id % 4 waves, mtime-monotone staging,
# batch-id-keyed idempotent sinks with a _SUCCESS-marker skip. Encoding
# is per-doc deterministic and batches partition the corpus, so the
# union of per-batch outputs EQUALS the batch operator's projection —
# st95 shares t106's oracle verbatim (queries/llm._t106_projection is
# the single code path for both). Map-only per trigger: no state, no
# shuffle, the frozen merge table broadcasts once — O(batch) at any
# scale, and the rank-map encoder keeps per-doc cost independent of the
# production vocab size (SCALE_PROBE_bpe_encode.json).
# --------------------------------------------------------------------------
def st95_streaming_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from pymongraph_spark.catalog import load_tables
    from pymongraph_spark.queries.llm import _t106_projection

    base = scratch_dir("st95_bpe", sf_dir)
    input_dir = os.path.join(base, "in")
    out_dir = os.path.join(base, "encoded")
    ckpt = os.path.join(base, "ckpt")
    shutil.rmtree(base, ignore_errors=True)  # idempotent across re-runs

    docs = load_tables(spark, sf_dir)["documents"].select("doc_id", "text")
    staged: list[str] = []
    for wave in range(4):
        docs.filter(F.col("doc_id") % 4 == wave).coalesce(1).write.mode(
            "append"
        ).parquet(input_dir)
        seen = set(staged)
        staged.extend(sorted(p for p in _data_files(input_dir) if p not in seen))
    stamp_monotone_mtimes(input_dir, order=staged)

    schema = spark.read.parquet(input_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        bdir = os.path.join(out_dir, f"b={batch_id}")
        if os.path.exists(os.path.join(bdir, "_SUCCESS")):
            return  # replayed batch already fully committed — skip
        _t106_projection(batch_df).write.mode("overwrite").parquet(bdir)

    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(out_dir).drop("b")


def _st95_oracle() -> str:
    from pymongraph_spark.queries.llm import _t106_oracle

    return _t106_oracle()


query("st95_streaming_bpe_encode", oracle=_st95_oracle())(st95_streaming_bpe_encode)
