"""Streaming ingest: foreachBatch upserts into the parquet store, replay
idempotency, and incremental arrival (SURVEY.md §2.11).
"""

from __future__ import annotations

import json

import pytest

from pymongraph_spark.graph import store
from pymongraph_spark.ingest import import_from_json
from pymongraph_spark.ingest.streaming import stream_import

from tests.test_importer import ALL_REPORTS, REPORT_1, REPORT_2, REPORT_3


def _write_reports(dirpath, name, reports):
    dirpath.mkdir(parents=True, exist_ok=True)
    (dirpath / name).write_text("\n".join(json.dumps(r) for r in reports) + "\n")


def _report_batch(spark, report):
    """One report as the batch graph a micro-batch appends: built by
    build_graph_tables, so it carries ``upd`` and a merge of it keeps
    insert-origin props (import_from_json's frames do not)."""
    from pymongraph_spark.ingest import build_graph_tables, staging_frame

    df = spark.createDataFrame([(0, json.dumps(report))], "ord bigint, value string")
    return build_graph_tables(staging_frame(spark, df))


def test_stream_matches_batch(spark, tmp_path):
    inp, st, ckpt = tmp_path / "in", str(tmp_path / "store"), str(tmp_path / "ckpt")
    _write_reports(inp, "batch1.jsonl", ALL_REPORTS)

    q = stream_import(spark, str(inp), st, ckpt)
    q.awaitTermination()

    g_stream = store.load(spark, st)
    g_batch = import_from_json(spark, ALL_REPORTS)
    assert g_stream.vertices.count() == g_batch.vertices.count() == 9
    assert g_stream.edges.count() == g_batch.edges.count() == 11


def test_incremental_arrival_and_replay_idempotency(spark, tmp_path):
    inp, st, ckpt = tmp_path / "in", str(tmp_path / "store"), str(tmp_path / "ckpt")
    _write_reports(inp, "batch1.jsonl", [REPORT_1])
    stream_import(spark, str(inp), st, ckpt).awaitTermination()
    g1 = store.load(spark, st)
    v1, e1 = g1.vertices.count(), g1.edges.count()

    # second file arrives: overlapping resources → upsert, no duplicates
    _write_reports(inp, "batch2.jsonl", [REPORT_2, REPORT_3])
    stream_import(spark, str(inp), st, ckpt).awaitTermination()
    g2 = store.load(spark, st)
    assert g2.vertices.count() == 9
    assert g2.edges.count() == 11
    assert g2.vertices.count() >= v1 and g2.edges.count() >= e1

    # replay the same data with a FRESH checkpoint (simulated reprocess):
    # idempotent upsert → same counts
    stream_import(spark, str(inp), st, str(tmp_path / "ckpt2")).awaitTermination()
    g3 = store.load(spark, st)
    assert g3.vertices.count() == 9
    assert g3.edges.count() == 11

    # residual overwrite across batches: REPORT_3's asn=65001 won
    props = {
        r["label"]: dict(r["props"] or {})
        for r in g3.vertices.filter("label = 'domain'").collect()
        if (r["props"] or {}).get("name") == "evil.example"
    }
    assert props["domain"]["asn"] == "65001"


def test_store_time_travel_and_retention(spark, tmp_path, monkeypatch):
    from pymongraph_spark.graph import store
    from pymongraph_spark.graph.model import PropertyGraph

    def mkgraph(n):
        v = spark.createDataFrame(
            [(i, "thing", None) for i in range(n)], "id: long, label: string, props: map<string,string>"
        )
        e = spark.createDataFrame(
            [(i, i, i + 1, "next", None) for i in range(n - 1)],
            "id: long, src: long, dst: long, label: string, props: map<string,string>",
        )
        return PropertyGraph(v, e)

    path = str(tmp_path / "g")
    store.save(mkgraph(3), path)
    v1 = store.versions(path)[-1]
    store.save(mkgraph(5), path)
    # old version still readable by explicit id (time travel)...
    assert store.load(spark, path, version=v1).vertices.count() == 3
    # ...current load sees the newest
    assert store.load(spark, path).vertices.count() == 5
    # retention is AGE-GATED (same grace policy as the warehouse caches):
    # a third save puts v1 beyond the keep count, but it was committed
    # seconds ago — a concurrent time-travel reader could still be on it
    # — so it must survive this pass...
    store.save(mkgraph(7), path)
    assert v1 in store.versions(path)
    assert store.load(spark, path, version=v1).vertices.count() == 3
    # ...and be collected once the grace window has lapsed
    monkeypatch.setenv("SPARKGRAPH_GC_GRACE_SECONDS", "0")
    store.save(mkgraph(9), path)
    assert v1 not in store.versions(path)
    assert len(store.versions(path)) == 2
    assert store.load(spark, path, version=v1) is None
    assert store.load(spark, path).vertices.count() == 9


def test_lakehouse_probe_and_merge_routing(spark, tmp_path):
    """Every store is parquet version dirs, and merge_into of successive
    batches ends where one batch import of the same reports does. Replay
    is idempotent."""
    import os

    st = str(tmp_path / "store")
    g1, g2 = _report_batch(spark, REPORT_1), _report_batch(spark, REPORT_2)
    merged = store.merge_into(spark, st, g1)
    v1 = merged.vertices.count()
    assert os.path.isdir(os.path.join(st, store._current_version(st)))

    merged2 = store.merge_into(spark, st, g2)
    assert _canon(merged2) == _canon(import_from_json(spark, [REPORT_1, REPORT_2]))
    # replay is idempotent
    merged3 = store.merge_into(spark, st, g2)
    assert _canon(merged3) == _canon(merged2)
    assert merged3.vertices.count() >= v1
    assert merged3.edges.count() == merged2.edges.count()


def test_merge_into_output_readable_via_store_load(spark, tmp_path):
    """merge_into's result is what store.load / store.versions read back,
    and replaying the same batch changes nothing."""
    st = str(tmp_path / "store_roundtrip")
    g1 = import_from_json(spark, [REPORT_1])
    merged = store.merge_into(spark, st, g1)
    loaded = store.load(spark, st)
    assert loaded is not None
    assert loaded.vertices.count() == merged.vertices.count()
    assert loaded.edges.count() == merged.edges.count()
    assert len(store.versions(st)) >= 1
    # replay is idempotent
    merged2 = store.merge_into(spark, st, g1)
    assert merged2.vertices.count() == merged.vertices.count()
    assert merged2.edges.count() == merged.edges.count()
    assert _canon(merged2) == _canon(merged)


def test_store_changes_cdc(spark, tmp_path):
    """store.changes: inserts/deletes keyed by id; identical snapshots
    diff to empty; a missing version fails loudly."""
    import pytest as _pytest

    from pymongraph_spark.graph import store
    from pymongraph_spark.graph.model import PropertyGraph

    def mkgraph(ids):
        v = spark.createDataFrame(
            [(i, "thing", None) for i in ids],
            "id: long, label: string, props: map<string,string>",
        )
        e = spark.createDataFrame(
            [(100 + a, a, b, "next", None) for a, b in zip(ids, ids[1:])],
            "id: long, src: long, dst: long, label: string, props: map<string,string>",
        )
        return PropertyGraph(v, e)

    path = str(tmp_path / "g")
    store.save(mkgraph([0, 1, 2]), path)          # edges 100, 101
    v1 = store.versions(path)[-1]
    store.save(mkgraph([1, 2, 3]), path)          # edges 101, 102
    rows = {
        (r.entity, r.op, r.id)
        for r in store.changes(spark, path, v1).collect()
    }
    assert rows == {
        ("vertex", "delete", 0),
        ("vertex", "insert", 3),
        ("edge", "delete", 100),
        ("edge", "insert", 102),
    }
    # same version against itself → empty feed
    assert store.changes(spark, path, v1, v1).count() == 0
    with _pytest.raises(ValueError):
        store.changes(spark, path, "no-such-version")


# ---------------------------------------------------------------------------
# Log-structured merge mode (store.merge_into_log / load_log / compact_log):
# O(batch) per micro-batch instead of merge_into's O(accumulated store)
# rewrite — the long-running-stream ingest mode. The contract under test:
# identical semantics to sequential full merges, idempotent replays, and
# compaction that preserves the folded state.
# ---------------------------------------------------------------------------


def _pg(spark, vrows, erows):
    from pymongraph_spark.graph.model import PropertyGraph

    v = spark.createDataFrame(
        vrows, "id: long, label: string, props: map<string,string>"
    )
    e = spark.createDataFrame(
        erows, "id: long, src: long, dst: long, label: string, props: map<string,string>"
    )
    return PropertyGraph(v, e)


def _canon(g):
    vs = sorted(
        (r["id"], r["label"], tuple(sorted((r["props"] or {}).items())))
        for r in g.vertices.collect()
    )
    es = sorted(
        (r["id"], r["src"], r["dst"], r["label"], tuple(sorted((r["props"] or {}).items())))
        for r in g.edges.collect()
    )
    return vs, es


def _batches(spark):
    # three batches with a vertex-prop conflict (id 1: b1 sets a=1,x=old;
    # b2 overwrites a=2 and adds y; b3 overwrites y) and an edge-id
    # conflict (edge 10 appears in b1 and b3 — first writer must win)
    b1 = _pg(
        spark,
        [(1, "t", {"a": "1", "x": "old"}), (2, "t", {"b": "1"})],
        [(10, 1, 2, "e", {"w": "first"})],
    )
    b2 = _pg(
        spark,
        [(1, "t", {"a": "2", "y": "y1"}), (3, "t", {"c": "3"})],
        [(11, 2, 3, "e", None)],
    )
    b3 = _pg(
        spark,
        [(1, "t", {"y": "y2"}), (4, "u", {"d": "4"})],
        [(10, 1, 2, "e", {"w": "late-loser"}), (12, 3, 4, "e", None)],
    )
    return [b1, b2, b3]


def test_log_mode_equals_sequential_full_merges(spark, tmp_path):
    full, logd = str(tmp_path / "full"), str(tmp_path / "log")
    for i, b in enumerate(_batches(spark)):
        store.merge_into(spark, full, b)
        store.merge_into_log(spark, logd, b, batch_id=i, compact_every=100)
    assert len(store._committed_deltas(logd)) == 3  # nothing compacted yet
    assert _canon(store.load_log(spark, logd)) == _canon(store.load(spark, full))
    # the conflict rows resolved exactly like sequential $set merges
    g = store.load_log(spark, logd)
    p = {r["id"]: dict(r["props"] or {}) for r in g.vertices.collect()}
    assert p[1] == {"a": "2", "x": "old", "y": "y2"}
    w = {r["id"]: (r["props"] or {}).get("w") for r in g.edges.collect()}
    assert w[10] == "first"  # first edge writer wins, like merge_into


def test_log_mode_compaction_preserves_state_and_drains_log(spark, tmp_path):
    full, logd = str(tmp_path / "full"), str(tmp_path / "log")
    batches = _batches(spark)
    for i, b in enumerate(batches):
        store.merge_into(spark, full, b)
    # compact_every=2: the third append triggers... (2 pending after b2)
    store.merge_into_log(spark, logd, batches[0], batch_id=0, compact_every=2)
    store.merge_into_log(spark, logd, batches[1], batch_id=1, compact_every=2)
    assert len(store._committed_deltas(logd)) == 0  # compacted at 2
    assert store._current_version(logd) is not None
    store.merge_into_log(spark, logd, batches[2], batch_id=2, compact_every=2)
    assert len(store._committed_deltas(logd)) == 1
    assert _canon(store.load_log(spark, logd)) == _canon(store.load(spark, full))
    # explicit compaction drains the rest and load() alone sees everything
    store.compact_log(spark, logd)
    assert len(store._committed_deltas(logd)) == 0
    assert _canon(store.load(spark, logd)) == _canon(store.load(spark, full))


def test_log_mode_replay_and_torn_write_idempotency(spark, tmp_path):
    import os

    logd = str(tmp_path / "log")
    batches = _batches(spark)
    for i, b in enumerate(batches):
        store.merge_into_log(spark, logd, b, batch_id=i, compact_every=100)
    before = _canon(store.load_log(spark, logd))
    # foreachBatch replay: same batch_id re-delivered → same state
    store.merge_into_log(spark, logd, batches[2], batch_id=2, compact_every=100)
    assert _canon(store.load_log(spark, logd)) == before
    # replay AFTER compaction: the _COMPACTED_THROUGH watermark skips the
    # append entirely — re-applying batch 1 on top of a base that already
    # folded batch 2 would re-win its stale y=y1 over y2
    store.compact_log(spark, logd)
    assert store._compacted_through(logd) == 2
    store.merge_into_log(spark, logd, batches[1], batch_id=1, compact_every=100)
    assert store._committed_deltas(logd) == []  # skipped, not re-appended
    assert _canon(store.load_log(spark, logd)) == before
    # torn write: a delta dir without _COMMITTED is invisible to readers
    # and rewritten by the replay
    bdir = os.path.join(logd, "log", "b%012d" % 7)
    os.makedirs(os.path.join(bdir, "vertices"))
    assert "b%012d" % 7 not in store._committed_deltas(logd)
    assert _canon(store.load_log(spark, logd)) == before
    store.merge_into_log(spark, logd, batches[0], batch_id=7, compact_every=100)
    assert os.path.exists(os.path.join(bdir, "_COMMITTED"))


def test_log_mode_drained_deltas_get_gc_grace_window(spark, tmp_path, monkeypatch):
    """r8 ADVICE: compact_log must NOT rmtree delta dirs the moment the
    watermark advances — a PropertyGraph returned by load_log() before the
    compaction is lazy and reads the delta parquet at action time. Drained
    dirs get the same SPARKGRAPH_GC_GRACE_SECONDS window superseded full
    versions get, and a later compaction sweeps the expired ones."""
    import os

    logd = str(tmp_path / "log")
    batches = _batches(spark)
    for i, b in enumerate(batches):
        store.merge_into_log(spark, logd, b, batch_id=i, compact_every=100)
    lazy = store.load_log(spark, logd)  # plan built, NOT executed yet
    monkeypatch.setenv("SPARKGRAPH_GC_GRACE_SECONDS", "1800")
    store.compact_log(spark, logd)
    # drained dirs survive inside the grace window...
    on_disk = [d for d in os.listdir(os.path.join(logd, "log")) if d.startswith("b")]
    assert len(on_disk) == 3
    # ...so the pre-compaction lazy fold can still finish its scan, and it
    # agrees with the compacted base
    assert _canon(lazy) == _canon(store.load(spark, logd))
    # but they are invisible to readers and to the compaction trigger
    assert store._committed_deltas(logd) == []
    # grace expired → the next compaction sweeps them
    monkeypatch.setenv("SPARKGRAPH_GC_GRACE_SECONDS", "-1")
    store.merge_into_log(spark, logd, batches[0], batch_id=10, compact_every=100)
    store.compact_log(spark, logd)
    assert [d for d in os.listdir(os.path.join(logd, "log")) if d.startswith("b")] == []


def test_log_mode_grace_clock_starts_at_retirement_not_commit(
    spark, tmp_path, monkeypatch
):
    """r9 ADVICE: a delta that sat PENDING longer than the grace window
    (slow stream) must NOT be rmtree'd at the instant the watermark
    advances — the grace clock starts when the sweep first observes the
    delta at/below the watermark (a _RETIRED stamp), not at commit mtime."""
    import os
    import time

    logd = str(tmp_path / "log")
    batches = _batches(spark)
    for i, b in enumerate(batches):
        store.merge_into_log(spark, logd, b, batch_id=i, compact_every=100)
    # the deltas sat pending far longer than the grace window
    log = os.path.join(logd, "log")
    stale = time.time() - 3600
    for d in os.listdir(log):
        os.utime(os.path.join(log, d), (stale, stale))
    lazy = store.load_log(spark, logd)  # lazy pre-compaction reader
    monkeypatch.setenv("SPARKGRAPH_GC_GRACE_SECONDS", "300")
    store.compact_log(spark, logd)
    # commit-mtime aging would have deleted all three right here
    on_disk = [d for d in os.listdir(log) if d.startswith("b")]
    assert len(on_disk) == 3
    assert _canon(lazy) == _canon(store.load(spark, logd))


def test_log_fold_ordinal_immune_to_bN_segment_in_store_path(spark, tmp_path):
    """r9 ADVICE: the delta ordinal is decoded from input_file_name();
    an unanchored /b(\\d+)/ regex matches the LEFTMOST occurrence, so a
    store path containing a b<digits> directory segment collapsed every
    delta onto one ordinal and the $set fold resolved arbitrarily."""
    logd = str(tmp_path / "b2" / "store")  # hostile path: /b2/ segment
    batches = _batches(spark)
    for i, b in enumerate(batches):
        store.merge_into_log(spark, logd, b, batch_id=i, compact_every=100)
    g = store.load_log(spark, logd)
    p = {r["id"]: dict(r["props"] or {}) for r in g.vertices.collect()}
    # later batches must still win per key despite the /b2/ prefix
    assert p[1] == {"a": "2", "x": "old", "y": "y2"}
    w = {r["id"]: (r["props"] or {}).get("w") for r in g.edges.collect()}
    assert w[10] == "first"


def test_log_mode_single_writer_lease(spark, tmp_path):
    """r9 VERDICT item 6: the LSM batch-id/watermark protocol is
    single-writer — now an ENFORCED contract, not an implicit one. A
    second live writer errors loudly; leases of dead same-host pids and
    expired leases are taken over; release hands off gracefully."""
    import os
    import socket
    import time as _time

    logd = str(tmp_path / "log")
    b1, b2, b3 = _batches(spark)
    store.merge_into_log(spark, logd, b1, batch_id=0, compact_every=100)
    lease = os.path.join(logd, "log", "_WRITER_LEASE")
    assert os.path.exists(lease)

    # a SECOND writer (fresh token) against a live foreign lease → loud error
    key = os.path.abspath(logd)
    own_token = store._WRITER_TOKENS.pop(key)
    store._write_lease(lease, "otherhost:1:feedface", _time.time() + 600)
    with pytest.raises(store.ConcurrentLogWriterError, match="single-writer"):
        store.merge_into_log(spark, logd, b2, batch_id=1, compact_every=100)
    with pytest.raises(store.ConcurrentLogWriterError):
        store.compact_log(spark, logd)

    # same-host DEAD pid → immediate takeover (no TTL wait)
    dead = f"{socket.gethostname()}:999999999:deadbeef"
    store._write_lease(lease, dead, _time.time() + 600)
    store.merge_into_log(spark, logd, b2, batch_id=1, compact_every=100)
    assert store._WRITER_TOKENS[key] != dead

    # EXPIRED foreign lease → takeover
    store._WRITER_TOKENS.pop(key)
    store._write_lease(lease, "otherhost:1:feedface", _time.time() - 1)
    store.merge_into_log(spark, logd, b3, batch_id=2, compact_every=100)

    # the data survived every handoff with merge semantics intact
    full = str(tmp_path / "allfull")
    for b in (b1, b2, b3):
        store.merge_into(spark, full, b)
    assert _canon(store.load_log(spark, logd)) == _canon(store.load(spark, full))

    # graceful release: lease gone, a fresh claim succeeds
    store.release_log_lease(logd)
    assert not os.path.exists(lease)
    store.merge_into_log(spark, logd, b3, batch_id=3, compact_every=100)


def test_lease_takeover_loser_fails_immediately(spark, tmp_path, monkeypatch):
    """ADVICE r10: two writers observing the same expired lease both
    claim; the LOSER must error at takeover (post-claim re-read), not on
    its next acquire — otherwise its current append interleaves with the
    winner's. Simulated by racing a rival claim into the settle window."""
    import os
    import time as _time

    logd = str(tmp_path / "log")
    b1, b2, _ = _batches(spark)
    store.merge_into_log(spark, logd, b1, batch_id=0, compact_every=100)
    key = os.path.abspath(logd)
    lease = os.path.join(logd, "log", "_WRITER_LEASE")

    # expired foreign lease on disk; we are a fresh writer
    store._WRITER_TOKENS.pop(key)
    store._write_lease(lease, "otherhost:1:feedface", _time.time() - 1)

    real_sleep = _time.sleep

    def rival_claims_during_settle(seconds):
        store._write_lease(lease, "rivalhost:2:cafebabe", _time.time() + 600)
        real_sleep(0)

    monkeypatch.setattr(store.time, "sleep", rival_claims_during_settle)
    with pytest.raises(store.ConcurrentLogWriterError, match="takeover race"):
        store.merge_into_log(spark, logd, b2, batch_id=1, compact_every=100)
    assert key not in store._WRITER_TOKENS
    os.unlink(lease)


def test_release_restores_successor_lease(spark, tmp_path):
    """ADVICE r10: release must not delete a SUCCESSOR's fresh lease —
    the displace-inspect-restore path hands it back intact."""
    import os
    import time as _time

    logd = str(tmp_path / "log")
    b1, _, _ = _batches(spark)
    store.merge_into_log(spark, logd, b1, batch_id=0, compact_every=100)
    lease = os.path.join(logd, "log", "_WRITER_LEASE")

    # a successor (expired-TTL takeover elsewhere) now owns the lease,
    # but OUR process still thinks it does and releases
    exp = _time.time() + 600
    store._write_lease(lease, "successor:3:0ddba11", exp)
    store.release_log_lease(logd)
    with open(lease) as fh:
        assert fh.readline().strip() == "successor:3:0ddba11"
    os.unlink(lease)


def test_stream_import_matches_batch_import_insert_origin(spark, tmp_path):
    """One report per micro-batch ends in the same graph as one batch
    import: a later batch $sets only its update-origin props, so
    insert-origin props keep the first insert (REPORT_2 re-detects
    h-bad-1 with datetime 2020-03-02; REPORT_1's 2020-02-01 stays).
    compact_every=2 makes one compaction fold base + delta."""
    from pymongraph_spark.streaming.staging import stamp_monotone_mtimes

    inp = tmp_path / "in"
    for i, r in enumerate(ALL_REPORTS):
        _write_reports(inp, f"batch{i + 1}.jsonl", [r])
    stamp_monotone_mtimes(str(inp))
    st, ck = str(tmp_path / "store"), str(tmp_path / "ck")
    stream_import(
        spark, str(inp), st, ck, max_files_per_trigger=1, compact_every=2
    ).awaitTermination()
    g = store.load(spark, st)
    det = {
        (r["props"] or {}).get("hash"): dict(r["props"] or {})
        for r in g.vertices.filter("label = 'malicious'").collect()
    }
    assert det["h-bad-1"]["datetime"] == "2020-02-01"
    assert _canon(g) == _canon(import_from_json(spark, ALL_REPORTS))
    assert store._compacted_through(st) >= 0  # a compaction ran
    assert len(store._committed_deltas(st)) == 1  # and one delta is pending


def test_streams_with_separate_checkpoints_take_turns_on_one_store(spark, tmp_path):
    """Batch ids restart at 0 with every checkpoint. Two checkpoints that
    feed one store in turn, the first resumed after the second wrote,
    must each append every batch (none skipped as a replay of the other's
    batch) and end where one batch import of all reports does."""
    from pymongraph_spark.ingest import streaming

    st = str(tmp_path / "store")
    in1, ck1 = tmp_path / "in1", str(tmp_path / "ck1")
    _write_reports(in1, "a.jsonl", [REPORT_1])
    _write_reports(tmp_path / "in2", "b.jsonl", [REPORT_2])
    for inp, ck in ((in1, ck1), (tmp_path / "in2", str(tmp_path / "ck2"))):
        stream_import(spark, str(inp), st, ck, compact_every=1).awaitTermination()
    _write_reports(in1, "c.jsonl", [REPORT_3])
    stream_import(spark, str(in1), st, ck1, compact_every=1).awaitTermination()
    assert store._compacted_through(st) == 2
    assert store._committed_deltas(st) == []
    assert _canon(store.load(spark, st)) == _canon(import_from_json(spark, ALL_REPORTS))
    # a replay of ck1's second batch reads back the store id it took
    assert streaming._store_batch_id(ck1, st, 1) == 2


def test_deltas_without_upd_column_fold_with_set_semantics(spark, tmp_path):
    """Delta dirs written before deltas carried ``upd`` (vertices: id,
    label, props only) keep folding as plain $set of their props, also
    when a new-layout delta is pending in the same scan."""
    import os

    from pymongraph_spark.graph.model import VERTEX_FIELDS, PropertyGraph

    def plain(g):
        return PropertyGraph(g.vertices.select(VERTEX_FIELDS), g.edges)

    g1, g2, g3 = (_report_batch(spark, r) for r in ALL_REPORTS)
    logd = str(tmp_path / "log")
    for bid, g in enumerate((g1, g2)):
        bdir = os.path.join(logd, "log", "b%012d" % bid)
        g.vertices.select(VERTEX_FIELDS).write.parquet(os.path.join(bdir, "vertices"))
        g.edges.write.parquet(os.path.join(bdir, "edges"))
        with open(os.path.join(bdir, "_COMMITTED"), "w") as fh:
            fh.write("ok")
    store.merge_into_log(spark, logd, g3, batch_id=2, compact_every=100)
    full = str(tmp_path / "full")
    for g in (plain(g1), plain(g2), g3):
        store.merge_into(spark, full, g)
    got = store.load_log(spark, logd)
    assert _canon(got) == _canon(store.load(spark, full))
    det = {
        (r["props"] or {}).get("hash"): dict(r["props"] or {})
        for r in got.vertices.filter("label = 'malicious'").collect()
    }
    assert det["h-bad-1"]["datetime"] == "2020-03-02"  # legacy $set of props


def test_mixed_mode_merge_compacts_pending_deltas(spark, tmp_path):
    # full-mode merge on a store with pending log deltas must drain the
    # log (compact first): folding without draining would let a later
    # read re-apply the old batches on top of the new version
    st = str(tmp_path / "mixed")
    b1, b2, b3 = _batches(spark)
    store.merge_into_log(spark, st, b1, batch_id=0, compact_every=100)
    store.merge_into_log(spark, st, b2, batch_id=1, compact_every=100)
    store.merge_into(spark, st, b3)
    assert store._committed_deltas(st) == []
    assert store._compacted_through(st) == 1
    # state equals the all-full-mode sequence
    full = str(tmp_path / "allfull")
    for b in (b1, b2, b3):
        store.merge_into(spark, full, b)
    assert _canon(store.load(spark, st)) == _canon(store.load(spark, full))
