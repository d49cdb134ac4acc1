"""graph_serve: point reads and writes against a live property graph.

Setup streams generated reports into a log-mode graph store the way an
ingest service would: JSON-lines files with distinct mtimes, drained by
``stream_import(available_now=True, max_files_per_trigger=1,
merge_mode="log")``, then ``compact_log`` and ``load_log``; the loaded
graph is checkpointed. (The issue's separate report_etl workload did not
fit the run budget; this keeps its ingest and store layers measured.)

The timed pass is a closed loop of ``CLIENTS`` client threads in this
process; each sends its next request only after the previous one
completed. The request mix is fixed per cycle of 20 requests and the seed
shuffles each cycle; roots are drawn from a Zipf distribution over
vertices ranked by degree, so hubs are hot. A read ends when its result
is collected to the driver; a write ends when its
``PropertyGraph.localCheckpoint()`` commit is done, before the client's
next request, so clients read their own writes.

Every read is compared with a driver-side adjacency (checks.GraphModel)
that the writes keep up to date. The expected answer is taken under the
same lock that swaps the served graph, before the request timer starts.
The store is also compared with a batch ``import_from_json`` of the same
reports (checks.compare_stores).
"""

from __future__ import annotations

import bisect
import json
import os
import random
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

from perfbench import checks, gen
from perfbench.stats import highest_percentile, median, percentile

REPORTS = 1000
FILES = 2
#: The issue asks for 2 clients, dropping to 1 if two do not repeat within
#: the bound. With 2 clients, ten seeds on a 4-core box spread read p50 by
#: 23% and throughput by 14% (interquartile range over median): a read's
#: latency depended on which of the other client's jobs it overlapped.
CLIENTS = 1
DEPTH = 2
ZIPF_S = 1.0
#: one cycle of the request mix: 40% find_neighbors, 15% k_hop, 15%
#: search_vertices, 5% build_graph, 25% writes
CYCLE = (["find_neighbors"] * 8 + ["k_hop"] * 3 + ["search_vertices"] * 3
         + ["build_graph"] + ["insert_nodes", "upsert_edges", "update_vertices",
                              "delete_edges", "write"])
WRITES = ("insert_nodes", "upsert_edges", "update_vertices", "delete_edges")
READS = ("find_neighbors", "k_hop", "search_vertices", "build_graph")
PLAN_PER_CLIENT = 400
WARMUP_CYCLES = 2
WARMUP_THREADS = 4
#: timed cycles per run, at least: the read median then comes from 45 reads
#: over about 30 s (with one cycle, ten seeds spread it by up to 26%)
MIN_CYCLES = 3
NATURAL_KEYS = ("name", "address", "hash", "email")


class GraphServe:
    name = "graph_serve"

    def __init__(self, spark, seed: int, work: str):
        self.spark, self.seed, self.work = spark, seed, work
        self.attempted = self.failed = self.rows_returned = 0
        self.failures: list[str] = []
        self._state = threading.Lock()   # guards (graph, model) swaps
        self._write = threading.Lock()   # serializes writers

    # ------------------------------------------------------------ inputs
    def generate(self) -> None:
        self.lines = gen.reports(self.seed, REPORTS)
        self.input_bytes = sum(len(s) + 1 for s in self.lines)

    def _ingest(self):
        """Stream the report files into a log-mode store and load it."""
        from pymongraph_spark.graph import store
        from pymongraph_spark.ingest.streaming import stream_import

        spark = self.spark
        inp = os.path.join(self.work, "reports")
        os.makedirs(inp, exist_ok=True)
        per = -(-len(self.lines) // FILES)
        for f in range(FILES):
            path = os.path.join(inp, f"part-{f:04d}.jsonl")
            with open(path, "w") as fh:
                fh.write("\n".join(self.lines[f * per:(f + 1) * per]) + "\n")
            # distinct mtimes a second apart: arrival order is file order
            os.utime(path, (1_700_000_000 + f, 1_700_000_000 + f))
        self.store = os.path.join(self.work, "store")
        t0 = time.perf_counter()
        q = stream_import(spark, inp, self.store, os.path.join(self.work, "checkpoint"),
                          available_now=True, max_files_per_trigger=1, merge_mode="log")
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(f"stream_import failed: {q.exception()}")
        store.compact_log(spark, self.store)
        self.ingest = {"drain_s": time.perf_counter() - t0,
                       "progress": [p["durationMs"] for p in q.recentProgress
                                    if p.get("numInputRows", 0) > 0]}
        g = store.load_log(spark, self.store)
        self.ingest["store_written"] = _du(self.store)
        self.ingest["store_on_disk"] = _du(os.path.join(self.store, store._current_version(self.store)))
        return g

    def setup(self) -> None:
        from pymongraph_spark.graph.model import edge_id, vertex_id

        spark = self.spark
        self.g = self._ingest().localCheckpoint()
        vrows = self.g.vertices.select(
            "id", *[F.col("props")[k].alias(k) for k in NATURAL_KEYS]).collect()
        erows = self.g.edges.select("id", "src", "dst").collect()
        self.model = checks.GraphModel(
            ((r["id"], {k: r[k] for k in NATURAL_KEYS if r[k] is not None}) for r in vrows),
            ((r["id"], r["src"], r["dst"]) for r in erows),
        )
        self.key_of = {r["id"]: next(((k, r[k]) for k in NATURAL_KEYS if r[k] is not None), None)
                       for r in vrows}
        ranked = sorted(self.model.verts, key=lambda v: (-self.model.degree(v), v))
        self._plan(ranked)
        # ids of the vertices and edges the planned writes (warm-up included) create
        emails = [p["email"] for plan in self.plans for p in plan if p["kind"] == "insert_nodes"]
        pairs = [(p["src"], p["dst"]) for plan in self.plans for p in plan
                 if p["kind"] == "upsert_edges"]
        new_v = {r["email"]: r["id"] for r in spark.createDataFrame(
            [(e,) for e in emails], "email string").select(
            "email", vertex_id("owner", F.col("email")).alias("id")).collect()}
        for plan in self.plans:
            for p in plan:
                if p["kind"] == "insert_nodes":
                    p["id"] = new_v[p["email"]]
        ins = [(p["id"], p["dst"], "belongTo") for plan in self.plans for p in plan
               if p["kind"] == "insert_nodes"]
        e_ids = {(r["src"], r["dst"], r["label"]): r["id"] for r in spark.createDataFrame(
            [(s, d, "resolve") for s, d in pairs] + ins, "src long, dst long, label string"
        ).select("src", "dst", "label", edge_id(F.col("src"), F.col("dst"), F.col("label"))
                 .alias("id")).collect()}
        for plan in self.plans:
            for p in plan:
                if p["kind"] == "upsert_edges":
                    p["eid"] = e_ids[(p["src"], p["dst"], "resolve")]
                elif p["kind"] == "insert_nodes":
                    p["eid"] = e_ids[(p["id"], p["dst"], "belongTo")]
        # untimed warm-up: whole cycles, their requests dealt out to
        # WARMUP_THREADS threads that run at once (writes still take turns).
        # Within a run the first cycle is ~40% slower than later ones while
        # plans compile and the JIT warms, and the second still ~20% slower
        # than the third; extra cheap reads in place of the second cycle did
        # not make the next cycle faster.
        t0 = time.perf_counter()
        warm = self.plans.pop()[:WARMUP_CYCLES * len(CYCLE)]
        with ThreadPoolExecutor(WARMUP_THREADS) as pool:
            list(pool.map(lambda t: [self._do(spec) for spec in warm[t::WARMUP_THREADS]],
                          range(WARMUP_THREADS)))
        self.warmup_s = time.perf_counter() - t0

    def _plan(self, ranked: list[int]) -> None:
        """Per-client request schedules, in cycles of ``len(CYCLE)``
        requests with the exact mix, shuffled by the seed. Roots follow the
        Zipf-over-degree distribution through a stratified (van der Corput)
        sequence of quantiles per request kind, so even one cycle sees each
        kind's roots spread over the whole distribution (hubs included)
        instead of a lucky or unlucky draw."""
        rng = random.Random(self.seed * 7919 + 1)
        cum = gen.zipf_cum(len(ranked), ZIPF_S)
        cum = [c / cum[-1] for c in cum]
        drawn = dict.fromkeys(READS + WRITES + ("dst",), 0)

        def root(kind: str) -> int:
            q = _van_der_corput(drawn[kind]) + 0.5 / 1024
            drawn[kind] += 1
            return ranked[min(bisect.bisect_left(cum, q), len(ranked) - 1)]

        self.plans = [[] for _ in range(CLIENTS + 1)]  # the last one feeds the warm-up
        while len(self.plans[-1]) < PLAN_PER_CLIENT:
            for c, plan in enumerate(self.plans):
                cycle = list(CYCLE)
                rng.shuffle(cycle)
                for kind in cycle:
                    if kind == "write":  # the fifth write of a cycle rotates
                        kind = WRITES[len(plan) // len(CYCLE) % len(WRITES)]
                    spec = {"kind": kind, "root": root(kind), "client": c, "seq": len(plan)}
                    if kind == "search_vertices":
                        while self.key_of.get(spec["root"]) is None:
                            spec["root"] = root(kind)
                    elif kind == "insert_nodes":
                        spec["email"] = f"bench-{self.seed}-{c}-{len(plan)}@serve.example"
                        spec["dst"] = spec["root"]
                    elif kind == "upsert_edges":
                        spec["src"], spec["dst"] = spec["root"], root("dst")
                    plan.append(spec)
        self.cursor = [0] * CLIENTS

    # ---------------------------------------------------------- requests
    def _expected(self, spec):
        m, kind, root = self.model, spec["kind"], spec["root"]
        if kind == "find_neighbors":
            return m.neighbors(root)
        if kind == "k_hop":
            return m.k_hop(root, DEPTH)
        if kind == "search_vertices":
            return m.search(*self.key_of[root])
        if kind == "build_graph":
            return m.subgraph(root, DEPTH)
        return None

    def _read(self, g, spec):
        from pymongraph_spark.graph import traversal

        kind, root = spec["kind"], spec["root"]
        if kind == "find_neighbors":
            ids, _ = traversal.find_neighbors(g, root)
            return {r[0] for r in ids.collect()}
        if kind == "k_hop":
            ids, _ = traversal.k_hop(g, root, DEPTH)
            return {r[0] for r in ids.collect()}
        if kind == "search_vertices":
            key, value = self.key_of[root]
            return {r[0] for r in g.search_vertices({key: value}).select("id").collect()}
        out = json.loads(traversal.build_graph(g, root=root, depth=DEPTH))["graph"]
        return ({int(v["id"]) for v in out["vertices"]}, {int(e["id"]) for e in out["edges"]})

    def _write_op(self, g, spec):
        """Apply one write; returns (new graph, model update callback)."""
        from pymongraph_spark.graph import writes

        spark, kind, m = self.spark, spec["kind"], self.model
        if kind == "insert_nodes":
            data = spark.createDataFrame([(spec["email"],)], "email string")
            dest = spark.createDataFrame([(spec["email"], spec["dst"])], "email string, dst long")
            g2 = writes.insert_nodes(g, dest, "owner", "belongTo", data, "email")

            def apply():
                m.add_vertex(spec["id"], {"email": spec["email"]})
                self.key_of[spec["id"]] = ("email", spec["email"])
                m.add_edge(spec["eid"], spec["id"], spec["dst"])
        elif kind == "upsert_edges":
            g2 = writes.upsert_edges(g, spark.createDataFrame(
                [(spec["src"], spec["dst"])], "src long, dst long"))

            def apply():
                m.add_edge(spec["eid"], spec["src"], spec["dst"])
        elif kind == "update_vertices":
            g2 = writes.update_vertices(g, spark.createDataFrame(
                [(spec["root"], {"bench_rev": str(spec["seq"])})],
                "id long, props map<string,string>"))

            def apply():
                pass
        else:
            with self._state:
                inc = m.inc.get(spec["root"]) or m.ends.keys()
                eid = min(inc)
            g2 = writes.delete_edges(g, spark.createDataFrame([(eid,)], "id long"))

            def apply():
                m.delete_edge(eid)
        return g2.localCheckpoint(), apply

    def _do(self, spec) -> float:
        """Run one request; returns its latency in seconds."""
        if spec["kind"] in WRITES:
            with self._write:
                t0 = time.perf_counter()
                g2, apply = self._write_op(self.g, spec)
                with self._state:
                    apply()
                    self.g = g2
                return time.perf_counter() - t0
        with self._state:
            g, expected = self.g, self._expected(spec)
        t0 = time.perf_counter()
        got = self._read(g, spec)
        dt = time.perf_counter() - t0
        self.rows_returned += sum(map(len, got)) if isinstance(got, tuple) else len(got)
        err = checks.check_read(spec["kind"], expected, got)
        if err:
            self.failures.append(err)
            self.failed += 1
        return dt

    # -------------------------------------------------------- timed pass
    def run(self, seconds: float) -> dict:
        lat: dict[str, list[float]] = {k: [] for k in READS + WRITES}
        lock = threading.Lock()
        errors: list[BaseException] = []
        trace: list[tuple] = []
        deadline = time.perf_counter() + seconds

        def client(c: int) -> None:
            # whole cycles only, at least MIN_CYCLES: the timed requests always
            # hold the exact mix, and a burst of load on the box is averaged
            plan, start = self.plans[c], self.cursor[c]
            while (time.perf_counter() < deadline or self.cursor[c] % len(CYCLE)
                   or self.cursor[c] - start < MIN_CYCLES * len(CYCLE)) \
                    and self.cursor[c] < len(plan):
                spec = plan[self.cursor[c]]
                self.cursor[c] += 1
                try:
                    dt = self._do(spec)
                except Exception as exc:  # noqa: BLE001 — a failed request is counted
                    with lock:
                        self.failed += 1
                        self.attempted += 1
                        errors.append(exc)
                    continue
                with lock:
                    self.attempted += 1
                    lat[spec["kind"]].append(dt)
                    trace.append((c, spec["kind"], round(time.perf_counter() - t0 - dt, 4),
                                  round(dt, 4)))

        self.rows_returned = 0
        t0 = time.perf_counter()
        threads = [threading.Thread(target=client, args=(c,)) for c in range(CLIENTS)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        wall = time.perf_counter() - t0
        for exc in errors[:3]:
            self.failures.append(f"request raised {type(exc).__name__}: {exc}")
        return {"wall_s": wall, "lat": lat, "requests": trace}

    def check(self) -> list[str]:
        from pymongraph_spark.graph import store
        from pymongraph_spark.ingest import import_from_json

        vids = {r[0] for r in self.g.vertices.select("id").collect()}
        eids = {r[0] for r in self.g.edges.select("id").collect()}
        out = self.failures + checks.check_graph(self.model, vids, eids)
        reports = self.spark.createDataFrame(list(enumerate(self.lines)), "ord bigint, value string")
        batch = _collect(import_from_json(self.spark, reports))
        streamed = _collect(store.load_log(self.spark, self.store))
        more, tolerated = checks.compare_stores("batch import", batch, "log store", streamed,
                                                checks.INSERT_ORIGIN_KEYS)
        self.ingest["batch_vs_stream_insert_origin_diffs"] = tolerated
        return out + more

    # ----------------------------------------------------------- metrics
    @staticmethod
    def work_units(m: dict) -> float:
        return sum(len(v) for v in m["lat"].values())

    def end_to_end(self, m: dict) -> tuple[dict, dict]:
        reads = [x * 1000 for k in READS for x in m["lat"][k]]
        writes_ = [x * 1000 for k in WRITES for x in m["lat"][k]]
        every = reads + writes_
        n = len(every)
        tail = highest_percentile(every)
        e2e = {
            "throughput_per_s": (n / m["wall_s"], "items/s"),
            "op_p50_ms": (median(reads), "ms"),
        }
        issue = {
            "serve_ops_per_s": n / m["wall_s"],
            "serve_read_p50_ms": median(reads) if reads else None,
            "serve_write_p50_ms": median(writes_) if writes_ else None,
            "serve_p90_ms": percentile(every, 90),
            "serve_requests": n,
            "serve_tail": {"q": tail[0], "ms": tail[1]} if tail else None,
            "clients": CLIENTS,
            "ingest_drain_s": self.ingest["drain_s"],
            "ingest_reports_per_s": REPORTS / self.ingest["drain_s"],
            "ingest_batch_p50_ms": median([d["triggerExecution"] for d in self.ingest["progress"]]),
            "batch_vs_stream_insert_origin_diffs":
                self.ingest.get("batch_vs_stream_insert_origin_diffs"),
            "warmup_s": self.warmup_s,
            "vertices": len(self.model.verts),
            "edges": len(self.model.ends),
            "requests": m["requests"],
            "per_kind": {k: {"n": len(v), "p50_ms": median(v) * 1000 if v else None}
                         for k, v in m["lat"].items()},
        }
        return e2e, issue

    def per_layer(self, tracer, jobs) -> dict:
        from perfbench import tracing

        reqs = [s for s in tracer.in_phase("run") if s["name"] == "serve.request"]
        n = max(1, len(reqs))
        req_ids, parent = {s["id"] for s in reqs}, tracer.parents()
        rj = [j for j in jobs
              if tracing.ancestor_in(tracing.span_of(j), req_ids, parent) is not None]
        reads = {s["id"] for s in reqs if s["request_kind"] in READS}
        read_jobs = {j["job"] for j in jobs
                     if tracing.ancestor_in(tracing.span_of(j), reads, parent) is not None}
        leaf_rows = tracing.sql_leaf_rows(self.spark, read_jobs)
        out = {
            "graph.traversal.find_neighbors.p50_ms": tracing.p50(tracer, "graph.traversal.find_neighbors"),
            "graph.traversal.find_neighbors.jobs": tracing.jobs_per_span(tracer, jobs, "graph.traversal.find_neighbors"),
            "graph.traversal.k_hop.p50_ms": tracing.p50(tracer, "graph.traversal.k_hop"),
            "graph.traversal.k_hop.jobs": tracing.jobs_per_span(tracer, jobs, "graph.traversal.k_hop"),
            "graph.traversal.build_graph.p50_ms": tracing.p50(tracer, "graph.traversal.build_graph"),
            "graph.model.search_vertices.p50_ms": tracing.p50(tracer, "graph.model.search_vertices"),
            "graph.model.localCheckpoint.p50_ms": tracing.p50(tracer, "graph.model.localCheckpoint"),
            "serve.jobs_per_request": len(rj) / n,
            "serve.tasks_per_request": sum(j["tasks"] for j in rj) / n,
            # rows_returned counts the last pass, which is the traced one
            "serve.rows_read_per_row_returned": leaf_rows / max(1, self.rows_returned),
        }
        for w in WRITES:
            out[f"graph.writes.{w}.p50_ms"] = tracing.p50(tracer, f"graph.writes.{w}")
        # the ingest that loads the graph runs in setup
        prog = self.ingest["progress"]
        batches = max(1, len(prog))

        def setup_ms(name):
            return sum(tracer.durations_ms(name, phase="setup"))

        out.update({
            "ingest.streaming.trigger_p50_ms": median([d["triggerExecution"] for d in prog]),
            "ingest.streaming.add_batch_p50_ms": median([d.get("addBatch", 0) for d in prog]),
            "ingest.importer.build_graph_tables.ms_per_batch":
                setup_ms("ingest.importer.build_graph_tables") / batches,
            "graph.store.merge_into_log.ms_per_batch":
                setup_ms("graph.store.merge_into_log") / batches,
            "graph.store.compact_log.ms": setup_ms("graph.store.compact_log"),
            "graph.store.load_log.ms": setup_ms("graph.store.load_log"),
            "graph.store.bytes_written_per_input_byte":
                self.ingest["store_written"] / self.input_bytes,
            "graph.store.bytes_on_disk_per_input_byte":
                self.ingest["store_on_disk"] / self.input_bytes,
            "graph.store.input_bytes": self.input_bytes,
        })
        return out

    def trace_hooks(self, tracer):
        """Every request opens a ``serve.request`` span."""
        inner = self._do

        def traced(spec):
            if not tracer.enabled:
                return inner(spec)
            with tracer.span("serve.request",
                             req=spec["client"] * 1_000_000 + spec["seq"]) as rec:
                rec["request_kind"] = spec["kind"]
                return inner(spec)

        self._do = traced

    @staticmethod
    def trace_targets():
        from pymongraph_spark.graph import model, store, traversal, writes
        from pymongraph_spark.ingest import streaming

        return [
            (streaming, "staging_frame", "ingest.importer.staging_frame", True),
            (streaming, "build_graph_tables", "ingest.importer.build_graph_tables", False),
            (store, "merge_into_log", "graph.store.merge_into_log", False),
            (store, "compact_log", "graph.store.compact_log", False),
            (store, "load_log", "graph.store.load_log", True),
            # the id frame is what a request collects; the edge frame is unused
            (traversal, "find_neighbors", "graph.traversal.find_neighbors", 0),
            (traversal, "k_hop", "graph.traversal.k_hop", 0),
            (traversal, "build_graph", "graph.traversal.build_graph", False),
            (model.PropertyGraph, "search_vertices", "graph.model.search_vertices", True),
            (model.PropertyGraph, "localCheckpoint", "graph.model.localCheckpoint", False),
            # writes are lazy; the localCheckpoint commit executes them
            *[(writes, w, f"graph.writes.{w}", False) for w in WRITES],
        ]


def _du(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, n))
               for root, _, names in os.walk(path) for n in names)


def _collect(g) -> tuple[dict, dict]:
    vs = {r["id"]: (r["label"], dict(r["props"] or {}))
          for r in g.vertices.select("id", "label", "props").collect()}
    es = {r["id"]: (r["src"], r["dst"], r["label"], tuple(sorted((r["props"] or {}).items())))
          for r in g.edges.select("id", "src", "dst", "label", "props").collect()}
    return vs, es


def _van_der_corput(i: int) -> float:
    x, d = 0.0, 0.5
    while i:
        if i & 1:
            x += d
        i >>= 1
        d /= 2
    return x
