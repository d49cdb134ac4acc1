"""In-process tracing for the traced benchmark run.

Spans wrap the engine's public functions by replacing module attributes
at the name each caller looks up; the engine's source is not touched.
Every span sets a Spark job group, so jobs, tasks, shuffle bytes and GC
time read back from Spark's status store are attributed to it. Jobs
without a tracer group (for example those submitted from
``session.run_concurrently`` helper threads or by the streaming engine)
count as ``unattributed`` under the phase whose interval holds them.

A function that returns a lazy DataFrame (or a PropertyGraph / tuple of
them) has its result forced with an eager ``localCheckpoint`` inside its
span, so the execution lands in that function's span.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager

from perfbench.stats import median

GROUP_PREFIX = "pb-"
_JOB_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


class Tracer:
    def __init__(self, spark):
        from pymongraph_spark.graph.model import PropertyGraph

        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.enabled = True
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self._phase: dict | None = None
        self._pg = PropertyGraph
        self._pg_checkpoint = PropertyGraph.localCheckpoint

    # ------------------------------------------------------------ spans
    def _stack(self) -> list[dict]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    @contextmanager
    def span(self, name: str, req: int | None = None, kind: str = "call"):
        stack = self._stack()
        parent = stack[-1] if stack else self._phase
        sid = next(self._ids)
        rec = {
            "id": sid, "name": name, "kind": kind,
            "parent": parent["id"] if parent else None,
            "req": req if req is not None else (parent or {}).get("req"),
            "thread": threading.get_ident(),
        }
        saved = [self.sc.getLocalProperty(k) for k in _JOB_PROPS]
        self.sc.setJobGroup(f"{GROUP_PREFIX}{sid}", name, False)
        stack.append(rec)
        rec["t0"] = time.perf_counter()
        rec["wall0"] = time.time()
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            rec["wall1"] = time.time()
            stack.pop()
            for k, v in zip(_JOB_PROPS, saved):
                self.sc.setLocalProperty(k, v)
            with self._lock:
                self.spans.append(rec)

    @contextmanager
    def phase(self, name: str):
        with self.span(name, kind="phase") as rec:
            outer, self._phase = self._phase, rec
            try:
                yield rec
            finally:
                self._phase = outer

    # --------------------------------------------------------- wrapping
    def force(self, out, which: bool | int = True):
        """Materialize a lazy result: ``which`` is True for the whole
        result, or the index of the one tuple element the caller uses."""
        from pyspark.sql import DataFrame

        if which is not True:
            return out[:which] + (self.force(out[which]),) + out[which + 1:]
        if isinstance(out, DataFrame):
            return out.localCheckpoint(eager=True)
        if isinstance(out, self._pg):
            return self._pg_checkpoint(out)
        if isinstance(out, tuple):
            return tuple(self.force(o) for o in out)
        return out

    def wrap(self, owner, attr: str, name: str, force: bool | int = True) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper. ``force``
        is False for functions that are eager or whose execution belongs
        to the caller's next step (the write functions build a plan that
        the commit executes)."""
        orig = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            with tracer.span(name):
                out = orig(*args, **kwargs)
                return tracer.force(out, force) if force is not False else out

        traced.__wrapped__ = orig
        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # ----------------------------------------------------------- export
    def durations_ms(self, name: str, phase: str | None = "run") -> list[float]:
        """Durations of span ``name`` under ``phase`` (all spans if None)."""
        return [(s["t1"] - s["t0"]) * 1000.0 for s in self.in_phase(phase) if s["name"] == name]

    def in_phase(self, phase: str | None) -> list[dict]:
        if phase is None:
            return self.spans
        roots = {s["id"] for s in self.spans if s["kind"] == "phase" and s["name"] == phase}
        parent = self.parents()
        return [s for s in self.spans if ancestor_in(s["parent"], roots, parent) is not None]

    def parents(self) -> dict[int, int | None]:
        return {s["id"]: s["parent"] for s in self.spans}

    def self_times_ms(self) -> dict[int, float]:
        """Span duration minus the time covered by its child spans."""
        kids: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                kids.setdefault(s["parent"], []).append(s)
        out = {}
        for s in self.spans:
            covered, cur = 0.0, s["t0"]
            for c in sorted(kids.get(s["id"], []), key=lambda c: c["t0"]):
                lo, hi = max(c["t0"], cur), min(c["t1"], s["t1"])
                if hi > lo:
                    covered += hi - lo
                    cur = hi
            out[s["id"]] = (s["t1"] - s["t0"] - covered) * 1000.0
        return out

    def dump(self, path: str, jobs: list[dict]) -> None:
        selfs = self.self_times_ms()
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s["t0"]):
                rec = {k: s[k] for k in ("id", "name", "kind", "parent", "req", "wall0", "wall1")}
                rec["ms"] = (s["t1"] - s["t0"]) * 1000.0
                rec["self_ms"] = selfs[s["id"]]
                fh.write(json.dumps(rec) + "\n")
            for j in jobs:
                fh.write(json.dumps({"job": j}) + "\n")


# ------------------------------------------------------- status store
def spark_jobs(spark) -> list[dict]:
    """Every job the status store retained, with its stages' shuffle
    write bytes and GC time folded in (each stage counted once, under
    the first job that lists it). The store's job and stage lists are
    serialized to JSON inside the JVM (see ``_json_mapper``)."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    try:
        jsc.listenerBus().waitUntilEmpty()
    except Exception:  # noqa: BLE001 — best effort; the store may lag a little
        time.sleep(1.0)
    mapper = _json_mapper(sc._jvm)
    store = jsc.statusStore()
    stages: dict[int, tuple[int, int]] = {}
    defaults = [getattr(store, f"stageList$default${i}")() for i in range(2, 6)]
    for st in json.loads(mapper.writeValueAsString(store.stageList(None, *defaults))):
        b, g = stages.get(st["stageId"], (0, 0))
        stages[st["stageId"]] = (b + st["shuffleWriteBytes"], g + st["jvmGcTime"])
    seen: set[int] = set()
    jobs = []
    for jd in sorted(json.loads(mapper.writeValueAsString(store.jobsList(None))),
                     key=lambda j: j["jobId"]):
        shuffle = gc = 0
        for sid in jd["stageIds"]:
            if sid not in seen and sid in stages:
                seen.add(sid)
                shuffle += stages[sid][0]
                gc += stages[sid][1]
        sub = jd.get("submissionTime")
        jobs.append({
            "job": jd["jobId"],
            "group": jd.get("jobGroup"),
            "submitted": sub / 1000.0 if sub is not None else None,
            "tasks": jd["numTasks"] - jd["numSkippedTasks"],
            "tasks_failed": jd["numFailedTasks"],
            "shuffle_write_bytes": shuffle,
            "gc_ms": gc,
        })
    return jobs


def sql_leaf_rows(spark, jobs: set[int]) -> int:
    """Rows output by the leaf nodes of the executed plans of every SQL
    execution that ran any of ``jobs``, read from Spark's SQL status store.
    Plan-graph edges run child to parent, so a leaf is a node that no edge
    points to."""
    mapper = _json_mapper(spark.sparkContext._jvm)
    store = spark._jsparkSession.sharedState().statusStore()
    rows = 0
    for ex in json.loads(mapper.writeValueAsString(store.executionsList())):
        if not {int(j) for j in ex["jobs"]} & jobs:
            continue
        eid = ex["executionId"]
        graph = json.loads(mapper.writeValueAsString(store.planGraph(eid)))
        values = json.loads(mapper.writeValueAsString(store.executionMetrics(eid)))
        inner = {e["toId"] for e in graph["edges"]}
        for node in _plan_nodes(graph["nodes"]):
            if node["id"] in inner:
                continue
            for m in node["metrics"]:
                v = values.get(str(m["accumulatorId"]))
                if m["name"] == "number of output rows" and v is not None:
                    rows += int(v.split()[0].replace(",", ""))
    return rows


def _plan_nodes(nodes: list[dict]) -> list[dict]:
    """Plan-graph nodes with the nodes of every cluster (whole-stage
    codegen) flattened in, clusters included."""
    out = []
    for n in nodes:
        out.extend(_plan_nodes(n.get("nodes", [])))
        out.append(n)
    return out


def _json_mapper(jvm):
    """A Jackson mapper that serializes Spark's status-store objects (Scala
    case classes) inside the JVM, so a read-back costs a few py4j calls
    instead of several per job, stage and plan node (about 40 s for a
    traced graph_serve run)."""
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
    mapper.registerModule(getattr(getattr(jvm.com.fasterxml.jackson.module.scala,
                                          "DefaultScalaModule$"), "MODULE$"))
    return mapper


def ancestor_in(sid: int | None, targets: set[int], parent: dict) -> int | None:
    """The first of span ``sid`` and its ancestors that is in ``targets``."""
    while sid is not None and sid not in targets:
        sid = parent.get(sid)
    return sid


def span_of(job: dict) -> int | None:
    g = job["group"]
    if g and g.startswith(GROUP_PREFIX):
        return int(g[len(GROUP_PREFIX):])
    return None


def phase_counters(tracer: Tracer, jobs: list[dict], phase: str) -> dict[str, float]:
    """The five Spark counters (and unattributed jobs) for one phase:
    jobs whose group is a span under the phase, plus ungrouped jobs
    submitted inside the phase's interval."""
    ph = [s for s in tracer.spans if s["kind"] == "phase" and s["name"] == phase]
    out = {"jobs": 0, "tasks": 0, "tasks_failed": 0, "shuffle_write_bytes": 0, "gc_ms": 0,
           "unattributed_jobs": 0}
    if not ph:
        return out
    p, parent = ph[-1], tracer.parents()
    for j in jobs:
        sid = span_of(j)
        if sid is not None:
            if ancestor_in(sid, {p["id"]}, parent) is None:
                continue
        elif j["submitted"] is None or not (p["wall0"] <= j["submitted"] <= p["wall1"]):
            continue
        else:
            out["unattributed_jobs"] += 1
        out["jobs"] += 1
        for k in ("tasks", "tasks_failed", "shuffle_write_bytes", "gc_ms"):
            out[k] += j[k]
    return out


def jobs_per_span(tracer: Tracer, jobs: list[dict], name: str) -> float:
    """Mean Spark jobs per call of span ``name``, child spans included."""
    spans = [s for s in tracer.in_phase("run") if s["name"] == name]
    if not spans:
        return 0.0
    parent, target = tracer.parents(), {s["id"] for s in spans}
    n = sum(ancestor_in(span_of(j), target, parent) is not None for j in jobs)
    return n / len(spans)


def p50(tracer: Tracer, name: str) -> float:
    xs = tracer.durations_ms(name)
    return median(xs) if xs else 0.0


def total_ms(tracer: Tracer, name: str) -> float:
    return sum(tracer.durations_ms(name))
