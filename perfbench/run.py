"""Benchmark entry point.

    python3 perfbench/run.py --workload graph_serve --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. Generates the workload's inputs
from the seed, sets the engine up, measures for ``--seconds``, checks the
outputs and prints one JSON object as the last line of standard output:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs the separate traced pass and
reports the per-layer metrics, writing the spans next to the result.

Progress and diagnostics go to standard error. Scratch files live under
``.perfbench/`` in the checkout; results are kept in
``.perfbench/results/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def execute(args, work: str) -> tuple[dict, dict]:
    from perfbench import env, tracing, workloads
    from pymongraph_spark.session import get_spark

    spark = get_spark("perfbench", cpus=env.nproc())
    spark.sparkContext.setLogLevel("ERROR")
    jvm = env.jvm_pid(spark)
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "env": env.versions(spark)}
    tracer = tracing.Tracer(spark) if args.trace else None

    def phase(name):
        return tracer.phase(name) if tracer else nullcontext()

    wl = workloads.get(args.workload)(spark, args.seed, work)
    try:
        with phase("setup"):
            g0 = time.perf_counter()
            wl.generate()
            gen_s = time.perf_counter() - g0
            if tracer:
                for owner, attr, name, force in wl.trace_targets():
                    tracer.wrap(owner, attr, name, force)
                wl.trace_hooks(tracer)
            wl.setup()
        setup_s = time.perf_counter() - T_START - gen_s
        log(f"setup {setup_s:.2f}s (generator {gen_s:.2f}s excluded)")
        if tracer:
            tracer.enabled = False
            ref = wl.run(args.seconds)
            tracer.enabled = True
            with phase("run"):
                m = wl.run(args.seconds)
            overhead = (m["wall_s"] / max(1e-9, wl.work_units(m))) / (
                ref["wall_s"] / max(1e-9, wl.work_units(ref)))
        else:
            m = wl.run(args.seconds)
        log(f"timed pass {m['wall_s']:.2f}s")
        c0 = time.perf_counter()
        with phase("check"):
            failures = wl.check()
        log(f"check {time.perf_counter() - c0:.2f}s")
        rss = env.peak_rss_mb(jvm)
        e2e, issue = wl.end_to_end(m)
        record.update(setup_s=setup_s, generator_s=gen_s, peak_rss_mb=rss, issue_metrics=issue,
                      failures=failures[:20])
        metrics = {"setup_s": (setup_s, "s"), "peak_rss_mb": (rss, "MB"), **e2e}
        if tracer:
            r0 = time.perf_counter()
            jobs = tracing.spark_jobs(spark)
            log(f"status store: {len(jobs)} jobs read in {time.perf_counter() - r0:.2f}s")
            layer = dict(wl.per_layer(tracer, jobs))
            for ph in ("setup", "run", "check"):
                c = tracing.phase_counters(tracer, jobs, ph)
                for k, v in c.items():
                    layer[f"phase.{ph}.spark.{k}"] = v
            layer["trace.overhead_ratio"] = overhead
            os.makedirs(results_dir(), exist_ok=True)
            spans = os.path.join(results_dir(), f"{args.workload}-seed{args.seed}-spans.jsonl")
            tracer.dump(spans, jobs)
            log(f"trace read-back and dump {time.perf_counter() - r0:.2f}s")
            record["spans"] = os.path.relpath(spans, REPO)
            unknown = set(layer) - set(workloads.PER_LAYER)
            if unknown:
                raise KeyError(f"undeclared per-layer metrics: {sorted(unknown)}")
            metrics = {k: (layer.get(k, 0.0), u) for k, u in workloads.PER_LAYER.items()}
            tracer.unwrap_all()
        correct = not failures
        attempted = max(1, wl.attempted)
        failed = attempted if not correct else wl.failed
        line = {"correct": correct, "attempted": attempted, "failed": failed,
                "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()}}
        return line, record
    finally:
        env.stop_spark(spark)


def results_dir() -> str:
    return os.path.join(REPO, ".perfbench", "results")


def main(argv=None) -> int:
    args = parse(argv if argv is not None else sys.argv[1:])
    if not os.path.isfile(os.path.join(REPO, "pymongraph_spark", "__init__.py")):
        log(f"no pymongraph_spark package next to {HERE}; run from a source checkout")
        return 2
    sys.path.insert(0, REPO)
    from perfbench import env, workloads

    if args.workload not in workloads.NAMES:
        log(f"unknown workload {args.workload!r}; choose from {', '.join(workloads.NAMES)}")
        return 2
    work = os.path.join(REPO, ".perfbench", f"run-{os.getpid()}")
    env.pin(REPO, work)
    try:
        line, record = execute(args, work)
    except Exception:  # noqa: BLE001 — report and fail the run
        traceback.print_exc()
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record["result"] = line
    os.makedirs(results_dir(), exist_ok=True)
    out = os.path.join(results_dir(), f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    log(f"result written to {os.path.relpath(out, REPO)}")
    if not line["correct"]:
        for f in record["failures"]:
            log(f"check failed: {f}")
    print(json.dumps(line), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
