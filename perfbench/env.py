"""Pinned run environment. ``pin`` must run before pyspark is imported:
the settings below are read when the Spark JVM and its Python workers
start.
"""

from __future__ import annotations

import os
import platform
import shlex
import subprocess
import sys


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    return 8 << 30


def nproc() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 4


def driver_memory() -> str:
    """Driver heap well below physical RAM (get_spark defaults to 16g)."""
    gib = max(1, min(3, _mem_total_bytes() // (1 << 30) // 3))
    return f"{gib}g"


def pin(repo: str, work: str) -> None:
    """Environment for the Spark JVM and workers. Every temp path is
    under ``work``, inside the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [repo] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_DRIVER_MEMORY"] = driver_memory()
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    confs = {
        "spark.ui.showConsoleProgress": "false",
        # the traced run reads every job and stage back from the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedTasks": "1000",
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # initial heap = max heap: the resident high-water mark then follows
        # how much heap a run touches, not when the JVM chose to grow it
        "spark.driver.extraJavaOptions":
            f"-Xms{driver_memory()} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"


def versions(spark) -> dict:
    java = ""
    try:
        java = spark.sparkContext._jvm.System.getProperty("java.version")
    except Exception:  # noqa: BLE001 — informational only
        pass
    return {
        "nproc": nproc(),
        "loadavg": list(os.getloadavg()),
        "spark": spark.version,
        "java": java,
        "python": platform.python_version(),
        "driver_memory": os.environ.get("SPARK_DRIVER_MEMORY"),
    }


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.ProcessHandle.current().pid())


def peak_rss_mb(jvm: int) -> float:
    """Peak resident memory (VmHWM) of the Spark JVM plus this process."""
    return (_vm_hwm_kb(jvm) + _vm_hwm_kb(os.getpid())) / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    if gw is not None:
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 — already gone
            pass
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=60)
        except (subprocess.TimeoutExpired, OSError):
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
