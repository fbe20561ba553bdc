"""Shared run plumbing: work directory, Spark session, result record."""

from __future__ import annotations

import math
import os
import shutil
import statistics
import subprocess
import sys
import time

_T0 = time.time()


def log(msg: str) -> None:
    """Progress line on stderr, stamped with seconds since import."""
    print(f"[{time.time() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)

CORES = 4  # local[4]: the closed loop's four clients share four task slots
K = 100  # top-k cutoff, the engine's TOP_K


def prepare_work(root: str, workload: str, seed: int) -> str:
    """A fresh scratch directory inside the checkout for indexes, Spark's
    local dirs, temp files and the event log."""
    work = os.path.join(root, ".perfbench_work", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("local", "tmp", "evlog"):
        os.makedirs(os.path.join(work, sub))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    return work


def start_spark(work: str, event_log: bool):
    from search_engine_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "evlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", cores=CORES, extra_conf=conf)


def stop_spark() -> None:
    """Stop the active session, then end its JVM (it exits when its stdin
    closes) and wait for it; the Python workers are the JVM's children."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is None or proc.poll() is not None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def mean(xs: list[float]) -> float:
    return statistics.fmean(xs) if xs else 0.0


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def quantile(xs: list[float], q: float) -> float:
    """Nearest-rank quantile (0 for an empty list)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    return s[max(0, math.ceil(q * len(s)) - 1)]
