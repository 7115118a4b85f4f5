"""Shared plumbing for the lake benchmark: environment pinning, the Spark
session, statistics, memory high-water marks and the result line.

Nothing here starts a thread or a process at import time; ``start_spark``
is the one place the JVM is launched and ``stop_spark`` the one place it is
stopped and waited for.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def ncpus() -> int:
    return len(os.sched_getaffinity(0))


def workdir(name: str) -> str:
    """A fresh scratch directory inside the checkout for one workload."""
    path = os.path.join(ROOT, ".perfbench_work", name)
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def pin_environment(work: str) -> None:
    """Everything the engine and its Python workers need, set before the
    JVM starts: workers import ``rtdl_spark`` from the checkout whatever
    their working directory, Spark uses one slot per core, and every
    temporary file stays inside ``work``."""
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(dict.fromkeys(paths))
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            # a committed, pre-touched heap: the JVM's share of peak RSS
            # then does not depend on when G1 chose to grow the heap
            f"--conf spark.driver.extraJavaOptions='-Djava.io.tmpdir={tmp} "
            "-Xms2g -XX:+AlwaysPreTouch'",
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.sql.ui.retainedExecutions=10",
            "pyspark-shell",
        ]
    )


def start_spark():
    from rtdl_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    try:
        with open(f"/proc/{pid}/task/{pid}/children") as f:
            return [int(x) for x in f.read().split()]
    except OSError:
        return []


def peak_rss_mb() -> float:
    """High-water RSS of this Python driver plus its JVM (the JVM may sit
    under a launcher shell, so its process subtree is walked)."""
    total = _hwm_kb(os.getpid())
    pid = jvm_pid()
    if pid is not None:
        stack = [pid]
        while stack:
            p = stack.pop()
            total += _hwm_kb(p)
            stack.extend(c for c in _children(p) if "java" in _comm(c))
    return total / 1024.0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def pct(values: list[float], q: float) -> float:
    """Percentile by linear interpolation between closest ranks."""
    if not values:
        raise ValueError("no samples")
    xs = sorted(values)
    k = (len(xs) - 1) * q
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)


def emit(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    print(
        json.dumps(
            {
                "correct": bool(correct),
                "attempted": int(attempted),
                "failed": int(failed),
                "metrics": metrics,
            }
        ),
        flush=True,
    )


def say(msg: str) -> None:
    print(msg, flush=True)
