"""Shared plumbing: a private work directory inside the checkout, the
SparkSession, statistics, peak RSS of the driver JVM, and the result line.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")


def log(*parts) -> None:
    print(*parts, file=sys.stderr, flush=True)


def make_workdir(name: str) -> str:
    """A fresh scratch directory under the checkout; Spark's local dirs,
    the JVM's and Python's temp files and every table go here."""
    path = os.path.join(WORK_ROOT, f"{name}-{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))
    os.environ["TMPDIR"] = os.path.join(path, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(path, "spark-local")
    return path


def remove_workdir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    try:
        os.rmdir(WORK_ROOT)
    except OSError:
        pass


def nproc() -> int:
    return len(os.sched_getaffinity(0))


HEAP = "2g"


def start_spark(workdir: str):
    """Start the session through the package's own factory on
    ``local[nproc]`` with a fixed 2 GB driver heap: starting the heap at
    its maximum takes the JVM's heap-resizing decisions, which vary from
    run to run, out of both the timings and the peak RSS."""
    from options_data_pipeline_spark.session import get_spark

    cpus = nproc()
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    # no hsperfdata files in the system temp directory, from the launcher
    # JVM or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tmp = os.path.join(workdir, "tmp")
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(workdir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Xms{HEAP} -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the driver JVM to exit."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    spark.sparkContext._gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found for the driver JVM")


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def hd_quantile(xs, p: float) -> float:
    """Harrell-Davis estimate of quantile ``p``: a Beta((n+1)p, (n+1)(1-p))
    weighted average of all order statistics. On the few, spread-out
    samples of one run (fifteen queries whose times range tenfold) a
    single order statistic jumps between neighbouring queries from run
    to run; this estimator does not."""
    import numpy as np

    s = np.sort(np.asarray(xs, dtype=float))
    n = len(s)
    if n < 2:
        return float(s[0]) if n else 0.0
    a, b = (n + 1) * p, (n + 1) * (1 - p)
    grid = np.linspace(0.0, 1.0, 20001)[1:-1]
    pdf = np.exp((a - 1) * np.log(grid) + (b - 1) * np.log1p(-grid))
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    cdf /= cdf[-1]
    edges = np.interp(np.arange(n + 1) / n, grid, cdf)
    return float(np.dot(np.diff(edges), s))


def tail(xs) -> tuple[float, str]:
    """The highest order statistic with at least ten samples above it.
    When that would not lie above the median (fewer than 21 samples)
    the sample supports no such percentile, and the Harrell-Davis
    estimate of the 90th percentile is reported instead."""
    s = sorted(xs)
    n = len(s)
    idx = n - 11
    if idx > (n - 1) / 2:
        return float(s[idx]), f"p{100.0 * (idx + 1) / n:.1f} of n={n}"
    return hd_quantile(s, 0.9), f"Harrell-Davis p90 of n={n}"


def timed(fn, *args, **kwargs):
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return out, time.perf_counter() - t0


def emit(correct: bool, attempted: int, failed: int, metrics: dict) -> None:
    """Print the result object as the last line of standard output."""
    print(json.dumps({
        "correct": bool(correct),
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {
            k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
        },
    }), flush=True)
