"""Helpers shared by the workloads: Spark sessions, process probes and
the loop metrics every workload reports."""

from __future__ import annotations

import os
from pathlib import Path

import numpy as np


def start_spark(cpus: int, work: Path):
    from webhookdb_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cpus=cpus, extra_conf={
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def restart_spark(spark, cpus: int, work: Path):
    """Stop the session and start another in the same JVM."""
    spark.stop()
    return start_spark(cpus, work)


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait until the JVM has exited; it
    exits when its stdin closes, taking the Python workers with it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM plus this Python process."""
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    kb = 0
    for pid in (jvm_pid, os.getpid()):
        with open(f"/proc/{pid}/status") as f:
            kb += next(int(line.split()[1]) for line in f
                       if line.startswith("VmHWM:"))
    return kb / 1024.0


def gc_seconds(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1e3


def pct(xs, q: float) -> float:
    return float(np.percentile(xs, q)) if len(xs) else 0.0


def latency_metrics(samples: dict[str, list[float]]) -> dict[str, float]:
    """The loop metrics every workload reports, from its raw samples."""
    out = {}
    for kind in ("visible", "synced"):
        out[f"{kind}_p50_s"] = pct(samples[kind], 50)
        out[f"{kind}_p90_s"] = pct(samples[kind], 90)
    return out


def overhead(traced: dict[str, list[float]],
             plain: dict[str, list[float]]) -> dict[str, float]:
    """Tracing overhead on each loop metric: the median own time of the
    traced cycles (or passes) over that of the untraced ones, minus one.
    Own times start at the cycle's start, so they carry no wait behind
    the cycle before, traced or not."""
    out = {}
    for k in ("visible", "synced"):
        t, p = traced[k], plain[k]
        out[f"overhead.{k}_s"] = (float(np.median(t) / np.median(p)) - 1.0
                                  if t and p else 0.0)
    return out


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))
