"""The engine's Spark session and its JVM, seen from outside the package:
start and stop, and the JVM's pid, peak RSS and CPU time.

``stop`` ends the session and then its JVM, and waits until the JVM
process has exited, so a benchmark run leaves no process behind.
"""

from __future__ import annotations

import os
import subprocess
import time


def start(app_name: str):
    """``get_spark`` + ``warmup``: the engine's own set-up path.

    Returns (spark, get_spark seconds, warmup seconds)."""
    from agentic_workflow_for_data_transformation_spark.benchutil import warmup
    from agentic_workflow_for_data_transformation_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=app_name)
    t1 = time.perf_counter()
    warmup(spark)
    return spark, t1 - t0, time.perf_counter() - t1


def pid(spark) -> int:
    return int(spark.sparkContext._jvm.ProcessHandle.current().pid())


def peak_rss_mb(jvm_pid: int) -> float:
    """High-water resident set size of a process, from /proc (VmHWM)."""
    with open(f"/proc/{jvm_pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {jvm_pid}")


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) used so far by a process and all its
    descendants, including descendants that already exited and were
    reaped (their time is in the parent's cutime/cstime)."""
    tick = os.sysconf("SC_CLK_TCK")
    stats = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while we looked
            continue
        # after the command name: state ppid ... utime(12) stime(13) cutime(14) cstime(15)
        stats[int(entry)] = (int(fields[1]), sum(int(f) for f in fields[11:15]))
    total, todo = 0, [root_pid]
    while todo:
        parent = todo.pop()
        total += stats.get(parent, (0, 0))[1]
        todo.extend(p for p, (ppid, _) in stats.items() if ppid == parent)
    return total / tick


def stop() -> None:
    """Stop the active session, if any, then the JVM behind it; the JVM
    is waited for even when stopping the session fails."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    try:
        spark = SparkSession.getActiveSession()
        if spark is not None:
            spark.stop()
        elif SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        gateway, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.close()
            if proc is not None:
                # the JVM exits when its stdin pipe closes (pyspark's contract)
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
                    raise
