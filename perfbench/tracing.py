"""Per-layer tracing for the traced benchmark run (``--trace 1``).

Everything here works from outside the engine:

- ``Tracer.wrap`` swaps a module attribute (a public function such as
  ``orchestrator.planner_agent``) for a timed wrapper, so every call
  the engine makes through that name is counted and timed. ``restore``
  puts the originals back.
- ``group_stats`` reads Spark's public ``StatusTracker`` for one job
  group: jobs, stages, tasks and failed tasks.
- ``full_gc_clock`` reads the JVM's full-collection time, so the run
  can tell ``time_query``'s own ``System.gc()`` calls from layer time.
- ``event_log_totals`` sums the executor task metrics of the Spark event
  log per job group (run time, CPU, GC, shuffle bytes, spill).

Spans stay in memory; the run reports their totals when it ends.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from pathlib import Path
from typing import Any, Callable


class Tracer:
    """Inclusive time and call count per layer name."""

    def __init__(self) -> None:
        self.seconds: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.bytes: dict[str, int] = defaultdict(int)
        self._patched: list[tuple[Any, str, Any]] = []

    def wrap(self, module: Any, attr: str, layer: str,
             on_result: Callable[[Any], None] | None = None) -> None:
        original = getattr(module, attr)

        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                result = original(*args, **kwargs)
            finally:
                self.seconds[layer] += time.perf_counter() - t0
                self.calls[layer] += 1
            if on_result is not None:
                on_result(result)
            return result

        setattr(module, attr, timed)
        self._patched.append((module, attr, original))

    def restore(self) -> None:
        for module, attr, original in reversed(self._patched):
            setattr(module, attr, original)
        self._patched.clear()


def full_gc_clock(sc) -> Callable[[], float]:
    """A clock of the seconds the Spark JVM has spent in full
    collections. ``System.gc()``, which ``benchutil.time_query`` calls
    between runs, is a full collection; the JVM books those under its
    old-generation collector."""
    beans = [b for b in sc._jvm.java.lang.management.ManagementFactory
             .getGarbageCollectorMXBeans()
             if "Old" in b.getName() or "MarkSweep" in b.getName()]
    return lambda: sum(b.getCollectionTime() for b in beans) / 1e3


def path_bytes(path: Any) -> int:
    """Size of a written sink: a single file or a directory of parts."""
    p = Path(path)
    if p.is_dir():
        return sum(f.stat().st_size for f in p.rglob("*") if f.is_file())
    return p.stat().st_size


def group_stats(sc, group: str) -> dict[str, int]:
    """Jobs, stages, tasks and failed tasks Spark ran under a job group."""
    tracker = sc.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0}
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        out["jobs"] += 1
        if info is None:
            continue
        for stage_id in info.stageIds:
            stage = tracker.getStageInfo(stage_id)
            if stage is None:  # skipped (reused shuffle) stages have no info
                continue
            out["stages"] += 1
            out["tasks"] += stage.numTasks
            out["failed_tasks"] += stage.numFailedTasks
    return out


_TASK_FIELDS = ("run_s", "cpu_s", "gc_s", "shuffle_read_bytes",
                "shuffle_write_bytes", "spill_bytes")


def event_log_totals(log_dir: Path, prefix: str) -> dict[str, float]:
    """Sum task metrics over every job whose group starts with ``prefix``.

    Reads the uncompressed JSON-lines event logs Spark wrote under
    ``log_dir`` (one directory of rolled files per application). A stage belongs to the job group of the first job that
    listed it; tasks of skipped stages never run, so they add nothing.
    """
    totals = dict.fromkeys(_TASK_FIELDS, 0.0)
    logs = sorted(p for p in log_dir.rglob("*")
                  if p.is_file() and not p.name.startswith((".", "appstatus")))
    for log in logs:
        stage_group: dict[int, str] = {}
        with log.open() as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    if not stage_group.get(ev.get("Stage ID"), "").startswith(prefix):
                        continue
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    totals["run_s"] += m.get("Executor Run Time", 0) / 1e3
                    totals["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    totals["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    totals["shuffle_read_bytes"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    )
                    totals["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    totals["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return totals
