"""Benchmark entry point: one workload, one fresh process, one JSON result.

    python3 perfbench/run.py --workload agentic_transform --seed 1 --seconds 5 --trace 0

Runs from the root of a checkout. A run

1. builds the sf0.1 tables once per checkout (``inputs.ensure_tables``);
2. starts the engine's Spark session on ``local[<cores>]`` in a fresh
   JVM (``setup_cold_s``), then stops and restarts the session
   ``SETUPS`` times in that JVM and reports the median as ``setup_s``;
3. runs the workload's closed loop for at least ``--seconds`` and a
   fixed number of passes (see ``workloads.py``), reads the CPU time
   and peak RSS of the JVM, then checks every output against DuckDB;
4. stops the JVM, deletes its scratch directory and prints a detail
   line followed by the result line.

With ``--trace 0`` the result carries the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` it carries the per-layer ones,
taken by timing the engine's public functions from outside, from
Spark's ``StatusTracker`` and from its event log.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
from pathlib import Path
from statistics import median, quantiles

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "agentic_workflow_for_data_transformation_spark"
WORKLOADS = ("agentic_transform", "registry_relational", "registry_operators")
SETUPS = 3
TAIL_PERCENTILES = (99, 95, 90, 75, 50)


def tail(values: list[float]) -> dict | None:
    """The highest of TAIL_PERCENTILES with at least ten samples beyond
    it; None with fewer than twenty samples."""
    for p in TAIL_PERCENTILES:
        if len(values) * (100 - p) >= 1000:
            return {"percentile": p,
                    "value_s": quantiles(values, n=100, method="inclusive")[p - 1]}
    return None


def _env(work: Path, cores: int) -> None:
    """Point every scratch file of Spark, the JVM and Python into ``work``."""
    for d in ("local", "tmp", "eventlog"):
        (work / d).mkdir()
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=str(work / "local"),
        TMPDIR=str(work / "tmp"),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS="--conf spark.ui.showConsoleProgress=false pyspark-shell",
    )


def _install_tracer(tracer) -> None:
    from agentic_workflow_for_data_transformation_spark import benchqueries
    from agentic_workflow_for_data_transformation_spark.agents import orchestrator

    from tracing import path_bytes

    def count_bytes(path) -> None:
        tracer.bytes["io.csv_bytes_out"] += path_bytes(path)

    for attr, layer in (("planner_agent", "orchestrator.plan_s"),
                        ("execution_agent", "orchestrator.execute_s"),
                        ("critic_agent", "orchestrator.critic_s"),
                        ("parse_description", "parser.parse_s"),
                        ("compile_spec", "compile.build_s"),
                        ("read_csv", "io.read_csv_s")):
        tracer.wrap(orchestrator, attr, layer)
    tracer.wrap(orchestrator, "write_csv_single", "io.write_csv_s", on_result=count_bytes)
    tracer.wrap(benchqueries, "parse_description", "parser.parse_s")
    tracer.wrap(benchqueries, "compile_spec", "compile.build_s")


def _measure(args, tables: Path, work: Path, cores: int) -> tuple[dict, dict]:
    import jvm
    import tracing
    import workloads

    try:
        spark, start_s, warmup_s = jvm.start("perfbench")
        warm = []
        for _ in range(SETUPS):
            spark.stop()
            with workloads.Stopwatch() as sw:
                spark, _, _ = jvm.start("perfbench")
            warm.append(sw.unstolen(sw.wall))
        tracer = tracing.Tracer() if args.trace else None
        if tracer is not None:
            _install_tracer(tracer)
        jvm_pid = jvm.pid(spark)
        cpu0 = jvm.tree_cpu_s(jvm_pid) + sum(os.times()[:2])
        t_loop = time.perf_counter()
        try:
            m, checks = workloads.run(args.workload, spark, args.seed, args.seconds,
                                      work, tables, tracer)
        finally:
            if tracer is not None:
                tracer.restore()
        t_checks = time.perf_counter()
        cpu_s = jvm.tree_cpu_s(jvm_pid) + sum(os.times()[:2]) - cpu0
        rss_mb = jvm.peak_rss_mb(jvm_pid)
        spark.sparkContext.setJobGroup(workloads.CHECK_GROUP, "output checks")
        checks()
        m.info["loop_s"] = round(t_checks - t_loop, 3)
        m.info["checks_s"] = round(time.perf_counter() - t_checks, 3)
    finally:
        jvm.stop()

    all_samples = [x for v in m.samples.values() for x in v]
    e2e = {
        "setup_s": median(warm),
        "total_s": workloads.per_item_total(m.samples),
        "cold_total_s": sum(m.cold.values()),
        "cpu_s": cpu_s,
        "ok_frac": (m.attempted - m.failed) / m.attempted,
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores, "order": m.order, "passes": m.passes,
        "samples": len(all_samples),
        "p50_s": median(all_samples) if all_samples else None, "tail": tail(all_samples),
        "attempted": m.attempted, "failed": m.failed, "failures": m.failures[:20],
        "steady_s": {k: [round(x, 4) for x in v] for k, v in m.samples.items()},
        "cold_s": {k: round(v, 4) for k, v in m.cold.items()},
        "setup_cold_s": start_s + warmup_s, "setup_warm_s": warm,
        "timed_wall_s": m.wall_s,
        "jvm_peak_rss_mb": rss_mb,
        **m.info,
    }
    if not args.trace:
        return e2e, detail

    n = max(m.ops, 1)
    layers = {name: tracer.seconds[name] / n for name in (
        "orchestrator.plan_s", "orchestrator.execute_s", "orchestrator.critic_s",
        "parser.parse_s", "compile.build_s", "io.write_csv_s", "io.read_csv_s")}
    layers["orchestrator.attempts_per_transform"] = m.layers["orchestrator.attempts"] / n
    layers["compile.calls_per_op"] = tracer.calls["compile.build_s"] / n
    layers["io.csv_bytes_out"] = tracer.bytes["io.csv_bytes_out"] / n
    layers["registry.construct_s"] = m.layers["registry.construct_s"] / n
    layers["registry.execute_s"] = tracer.seconds["registry.execute_s"] / n
    n_queries = max(len(m.cold), 1)
    for phase in ("cold", "steady"):
        key = f"registry.construct_jobs_{phase}"
        layers[key] = m.layers[key] / n_queries
    for k in ("jobs", "stages", "tasks", "failed_tasks"):
        layers[f"spark.{k}"] = m.layers[f"spark.{k}"] / n
    ev = tracing.event_log_totals(work / "eventlog", workloads.MEASURE_GROUP)
    layers.update({
        "exec.run_s": ev["run_s"] / n, "exec.cpu_s": ev["cpu_s"] / n,
        "exec.gc_s": ev["gc_s"] / n,
        "exec.cpu_util": ev["cpu_s"] / (m.op_wall_s * cores) if m.op_wall_s else 0.0,
        "shuffle.read_bytes": ev["shuffle_read_bytes"] / n,
        "shuffle.write_bytes": ev["shuffle_write_bytes"] / n,
        "spill.bytes": ev["spill_bytes"] / n,
        "session.start_s": start_s, "session.warmup_s": warmup_s,
    })
    covered = (tracer.seconds["orchestrator.plan_s"] + tracer.seconds["orchestrator.execute_s"]
               + tracer.seconds["orchestrator.critic_s"] + m.layers["registry.construct_s"]
               + tracer.seconds["registry.execute_s"])
    # time_query's System.gc() between runs is the measuring protocol's,
    # not a layer's
    detail["protocol_gc_s"] = m.layers["protocol_gc_s"]
    timed = m.op_wall_s - m.layers["protocol_gc_s"]
    layers["trace.coverage"] = covered / timed if timed else 0.0
    layers["trace.total_s"] = e2e["total_s"]
    layers["trace.cold_total_s"] = e2e["cold_total_s"]
    return layers, detail


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="spark-graft benchmark: one workload run")
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its scratch files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: no {PACKAGE} package in {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = spec["per_layer" if args.trace else "end_to_end"]
    sys.path[:0] = [str(ROOT), str(ROOT / "tools")]
    import inputs

    cores = len(os.sched_getaffinity(0))
    work = ROOT / ".perfbench_tmp" / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    t0 = time.perf_counter()
    try:
        os.chdir(work)
        _env(work, cores)
        tables = inputs.ensure_tables(ROOT / ".perfbench_data")
        if args.trace:
            os.environ["PYSPARK_SUBMIT_ARGS"] = (
                f"--conf spark.eventLog.enabled=true "
                f"--conf spark.eventLog.dir=file://{work / 'eventlog'} "
                "--conf spark.eventLog.compress=false " + os.environ["PYSPARK_SUBMIT_ARGS"])
        values, detail = _measure(args, tables, work, cores)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    detail["run_wall_s"] = round(time.perf_counter() - t0, 3)
    print(json.dumps({"perfbench_detail": detail}))
    print(json.dumps({
        "correct": detail["failed"] == 0,
        "attempted": detail["attempted"],
        "failed": detail["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
