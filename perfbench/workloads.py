"""The benchmark's three workloads, each a closed loop with one client.

One client thread sends the next transform or query only after the
previous one has returned. A run walks the workload's items in seeded
order, pass after pass, until ``seconds`` have passed and a minimum
number of passes is done: one on ``agentic_transform`` (its 20
transforms are the reference's eval), 1 + ``STEADY_PASSES`` on the
registry workloads. The first pass is the cold pass. Each pass takes
longer than ``BENCHMARK.json``'s ``run_seconds``, so the work per run
is fixed. Output checks run after the timed loop.

- ``agentic_transform``: the reference's 20 eval descriptions through
  ``agents.run_transform`` with no LLM, over a seeded people CSV. Every
  written CSV is compared with DuckDB running
  ``plans.sqlgen.spec_to_sql`` over the same input.
- ``registry_relational`` / ``registry_operators``: registered queries
  timed cold then steady by ``benchutil.time_query`` into the noop
  sink, then compared with their ``oracle_sql`` on DuckDB through
  ``tools/check_oracle.frame_fingerprint``.
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path
from statistics import median
from typing import Callable

import inputs
import tracing

PEOPLE_ROWS = 5_000

# Reference-parity and relational NL queries, one per kind of plan:
# filters, group-by, top-k, per-group top-k (window), join + group-by,
# anti join, pivot, rollup and exact percentile. All run through the NL
# parser and plans.compile; none delegates to operators/.
RELATIONAL = [
    "p02_filter_eq_str", "p16_not", "p05_groupby_count", "p04_sort_topk",
    "p29_nl_top_per_group", "p26_nl_join_group", "p34_nl_anti_join",
    "p38_nl_pivot", "p39_nl_rollup", "p53_nl_percentile",
]

# Scale-path queries over documents and embeddings from six operator
# families. ns_dedup_minhash_lsh is served from a session cache after
# its first run; ns_dedup_minhash_estimate is from the anti-scaling set
# (slower on 32 cores than on 8).
OPERATORS = [
    "ns_dedup_minhash_lsh", "ns_dedup_minhash_estimate", "ns_sim_topk_bruteforce",
    "ns_text_fingerprint", "ns_corpus_length_hist", "ns_quality_majority_vote",
    "ns_stats_key_skew",
]

# run after the timed loop: compare every output with DuckDB
Checks = Callable[[], None]

# Registry passes after the cold pass; each gives every query two more
# steady samples. An operator query's single steady sample (the steady
# run of its cold-pass time_query call) still carries JIT warm-up, and
# a burst of load on one of its parallel tasks stretches the whole
# stage; four queries make up most of the operator total, so one such
# sample moves it. Under a bursty background load on one core of four,
# the interquartile spread of total_s over five runs fell from 0.139 to
# 0.063 to 0.030 with 0, 1 and 2 passes. The relational total sums ten
# short queries, so one burst moves it less (0.047 with no pass under
# the same load), and a pass there would cost 5-9 s a run that the time
# limit of a full evaluation does not leave.
STEADY_PASSES = {"registry_relational": 0, "registry_operators": 2}

MEASURE_GROUP = "perfbench:measure:"
CHECK_GROUP = "perfbench:check"


@dataclass
class Measured:
    """What one run of a workload collected."""

    order: list[str]
    samples: dict[str, list[float]] = field(default_factory=dict)
    cold: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    passes: int = 0
    wall_s: float = 0.0  # timed seconds before removing stolen time
    info: dict = field(default_factory=dict)
    # traced runs only: layer totals over the timed ops, the number of
    # ops (transforms, or query runs) and their summed wall time
    layers: defaultdict[str, float] = field(default_factory=lambda: defaultdict(float))
    ops: int = 0
    op_wall_s: float = 0.0

    def fail(self, item: str, why: str, count: int = 1) -> None:
        self.failed += count
        self.failures.append(f"{item}: {why}"[:300])


def closed_loop(order: list[str], seconds: float,
                run_one: Callable[[str, bool], None], min_passes: int) -> int:
    """Run items one after another, in whole passes over ``order``,
    until ``seconds`` have passed and ``min_passes`` are done; returns
    the number of passes. The first pass is the cold pass."""
    t0 = time.perf_counter()
    passes = 0
    while passes < min_passes or time.perf_counter() - t0 < seconds:
        passes += 1
        for item in order:
            run_one(item, passes == 1)
    return passes


def _host_ticks() -> tuple[int, int]:
    """(stolen, busy) CPU ticks of this machine so far, from /proc/stat.
    Busy counts every non-idle state, steal included."""
    with open("/proc/stat") as fh:
        user, nice, system, _idle, _iowait, irq, softirq, steal = map(
            int, fh.readline().split()[1:9])
    return steal, user + nice + system + irq + softirq + steal


class Stopwatch:
    """Wall time of an interval, and the same time less the share the
    hypervisor stole from this VM's busy CPUs during it.

    On a shared virtual machine the host takes CPU from a busy guest
    ("steal"), which stretches wall time by a factor the program does
    not control: on a 4-vCPU Firecracker guest it ranged from 5% to 35%
    from one second to the next. ``unstolen(t)`` scales a duration
    measured inside the interval by (1 - stolen / busy): the time it
    would have taken had the host stolen nothing."""

    def __enter__(self) -> "Stopwatch":
        self._ticks = _host_ticks()
        self._t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall = time.perf_counter() - self._t0
        steal, busy = (b - a for a, b in zip(self._ticks, _host_ticks()))
        self.kept = 1.0 - steal / busy if busy > 0 else 1.0

    def unstolen(self, seconds: float) -> float:
        return seconds * self.kept


def _set_group(spark, group: str) -> None:
    spark.sparkContext.setJobGroup(group, group)


def _add_spark_stats(m: Measured, spark, groups: list[str]) -> None:
    for g in groups:
        for k, v in tracing.group_stats(spark.sparkContext, g).items():
            m.layers[f"spark.{k}"] += v


def _check_each(m: Measured, items, check: Callable) -> None:
    """Run one output check per item; an error counts as a failure."""
    for item, count, *args in items:
        try:
            why = check(*args)
        except Exception as e:  # a check that cannot run is a failed check
            why = f"check error {type(e).__name__}: {e}"
        if why:
            m.fail(item, why, count)


def agentic_transform(spark, seed: int, seconds: float, workdir: Path,
                      tracer: tracing.Tracer | None) -> tuple[Measured, Checks]:
    import duckdb
    import pandas as pd
    from check_oracle import frame_fingerprint

    from agentic_workflow_for_data_transformation_spark.agents import run_transform
    from agentic_workflow_for_data_transformation_spark.cli import EVAL_DESCRIPTIONS
    from agentic_workflow_for_data_transformation_spark.plans.sqlgen import spec_to_sql
    from agentic_workflow_for_data_transformation_spark.sources import read_csv

    csv_path = inputs.write_people_csv(workdir / "people.csv", seed, PEOPLE_ROWS)
    out_dir = workdir / "out"
    m = Measured(order=inputs.seeded_order(EVAL_DESCRIPTIONS, seed))
    m.info["rows"] = PEOPLE_ROWS
    df = read_csv(spark, str(csv_path))
    written: list[tuple[str, dict, str]] = []

    def run_one(desc: str, first: bool) -> None:
        m.attempted += 1
        group = f"{MEASURE_GROUP}{m.attempted}"
        if tracer is not None:
            _set_group(spark, group)
        try:
            with Stopwatch() as sw:
                state = run_transform(spark, df, desc, out_dir=out_dir)
        except Exception as e:  # a failed transform is counted, not fatal
            m.fail(desc, f"{type(e).__name__}: {e}")
            return
        dt = sw.unstolen(sw.wall)
        m.wall_s += sw.wall
        if tracer is not None:
            m.ops += 1
            m.op_wall_s += sw.wall
            m.layers["orchestrator.attempts"] += state.attempts
            _add_spark_stats(m, spark, [group])
        if not state.valid:
            m.fail(desc, "critic rejected: " + "; ".join(state.messages))
            return
        m.samples.setdefault(desc, []).append(dt)
        if first:
            m.cold[desc] = dt
        written.append((desc, state.spec, state.output_path))

    m.passes = closed_loop(m.order, seconds, run_one, min_passes=1)

    def checks() -> None:
        con = duckdb.connect()
        con.execute(f"CREATE VIEW people AS SELECT * FROM read_csv_auto('{csv_path}', header=true)")

        def check(spec: dict, path: str) -> str | None:
            p = Path(path)
            parts = sorted(p.glob("part-*.csv")) if p.is_dir() else [p]
            got = frame_fingerprint(pd.concat([pd.read_csv(f) for f in parts]))
            want = frame_fingerprint(con.execute(spec_to_sql(spec, "people")).df())
            return None if got == want else f"output {got} != duckdb {want}"

        _check_each(m, [(d, 1, spec, p) for d, spec, p in written], check)
        con.close()

    return m, checks


def registry(names: list[str], steady_passes: int, spark, seed: int, seconds: float,
             tables: Path, tracer: tracing.Tracer | None) -> tuple[Measured, Checks]:
    import duckdb
    from check_oracle import TABLES, frame_fingerprint

    from agentic_workflow_for_data_transformation_spark import benchqueries
    from agentic_workflow_for_data_transformation_spark.benchutil import time_query

    queries, oracles = benchqueries.queries(), benchqueries.oracle_sql()
    sf_dir = str(tables)
    m = Measured(order=inputs.seeded_order(names, seed))
    runs: dict[str, int] = {}  # time_query calls per query
    done: dict[str, int] = {}  # ... of which returned
    full_gc = None
    if tracer is not None:
        from pyspark.sql.readwriter import DataFrameWriter

        # every query run ends in the noop sink's save(): that is its
        # execution, including a steady run time_query re-measures and drops
        tracer.wrap(DataFrameWriter, "save", "registry.execute_s")
        full_gc = tracing.full_gc_clock(spark.sparkContext)

    def traced(q: str, n: int):
        """The query function, timed per call, with Spark jobs grouped by
        (query, call, construct|execute)."""
        calls: list[float] = []

        def build(spark_, sf):
            base = f"{MEASURE_GROUP}{q}:{n}:{len(calls)}"
            _set_group(spark_, base + ":construct")
            t0 = time.perf_counter()
            df = queries[q](spark_, sf)
            calls.append(time.perf_counter() - t0)
            _set_group(spark_, base + ":execute")
            return df

        return build, calls

    def run_one(q: str, first: bool) -> None:
        m.attempted += 1
        runs[q] = runs.get(q, 0) + 1
        fn, calls = (queries[q], None) if tracer is None else traced(q, runs[q])
        gc0 = full_gc() if full_gc is not None else 0.0
        try:
            with Stopwatch() as sw:
                cold, steady = time_query(spark, fn, sf_dir)
        except Exception as e:  # a failed query is counted, not fatal
            m.fail(q, f"{type(e).__name__}: {e}")
            return
        done[q] = done.get(q, 0) + 1
        m.wall_s += cold + steady
        if first:
            m.cold[q] = sw.unstolen(cold)
            m.samples.setdefault(q, []).append(sw.unstolen(steady))
        else:  # the query is warm now: both runs are steady
            m.samples.setdefault(q, []).extend([sw.unstolen(cold), sw.unstolen(steady)])
        if calls is None:
            return
        m.ops += len(calls)
        m.op_wall_s += sw.wall
        m.layers["registry.construct_s"] += sum(calls)
        m.layers["protocol_gc_s"] += full_gc() - gc0
        base = f"{MEASURE_GROUP}{q}:{runs[q]}"
        if first:
            sc = spark.sparkContext
            m.layers["registry.construct_jobs_cold"] += tracing.group_stats(sc, base + ":0:construct")["jobs"]
            m.layers["registry.construct_jobs_steady"] += tracing.group_stats(sc, base + ":1:construct")["jobs"]
        _add_spark_stats(m, spark, [f"{base}:{i}:{part}" for i in range(len(calls))
                                    for part in ("construct", "execute")])

    m.passes = closed_loop(m.order, seconds, run_one, min_passes=1 + steady_passes)

    def oracle(q: str) -> list:
        """The oracle's fingerprint, cached beside the tables it read:
        both are fixed, so the answer only changes with the SQL."""
        sql = oracles[q]
        cache = tables / "oracle" / (hashlib.sha256(sql.encode()).hexdigest()[:32] + ".json")
        if cache.exists():
            return json.loads(cache.read_text())
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables / t}.parquet/*.parquet')")
        want = list(frame_fingerprint(con.execute(sql).df()))
        con.close()
        cache.parent.mkdir(exist_ok=True)
        tmp = cache.with_suffix(f".{os.getpid()}.tmp")
        tmp.write_text(json.dumps(want))
        tmp.replace(cache)
        return want

    def check(q: str) -> str | None:
        got = list(frame_fingerprint(queries[q](spark, sf_dir).toPandas()))
        want = oracle(q)
        return None if got == want else f"spark {got} != duckdb {want}"

    return m, lambda: _check_each(m, [(q, done.get(q, 0), q) for q in names], check)


def run(workload: str, spark, seed: int, seconds: float, workdir: Path,
        tables: Path, tracer: tracing.Tracer | None) -> tuple[Measured, Checks]:
    if workload == "agentic_transform":
        return agentic_transform(spark, seed, seconds, workdir, tracer)
    names = {"registry_relational": RELATIONAL, "registry_operators": OPERATORS}[workload]
    return registry(names, STEADY_PASSES[workload], spark, seed, seconds, tables, tracer)


def per_item_total(samples: dict[str, list[float]]) -> float:
    return sum(median(v) for v in samples.values())
