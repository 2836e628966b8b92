"""Solo per-query measurement + plan capture for optimization rounds.

Times named queries with the shared benchutil protocol (cold + GC +
steady, min-of-2) on an otherwise idle session, and optionally dumps
``explain('formatted')`` to plans/<tag>/<query>_<suffix>.txt so plan
claims in OPTIMIZATION_r*.md are checkable without running Spark.

Beside ``cold`` and ``steady``, each query reports the driver JVM's
collections during its timed runs, from the GarbageCollectorMXBeans:
``young_gcs``/``young_gc_ms`` and ``full_gcs``/``full_gc_ms`` (the
protocol's own ``System.gc()`` calls count as full), and
``heap_committed_mb`` after them, from the MemoryMXBean.

Usage:
    python tools/solo_query.py [--sf-dir DIR] [--plans TAG SUFFIX] \
        [--no-time] query [query ...]

Examples:
    python tools/solo_query.py ns_stats_bootstrap_diff
    python tools/solo_query.py --plans r09 before ns_stats_bootstrap_diff
"""

from __future__ import annotations

import argparse
import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from agentic_workflow_for_data_transformation_spark import benchqueries
from agentic_workflow_for_data_transformation_spark.benchutil import time_query, warmup
from agentic_workflow_for_data_transformation_spark.session import get_spark


def gc_totals(spark) -> dict[str, float]:
    """Collections so far and their summed pause ms: young from the
    "G1 Young Generation" bean, full from "G1 Old Generation"."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    out = {"young_gcs": 0, "young_gc_ms": 0, "full_gcs": 0, "full_gc_ms": 0}
    for bean in mf.getGarbageCollectorMXBeans():
        name = bean.getName()
        kind = "young" if "Young" in name else "full" if "Old" in name else None
        if kind is not None:
            out[f"{kind}_gcs"] += bean.getCollectionCount()
            out[f"{kind}_gc_ms"] += bean.getCollectionTime()
    return out


def heap_committed_mb(spark) -> float:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted() / 2**20


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--plans", nargs=2, metavar=("TAG", "SUFFIX"),
                    help="write plans/<TAG>/<query>_<SUFFIX>.txt")
    ap.add_argument("--no-time", action="store_true",
                    help="plans only, skip the timed runs")
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    reg = benchqueries.queries()
    unknown = [q for q in args.queries if q not in reg]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    spark = get_spark(app_name="solo_query")
    warmup(spark)

    out: dict[str, dict[str, float]] = {}
    for name in args.queries:
        fn = reg[name]
        if args.plans:
            tag, suffix = args.plans
            plan_dir = ROOT / "plans" / tag
            plan_dir.mkdir(parents=True, exist_ok=True)
            df = fn(spark, args.sf_dir)
            import contextlib
            import io

            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
            (plan_dir / f"{name}_{suffix}.txt").write_text(buf.getvalue())
        if not args.no_time:
            spark.sparkContext.setJobDescription(f"solo:{name}")
            gc0 = gc_totals(spark)
            cold, steady = time_query(spark, fn, args.sf_dir)
            gc1 = gc_totals(spark)
            out[name] = {"cold": round(cold, 3), "steady": round(steady, 3),
                         **{k: gc1[k] - gc0[k] for k in gc0},
                         "heap_committed_mb": round(heap_committed_mb(spark))}
            spark.sparkContext.setJobDescription(None)
    if out:
        print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
