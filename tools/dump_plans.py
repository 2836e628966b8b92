"""Dump the optimized logical plan of every registry query as JSON, to
check that a change moves no plan.

Each query is built (not executed) against SF_DIR; a builder may still
run the jobs its artifacts need (checkpoints, memoized codebooks). A
query's entry lists the optimized plan of every frame its builder
checkpointed (``localCheckpoint``/``checkpoint``, in call order), which
the returned plan shows only as a ``LogicalRDD``, then the returned
plan. A frame memoized in the session is checkpointed once, so its plan
sits under the first query that built it. Each plan's text is printed
with no field truncation, its expression ids (``#123``) and RDD ids
(``RDD[45]``) are renumbered in order of first appearance, and a
directory a builder made under the temp dir (an index written and read
back) becomes ``<tmp>``, so two dumps of the same plans compare equal
across sessions. A query whose builder raises ends its list with
``ERROR <type>: <first line>``.

One difference survives normalization without being a plan change: a
query with several DISTINCT aggregates is rewritten through an Expand
whose groups Catalyst orders by expression hash, and that hash moves
with the raw expression ids, so the group order can differ between two
sessions that allocated ids differently (``ns_profile_table`` and
``ns_text_heaps_fit`` do so at one commit when another query is built
first). Check such a diff by rebuilding the query after a different
warm-up.

Compare two dumps (for example of a parent and a child commit, each
run with its own checkout's copy of this tool) with any JSON diff; the
output is sorted by query name.

Usage: python tools/dump_plans.py SF_DIR OUT.json
"""

from __future__ import annotations

import json
import re
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from agentic_workflow_for_data_transformation_spark import benchqueries
from agentic_workflow_for_data_transformation_spark.session import get_spark

_IDS = re.compile(r"(#|RDD\[)(\d+)")
_TMP = re.compile(re.escape(tempfile.gettempdir()) + r"/[^/\]\s,]+")


def normalize(plan: str) -> str:
    """Renumber expression and RDD ids in order of first appearance and
    mask temp directories."""
    seen: dict[tuple[str, str], int] = {}

    def renumber(m: re.Match) -> str:
        key = (m.group(1), m.group(2))
        return f"{m.group(1)}{seen.setdefault(key, len(seen))}"

    return _TMP.sub("<tmp>", _IDS.sub(renumber, plan))


def _optimized(df) -> str:
    return normalize(df._jdf.queryExecution().optimizedPlan().toString())


def record_checkpoints(df_class: type) -> list[str]:
    """Wrap ``df_class``'s ``localCheckpoint`` and ``checkpoint`` so that
    each call first appends the frame's normalized optimized plan to the
    returned list."""
    seen: list[str] = []
    for name in ("localCheckpoint", "checkpoint"):
        def recording(self, *args, _method=getattr(df_class, name), **kwargs):
            seen.append(_optimized(self))
            return _method(self, *args, **kwargs)
        setattr(df_class, name, recording)
    return seen


def main() -> None:
    sf_dir, out = sys.argv[1], Path(sys.argv[2])
    spark = get_spark(app_name="dump_plans")
    spark.conf.set("spark.sql.debug.maxToStringFields", str(2**31 - 1))
    checkpointed = record_checkpoints(type(spark.range(0)))
    plans: dict[str, list[str]] = {}
    for name, fn in benchqueries.queries().items():
        checkpointed.clear()
        try:
            plan = _optimized(fn(spark, sf_dir))
        except Exception as e:  # a failing builder is part of the dump
            plan = f"ERROR {type(e).__name__}: {str(e).splitlines()[0] if str(e) else ''}"
        plans[name] = [*checkpointed, plan]
    out.write_text(json.dumps(plans, indent=1, sort_keys=True) + "\n")
    errors = sum(p[-1].startswith("ERROR ") for p in plans.values())
    frames = sum(len(p) - 1 for p in plans.values())
    print(f"{out}: {len(plans)} plans, {frames} checkpointed frames, {errors} errors")


if __name__ == "__main__":
    main()
