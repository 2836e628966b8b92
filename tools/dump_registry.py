"""Dump the query registry as JSON: the sorted names, ``oracle_sql()``,
``descriptions()``, each name's family and the driver window (the
first 50 names of ``queries()``). Imports only; needs no Spark session.

Two dumps describe the same registry when their ``names`` lists and
their ``oracles`` and ``descriptions`` dicts are equal. ``families``
moves only when a query moves module, and ``window`` follows the
committed CORRECTNESS_r*.json ledgers (least recently gated first).

Usage: python tools/dump_registry.py OUT.json
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from agentic_workflow_for_data_transformation_spark import benchqueries


def main() -> None:
    names = list(benchqueries.queries())
    dump = {
        "names": sorted(names),
        "oracles": benchqueries.oracle_sql(),
        "descriptions": benchqueries.descriptions(),
        "families": benchqueries.families(),
        "window": names[:50],
    }
    Path(sys.argv[1]).write_text(json.dumps(dump, indent=1, sort_keys=True) + "\n")
    print(f"{sys.argv[1]}: {len(names)} queries, {len(set(dump['families'].values()))} families")


if __name__ == "__main__":
    main()
