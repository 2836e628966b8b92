"""Registration-time smoke gate: every registered query must BUILD
(pass Spark analysis) against the real testdata.

This exists because a testdata schema drift (the events table's ts
column changing dtype between rounds) once reached the driver bench
before any local check caught it — every query here constructs its
DataFrame against the same parquet the driver uses, so an
analysis-time break (missing column, dtype mismatch, bad cast) fails
pytest before it can crash the bench. Construction only: no
``.collect()``/``.count()`` — iterative operators (dedup clusters,
k-means) do run their bounded driver loops at build time, which is
the behavior the driver sees too.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from agentic_workflow_for_data_transformation_spark import benchqueries

# the driver runs check_oracle at sf0.01 and the bench at sf0.1 —
# smoke against sf0.01 (same schema family, cheap build)
SMOKE_SF_DIR = os.environ.get("SPARK_GRAFT_SMOKE_SF_DIR", "/root/testdata/sf0.01")

_NAMES = list(benchqueries.queries())


def test_registry_is_nonempty_and_unique():
    assert len(_NAMES) == len(set(_NAMES))
    assert len(_NAMES) >= 100


@pytest.mark.parametrize("name", _NAMES)
def test_query_builds_against_testdata(spark, name):
    df = benchqueries.queries()[name](spark, SMOKE_SF_DIR)
    # touching the schema forces full analysis/resolution of the plan
    assert df.schema.fields, f"{name} produced an empty schema"


def test_every_oracle_has_a_query():
    dangling = set(benchqueries.oracle_sql()) - set(_NAMES)
    assert not dangling, f"oracle_sql entries without a query: {sorted(dangling)}"


def test_local_oracle_report_covers_full_registry():
    """CORRECTNESS_LOCAL.json is the only correctness signal for
    queries past the driver's 50-row window — a stale committed report
    once hid a whole broken query family. The report must carry
    exactly one row per registered query and no failed rows."""
    import json
    from pathlib import Path

    report = json.loads(
        (Path(__file__).resolve().parent.parent / "CORRECTNESS_LOCAL.json").read_text()
    )
    registered = set(benchqueries.queries())
    assert set(report) == registered, (
        "stale CORRECTNESS_LOCAL.json — rerun tools/check_oracle.py: "
        f"missing={sorted(registered - set(report))[:5]} "
        f"extra={sorted(set(report) - registered)[:5]}"
    )
    bad = {
        k: v for k, v in report.items()
        if v.get("err") not in (None, "no_oracle") or v.get("hash_match") is False
    }
    assert not bad, f"failed rows in committed report: {sorted(bad)[:5]}"


def test_every_query_has_a_catalog_description():
    """QUERIES.md is the registry's browsing surface: every
    registration must explain itself via docstring or desc= so the
    generated catalog has no blank cells (VERDICT r3 #6)."""
    blank = [k for k, v in benchqueries.descriptions().items() if not v.strip()]
    assert not blank, f"registrations with no catalog line: {blank[:10]}"


def test_nl_oracle_schema_map_matches_testdata():
    """NL oracles are rendered at import time from one static table ->
    columns map, so it must list exactly the columns of every testdata
    table, in file order (an unchecked hand-copied list once named a
    column no table has)."""
    from pathlib import Path

    import pyarrow.dataset as ds

    tables = {
        p.name.removesuffix(".parquet"): ds.dataset(p, format="parquet").schema.names
        for p in sorted(Path(SMOKE_SF_DIR).glob("*.parquet"))
    }
    assert benchqueries._TABLE_COLUMNS == tables


_REGISTRY_DIR = Path(benchqueries.__file__).resolve().parent / "registry"
_MODULES = sorted(p.stem for p in _REGISTRY_DIR.glob("*.py") if p.stem != "__init__")
_FAMILIES = [m for m in _MODULES if not m.startswith("_")]


_FIRST_IMPORTS = [pytest.param(f"registry.{m}", id=m) for m in _MODULES] + [
    pytest.param(f"operators.{p.stem}", id=f"operators.{p.stem}")
    for p in sorted((_REGISTRY_DIR.parent / "operators").glob("*.py")) if p.stem != "__init__"
]


@pytest.mark.parametrize("module", _FIRST_IMPORTS)
def test_registry_module_can_be_imported_first(module):
    """Any registry or operators module imported first in a fresh
    interpreter leaves the whole registry registered: no module depends
    on import order, and no import cycle runs into a half-made module."""
    pkg = benchqueries.__name__.rpartition(".")[0]
    code = (
        "import importlib, json\n"
        f"importlib.import_module('{pkg}.{module}')\n"
        f"from {pkg}.benchqueries import queries\n"
        "print(json.dumps(sorted(queries())))\n"
    )
    out = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True,
                         cwd=_REGISTRY_DIR.parent.parent, timeout=120)
    assert out.returncode == 0, out.stderr[-2000:]
    assert json.loads(out.stdout.splitlines()[-1]) == sorted(_NAMES)


def test_driver_window_is_least_recently_gated():
    """The driver gates the first 50 names; read off the committed
    ledgers, none of them was gated later than any name after them,
    and the name breaks ties."""
    last: dict[str, int] = {}
    for path in _REGISTRY_DIR.parent.parent.glob("CORRECTNESS_r*.json"):
        rnd = int(path.stem.removeprefix("CORRECTNESS_r"))
        for name in json.loads(path.read_text()):
            last[name] = max(last.get(name, 0), rnd)
    assert last, "no driver ledgers found"
    window, rest = _NAMES[:50], _NAMES[50:]
    assert max(last.get(n, 0) for n in window) <= min(last.get(n, 0) for n in rest)
    assert _NAMES == sorted(_NAMES, key=lambda n: (last.get(n, 0), n))


def test_every_query_has_one_family_and_every_family_registers():
    families = benchqueries.families()
    assert list(families) == _NAMES
    assert set(families.values()) == set(_FAMILIES)
