"""Dump what the NL parser makes of every string the repo writes down,
to check that a parser change moves no spec.

Harvests every single-line string constant (``ast.Constant``) of the
Python files under ``tests/``, the package's ``registry/`` and
``perfbench/``, and of ``benchqueries.py`` and ``cli.py``, and parses
each one against six column lists: none, and the columns of the people
table and of lineitem, events, documents and orders. Each (string,
column list) pair records ``json.dumps(spec)`` (key order included: the
critic prompt embeds it), or the exception class and message when the
parse raises. Imports only; needs no Spark session.

Two dumps describe the same parser when they are equal. Run each
checkout's own copy of this tool and compare the JSON. When the parser
has a clause table (``parser._CLAUSES``), the tool also prints how many
parsed clauses each table row built.

Usage: python tools/dump_specs.py OUT.json
"""

from __future__ import annotations

import ast
import json
import sys
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from agentic_workflow_for_data_transformation_spark.plans import parser

PKG = ROOT / "agentic_workflow_for_data_transformation_spark"
SOURCES = [ROOT / "tests", PKG / "registry", ROOT / "perfbench",
           PKG / "benchqueries.py", PKG / "cli.py"]
COLUMNS = {
    "none": None,
    "people": ["name", "age", "city"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                 "l_extendedprice", "l_discount", "l_tax", "l_returnflag",
                 "l_linestatus", "l_shipdate"],
    "events": ["event_id", "ts", "user_id", "event_type", "value", "props"],
    "documents": ["doc_id", "text", "lang", "source", "n_chars"],
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
               "o_orderpriority"],
}


def harvest() -> list[str]:
    """Every distinct single-line, non-blank string constant, sorted."""
    files = sorted(f for s in SOURCES for f in ([s] if s.is_file() else s.rglob("*.py")))
    found = set()
    for f in files:
        for node in ast.walk(ast.parse(f.read_text(), str(f))):
            if isinstance(node, ast.Constant) and isinstance(node.value, str) \
                    and "\n" not in node.value and node.value.strip():
                found.add(node.value)
    return sorted(found)


def count_rows() -> Counter:
    """Wrap each clause-table row's builder so that a build that returns
    ops counts one hit for its row."""
    hits: Counter = Counter()

    def counted(i: int, build):
        def run(m, columns):
            ops = build(m, columns)
            if ops is not None:
                hits[i] += 1
            return ops
        return run

    parser._CLAUSES[:] = [(p, counted(i, b)) for i, (p, b) in enumerate(parser._CLAUSES)]
    return hits


def main() -> None:
    hits = count_rows() if hasattr(parser, "_CLAUSES") else None
    texts = harvest()
    out: dict[str, str] = {}
    for text in texts:
        for name, cols in COLUMNS.items():
            try:
                result = json.dumps(parser.parse_description(text, cols))
            except Exception as e:  # a raising pair is part of the dump
                result = f"{type(e).__name__}: {e}"
            out[json.dumps([text, name])] = result
    Path(sys.argv[1]).write_text(json.dumps(out, indent=0, sort_keys=True) + "\n")
    parsed = sum(r.startswith("{") for r in out.values())
    print(f"{sys.argv[1]}: {len(texts)} strings x {len(COLUMNS)} column lists = "
          f"{len(out)} pairs, {parsed} parse")
    if hits is not None:
        for i, (pattern, _) in enumerate(parser._CLAUSES):
            print(f"{hits[i]:6d}  row {i:2d}  {pattern.pattern[:70]}")


if __name__ == "__main__":
    main()
