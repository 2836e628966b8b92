"""Generate QUERIES.md: a catalog of every registered query — name,
oracle status, and the first docstring line of its builder — grouped
by family (the registry/ module each query is registered in), so the
356-entry registry is navigable without reading the registry modules.

Usage: python tools/gen_catalog.py  (writes QUERIES.md at repo root)
"""

from __future__ import annotations

import importlib
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from agentic_workflow_for_data_transformation_spark import benchqueries


def clip(line: str) -> str:
    return line if len(line) <= 180 else line[:177] + "..."


def natural(name: str) -> list:
    return [int(p) if p.isdigit() else p for p in re.split(r"(\d+)", name)]


def main() -> None:
    q = benchqueries.queries()
    o = benchqueries.oracle_sql()
    d = benchqueries.descriptions()
    by_family: dict[str, list[str]] = {}
    for name, family in benchqueries.families().items():
        by_family.setdefault(family, []).append(name)
    out = [
        "# QUERIES — registered query catalog",
        "",
        f"{len(q)} queries, {len(o)} oracle-backed, in {len(by_family)} families "
        "(generated by tools/gen_catalog.py).",
        "",
    ]
    package = benchqueries.__name__.rpartition(".")[0]
    for family in sorted(by_family):
        doc = importlib.import_module(f"{package}.registry.{family}").__doc__
        out += [
            f"## {family}",
            "",
            " ".join(doc.strip().split("\n\n")[0].split()),
            "",
            "| query | oracle | what it does |",
            "|---|---|---|",
        ]
        for name in sorted(by_family[family], key=natural):
            desc = clip(d.get(name, ""))
            out.append(f"| `{name}` | {'yes' if name in o else 'rows-only'} | {desc} |")
        out.append("")
    Path(__file__).resolve().parent.parent.joinpath("QUERIES.md").write_text(
        "\n".join(out)
    )
    print(f"QUERIES.md: {len(q)} queries")


if __name__ == "__main__":
    main()
