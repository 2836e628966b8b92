"""Generate QUERIES.md: a catalog of every registered query — name,
oracle status, and the first docstring line of its builder — so the
356-entry registry is navigable without reading benchqueries.py.

Usage: python tools/gen_catalog.py  (writes QUERIES.md at repo root)
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from agentic_workflow_for_data_transformation_spark import benchqueries


def clip(line: str) -> str:
    return line if len(line) <= 180 else line[:177] + "..."


def main() -> None:
    q = benchqueries.queries()
    o = benchqueries.oracle_sql()
    d = benchqueries.descriptions()
    groups = {
        "p": "Reference-parity corpus (SURVEY.md §2.2–2.5)",
        "u": "Dynamic-code escape hatch (§2.7)",
        "x": "Extension relational operators (§2.6 surface)",
        "ns": "LLM-pipeline operators (§2.9)",
    }
    out = [
        "# QUERIES — registered query catalog",
        "",
        f"{len(q)} queries, {len(o)} oracle-backed (generated by tools/gen_catalog.py).",
        "",
    ]
    for prefix, title in groups.items():
        names = [n for n in q if n.split("_")[0].rstrip("0123456789") == prefix]
        out += [f"## {title}", "", "| query | oracle | what it does |", "|---|---|---|"]
        for name in names:
            desc = clip(d.get(name, ""))
            out.append(f"| `{name}` | {'yes' if name in o else 'rows-only'} | {desc} |")
        out.append("")
    Path(__file__).resolve().parent.parent.joinpath("QUERIES.md").write_text(
        "\n".join(out)
    )
    print(f"QUERIES.md: {len(q)} queries")


if __name__ == "__main__":
    main()
