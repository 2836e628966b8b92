"""Seeded inputs for the benchmark workloads.

- ``write_people_csv``: the ``name,age,city`` table the agentic
  workload transforms. The seed fixes every row.
- ``seeded_order``: the order in which a run sends its transforms or
  queries.
- ``ensure_tables``: the sf0.1 star schema (lineitem, orders, ...,
  documents, embeddings) the registry workloads read. It is built once
  per checkout by ``tools/gen_scale.py``'s generators, in a child
  process so that the measuring process starts with a fresh JVM. The
  generators are deterministic, so every run reads the same tables; the
  cache is keyed by the generator's source, so an edited generator
  builds new tables.

Run ``python perfbench/inputs.py --build-tables DIR`` to build the
tables by hand.
"""

from __future__ import annotations

import argparse
import csv
import hashlib
import os
import random
import shutil
import subprocess
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
TABLES_SF = 0.1
GENERATOR = ROOT / "tools" / "gen_scale.py"

# Names and cities the reference's 20 eval descriptions test: names
# starting with 'J', names containing 'an', and the four named cities.
FIRST_NAMES = [
    "James", "Jane", "John", "Jasmine", "Jordan", "Juan", "Daniel", "Hannah",
    "Susan", "Ethan", "Megan", "Brian", "Anna", "Alice", "Bob", "Carl",
    "Diego", "Grace", "Ivy", "Olga", "Priya", "Tom", "Victor", "Zoe",
]
CITIES = ["New York", "Chicago", "Boston", "Los Angeles", "Seattle",
          "Houston", "Denver", "Miami"]
# The oldest rows get distinct ages above every other row, so the
# top-k descriptions ("keep top 3", "keep top 2") have no ties and one
# correct answer that an independent engine can reproduce.
TOP_AGES = (99, 98, 97)


def write_people_csv(path: Path, seed: int, rows: int) -> Path:
    rng = random.Random(f"people:{seed}")
    body = [
        (f"{rng.choice(FIRST_NAMES)} {chr(65 + rng.randrange(26))}.",
         rng.randint(18, 90), rng.choice(CITIES))
        for _ in range(rows - len(TOP_AGES))
    ]
    for age in TOP_AGES:
        body.insert(rng.randrange(len(body) + 1),
                    (rng.choice(FIRST_NAMES), age, rng.choice(CITIES)))
    with path.open("w", newline="") as fh:
        w = csv.writer(fh)
        w.writerow(["name", "age", "city"])
        w.writerows(body)
    return path


def seeded_order(items: list[str], seed: int) -> list[str]:
    order = list(items)
    random.Random(f"order:{seed}").shuffle(order)
    return order


def ensure_tables(cache_dir: Path) -> Path:
    """Return the sf0.1 table directory, building it on first use."""
    version = f"sf{TABLES_SF}-" + hashlib.sha256(GENERATOR.read_bytes()).hexdigest()[:16]
    final = cache_dir / version
    if (final / "_DONE").exists():
        return final
    cache_dir.mkdir(parents=True, exist_ok=True)
    staging = cache_dir / f"building-{os.getpid()}"
    shutil.rmtree(staging, ignore_errors=True)
    try:
        subprocess.run(
            [sys.executable, str(Path(__file__).resolve()), "--build-tables", str(staging)],
            check=True, timeout=600, stdout=subprocess.DEVNULL,
        )
        shutil.rmtree(final, ignore_errors=True)
        staging.rename(final)
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return final


def _build_tables(out: Path) -> None:
    sys.path.insert(0, str(GENERATOR.parent))
    from gen_scale import GENERATORS

    from agentic_workflow_for_data_transformation_spark.session import get_spark

    import jvm

    out.mkdir(parents=True, exist_ok=True)
    parts = max(4, int(32 * TABLES_SF))  # same file layout as tools/gen_scale.py
    try:
        spark = get_spark(app_name="perfbench-tables")
        for name, gen in GENERATORS.items():
            gen(spark, TABLES_SF, parts).write.mode("overwrite").parquet(
                str(out / f"{name}.parquet"))
    finally:
        jvm.stop()
    (out / "_DONE").touch()


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--build-tables", type=Path, required=True, metavar="DIR")
    sys.path.insert(0, str(ROOT))
    _build_tables(ap.parse_args().build_tables)
