"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

The actual registry lives in
``agentic_workflow_for_data_transformation_spark/benchqueries.py`` (the core)
and ``registry/`` (one module per query family); this file only
re-exports it.
"""

from __future__ import annotations

import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent))

from agentic_workflow_for_data_transformation_spark import benchqueries


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: TPC-H Q1-shaped
    scan-filter-aggregate over lineitem via the engine's registry."""
    return benchqueries.queries()["p20_tpch_q1"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return benchqueries.queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL equivalent for each query (omitted only
    for genuinely non-SQL-expressible ops → rows-only check)."""
    return benchqueries.oracle_sql()
