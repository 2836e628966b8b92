"""Query construction on the driver: what building a registry query
costs before any of it executes.

- Parquet schemas are memoized per file fingerprint, so a warm
  construction runs no schema-inference job, and a rewrite in place is
  seen on the next read.
- Wide expressions (the expanded d=64 L2 norm, the 16-term MinHash
  match count) are built as one SQL expression each, with the session's
  call-site capture off, so building a similarity or dedup query takes
  a few hundred py4j round trips, not thousands; the expression is the
  Column form's, term for term.
"""

from __future__ import annotations

import random
import re
from functools import reduce

import py4j.clientserver
from pyspark.sql import functions as F

from agentic_workflow_for_data_transformation_spark import benchqueries
from agentic_workflow_for_data_transformation_spark.functions.vectors import (
    as_double_array,
    l2_norm,
)
from agentic_workflow_for_data_transformation_spark.session import path_fingerprint
from agentic_workflow_for_data_transformation_spark.sources import read_parquet


def _construction_jobs(spark, name: str, sf_dir: str, group: str) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        benchqueries.queries()[name](spark, sf_dir)
    finally:
        sc.setJobGroup("", "")
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_warm_construction_runs_no_spark_job(spark, sf_dir):
    # a two-table NL join (read_parquet_table) and an events query
    # (read_events): the first build infers each schema, the second
    # reads them from the session memo
    for name in ("p26_nl_join_group", "ns_stats_key_skew"):
        _construction_jobs(spark, name, sf_dir, f"construct-cold-{name}")
        assert _construction_jobs(spark, name, sf_dir, f"construct-warm-{name}") == 0, name


def test_read_parquet_sees_a_rewrite_in_place(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1, "a")], "k long, v string").write.parquet(path)
    assert read_parquet(spark, path).columns == ["k", "v"]
    before = path_fingerprint(path)
    (spark.createDataFrame([(2, "b", 3.0)], "k long, v string, w double")
     .write.mode("overwrite").parquet(path))
    assert path_fingerprint(path) != before
    got = read_parquet(spark, path)
    assert got.columns == ["k", "v", "w"]
    assert [tuple(r) for r in got.collect()] == [(2, "b", 3.0)]


def test_read_parquet_infers_a_path_it_cannot_fingerprint(spark, tmp_path):
    spark.createDataFrame([(1,)], "k long").write.parquet(str(tmp_path / "g.parquet"))
    glob = str(tmp_path / "g.parq*")
    assert path_fingerprint(glob) is None
    assert path_fingerprint("file:///nowhere") is None
    assert read_parquet(spark, glob).collect()[0]["k"] == 1


def _round_trips(build) -> int:
    conn = py4j.clientserver.ClientServerConnection
    orig = conn.send_command
    n = 0

    def counting(self, command):
        nonlocal n
        n += 1
        return orig(self, command)

    conn.send_command = counting
    try:
        build()
    finally:
        conn.send_command = orig
    return n


def test_wide_query_construction_takes_few_round_trips(spark, sf_dir):
    q = benchqueries.queries()
    for name in ("ns_sim_topk_bruteforce", "ns_dedup_minhash_estimate"):
        q[name](spark, sf_dir)  # warm: artifacts and schemas memoized
        n = _round_trips(lambda: q[name](spark, sf_dir))
        assert n <= 400, (name, n)


def _plan(df) -> str:
    return re.sub(r"#\d+", "#", df._jdf.queryExecution().optimizedPlan().toString())


def test_l2_norm_one_expression_matches_the_column_form(spark):
    rng = random.Random(7)
    dim = 64
    rows = [(i, [rng.uniform(-3, 3) for _ in range(dim)]) for i in range(40)]
    df = spark.createDataFrame(rows, "id long, v array<float>")
    # the Column form the expression is written out from
    a = as_double_array("v")
    sq = [F.element_at(a, i + 1) * F.element_at(a, i + 1) for i in range(dim)]
    old = df.select("id", F.sqrt(reduce(lambda acc, t: acc + t, sq)).alias("n"))
    new = df.select("id", l2_norm("v", dim).alias("n"))
    assert _plan(new) == _plan(old)
    got, want = (sorted(tuple(r) for r in d.collect()) for d in (new, old))
    assert got == want
