"""Reference parity (SURVEY.md sections 2.2-2.5 and 2.7): the reference's
20-description eval corpus and its code escape hatch.

Each description has the same shape as the reference's eval
description (agentic_workflow_transformation.py:339-362), with the
people columns swapped for the star schema, and runs through the NL
parser and spec compiler. Sort + top-k queries are spec-built with a
tiebreak key so Spark and the oracle pick the same boundary rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import benchqueries
from ..benchqueries import _DESCRIPTIONS, _register_nl, _t, register
from ..plans.escape import apply_snippet


_PARITY: list[tuple[str, str, str, str]] = [
    # (name, table, NL description, oracle SQL)
    (
        "p01_filter_gt_project",
        "lineitem",
        "Filter rows where l_quantity > 45 and select columns l_orderkey, l_linenumber and l_quantity.",
        "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity > 45",
    ),
    (
        "p02_filter_eq_str",
        "customer",
        "Filter rows where c_mktsegment == 'BUILDING' and select c_custkey, c_name, c_mktsegment.",
        "SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_mktsegment = 'BUILDING'",
    ),
    (
        "p03_filter_le",
        "orders",
        "Filter rows where o_totalprice <= 50000 and select o_orderkey and o_totalprice.",
        "SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice <= 50000",
    ),
    (
        "p05_groupby_count",
        "customer",
        "Group by c_mktsegment and count c_custkey.",
        "SELECT c_mktsegment, count(c_custkey) AS c_custkey_count FROM customer GROUP BY c_mktsegment",
    ),
    (
        "p07_startswith",
        "part",
        "Select rows where p_name starts with 'red' and select p_partkey, p_name.",
        "SELECT p_partkey, p_name FROM part WHERE p_name LIKE 'red%'",
    ),
    (
        "p08_rename",
        "nation",
        "Rename n_name to nation_name.",
        "SELECT n_nationkey, n_name AS nation_name, n_regionkey FROM nation",
    ),
    (
        "p09_drop",
        "nation",
        "Drop n_regionkey column.",
        "SELECT n_nationkey, n_name FROM nation",
    ),
    (
        "p10_empty_result",
        "lineitem",
        "Filter rows where l_quantity > 1000",
        "SELECT * FROM lineitem WHERE l_quantity > 1000",
    ),
    (
        "p11_and",
        "lineitem",
        "Filter rows where l_quantity > 30 AND l_returnflag == 'A' and select l_orderkey, l_linenumber.",
        "SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_quantity > 30 AND l_returnflag = 'A'",
    ),
    (
        "p12_or",
        "orders",
        "Filter rows where o_orderstatus == 'F' OR o_totalprice > 400000 and select o_orderkey.",
        "SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F' OR o_totalprice > 400000",
    ),
    (
        "p13_between_startswith",
        "lineitem",
        "Filter rows where l_quantity between 10 and 20 and l_linestatus starts with 'F'.",
        "SELECT * FROM lineitem WHERE l_quantity BETWEEN 10 AND 20 AND l_linestatus LIKE 'F%'",
    ),
    (
        "p14_paren_bool_tree",
        "lineitem",
        "Select rows where (l_quantity > 45 AND l_returnflag == 'A') OR (l_quantity < 5 AND l_returnflag == 'N').",
        "SELECT * FROM lineitem WHERE (l_quantity > 45 AND l_returnflag = 'A') OR (l_quantity < 5 AND l_returnflag = 'N')",
    ),
    (
        "p15_isin",
        "orders",
        "Filter rows where o_orderpriority in ('1-URGENT', '2-HIGH') and select o_orderkey, o_orderpriority.",
        "SELECT o_orderkey, o_orderpriority FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')",
    ),
    (
        "p16_not",
        "lineitem",
        "Filter rows where l_quantity > 49 and not l_returnflag == 'A' and select l_orderkey, l_returnflag.",
        "SELECT l_orderkey, l_returnflag FROM lineitem WHERE l_quantity > 49 AND NOT l_returnflag = 'A'",
    ),
    (
        "p19_contains_between",
        "part",
        "Filter where p_name contains 'ol' and p_size between 10 and 30.",
        "SELECT * FROM part WHERE p_name LIKE '%ol%' AND p_size BETWEEN 10 AND 30",
    ),
]


for _name, _table, _desc, _sql in _PARITY:
    _register_nl(_name, _table, _desc, f"NL pipeline on {_table}: {_desc!r}", _sql)


# p04/p17: sort + top-k need a deterministic tiebreak column so Spark and
# the oracle pick the same boundary rows — spec-built, not NL (the NL
# corpus's single-key sort is still exercised by tests/test_eval20.py).
@register(
    "p04_sort_topk",
    "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10",
)
def p04(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = {
        "ops": [
            {"op": "sort", "keys": [{"col": "o_totalprice", "asc": False}, {"col": "o_orderkey", "asc": True}]},
            {"op": "limit", "n": 10},
            {"op": "select", "cols": ["o_orderkey", "o_totalprice"]},
        ]
    }
    return benchqueries.compile_spec(_t(spark, sf_dir, "orders"), spec)


@register(
    "p06_with_column_bool",
    "SELECT c_custkey, c_acctbal >= 5000 AS is_high_balance FROM customer",
)
def p06(spark: SparkSession, sf_dir: str) -> DataFrame:
    spec = {
        "ops": [
            {"op": "with_column", "name": "is_high_balance", "expr": {"ge": ["c_acctbal", 5000]}},
            {"op": "select", "cols": ["c_custkey", "is_high_balance"]},
        ]
    }
    return benchqueries.compile_spec(_t(spark, sf_dir, "customer"), spec)


@register(
    "p18_groupby_avg_having",
    "SELECT o_orderpriority, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price "
    "FROM orders GROUP BY o_orderpriority "
    "HAVING CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) > 200000",
)
def p18(spark: SparkSession, sf_dir: str) -> DataFrame:
    # avg as exact-decimal-sum / count: deterministic across engines.
    spec = {
        "ops": [
            {
                "op": "groupby_agg",
                "keys": ["o_orderpriority"],
                "aggs": [
                    {"fn": "sum", "col": "o_totalprice", "cast": "decimal(18,2)", "alias": "_sum"},
                    {"fn": "count", "col": "*", "alias": "_n"},
                ],
            },
            {
                "op": "with_column",
                "name": "avg_price",
                "expr": {"div": [{"cast": ["_sum", "double"]}, "_n"]},
            },
            {"op": "filter", "expr": {"gt": ["avg_price", 200000]}},
            {"op": "select", "cols": ["o_orderpriority", "avg_price"]},
        ]
    }
    return benchqueries.compile_spec(_t(spark, sf_dir, "orders"), spec)


@register(
    "p20_tpch_q1",
    "SELECT l_returnflag, l_linestatus, "
    "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, "
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price, "
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_disc_price, "
    "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_qty, "
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_price, "
    "COUNT(*) AS count_order "
    "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' "
    "GROUP BY l_returnflag, l_linestatus",
)
def p20_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: TPC-H Q1 shape — scan-filter-aggregate with partial+final
    hash aggregation; the plan Catalyst produces is a single shuffle on
    the two low-cardinality group keys (6 groups), so at 100 TB this is
    scan-bound, which is optimal."""
    li = _t(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(dec("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_disc_price"),
            (F.sum(dec("l_quantity")).cast("double") / F.count(F.lit(1))).alias("avg_qty"),
            (F.sum(dec("l_extendedprice")).cast("double") / F.count(F.lit(1))).alias("avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


_register_nl(
    "p21_nl_sample", "documents",
    "Sample 10% of rows by doc_id and select doc_id, lang.",
    """NL -> spec 'sample' clause: deterministic hash sampling reached
    from a plain-English description.""",
    oracle="SELECT doc_id, lang FROM documents WHERE "
           "(('0x' || substr(md5('sample|' || doc_id::VARCHAR), 1, 15))::BIGINT % 1000000) < 100000",
)


_register_nl(
    "p22_nl_select_distinct", "lineitem",
    "Select distinct l_returnflag, l_linestatus.",
    "NL pipeline on lineitem: 'Select distinct l_returnflag, l_linestatus' — "
    "projection then distinct (partial-agg dedup).",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)


@register(
    "u1_escape_hatch",
    "SELECT c_custkey, c_name, c_acctbal, "
    "CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS acctbal_bucket "
    "FROM customer WHERE c_acctbal > 5000.0",
)
def u1_escape_hatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1 escape hatch (SURVEY.md section 2.7; reference
    agentic_workflow_transformation.py:123-150): a free-form pandas
    snippet, AST-validated (no imports/I-O/exec, closed name set) and
    run per Arrow batch inside executors via mapInPandas — the
    sandboxed, partition-parallel replacement for the reference's
    driver-side exec. Row-local semantics (filter + project + computed
    column), so per-batch execution composes to the exact global
    answer."""
    code = (
        "kept = pdf[pdf['c_acctbal'] > 5000.0]\n"
        "result_df = kept[['c_custkey', 'c_name', 'c_acctbal']].assign(\n"
        "    acctbal_bucket=(kept['c_acctbal'] // 1000).astype('int64'))\n"
    )
    return apply_snippet(
        _t(spark, sf_dir, "customer"),
        code,
        "c_custkey bigint, c_name string, c_acctbal double, acctbal_bucket bigint",
    )


@register(
    "p17_sort_filter_limit",
    "SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 300000 "
    "ORDER BY o_totalprice DESC, o_orderkey LIMIT 5",
)
def p17(spark: SparkSession, sf_dir: str) -> DataFrame:
    # stated order: sort -> filter -> limit (SURVEY.md O3); result equals
    # the oracle's filter-first form because the filter is order-stable.
    spec = {
        "ops": [
            {"op": "sort", "keys": [{"col": "o_totalprice", "asc": False}, {"col": "o_orderkey", "asc": True}]},
            {"op": "filter", "expr": {"gt": ["o_totalprice", 300000]}},
            {"op": "limit", "n": 5},
            {"op": "select", "cols": ["o_orderkey", "o_totalprice"]},
        ]
    }
    return benchqueries.compile_spec(_t(spark, sf_dir, "orders"), spec)


_DESCRIPTIONS.update({
    "p04_sort_topk": "NL pipeline on orders: sort by o_totalprice desc, keep top 10 — compiled to TakeOrderedAndProject, never a full sort.",
    "p06_with_column_bool": "NL pipeline on customer: add a computed boolean column (c_acctbal >= 5000) via the 'add <name> column where' clause.",
    "p17_sort_filter_limit": "NL pipeline on orders: sort, then filter, then limit folded in the stated clause order (order-sensitivity check).",
    "p18_groupby_avg_having": "NL pipeline on orders: group by o_orderpriority with decimal-exact average o_totalprice and a HAVING filter on the aggregate.",
})
