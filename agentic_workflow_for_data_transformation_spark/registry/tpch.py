"""TPC-H plan shapes: Q2-Q22 as DataFrame plans (Q1 is the parity
query p20_tpch_q1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..benchqueries import _t, register


@register(
    "x_tpch_q3",
    "SELECT l_orderkey, "
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue, "
    "o_orderdate "
    "FROM customer, orders, lineitem "
    "WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey "
    "AND o_orderdate < TIMESTAMP '1996-06-01 00:00:00' AND l_shipdate > TIMESTAMP '1996-06-01 00:00:00' "
    "GROUP BY l_orderkey, o_orderdate "
    "ORDER BY revenue DESC, l_orderkey LIMIT 10",
)
def x_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (no o_shippriority in this schema): segment
    filter pushes into the customer scan, both join keys shuffle
    hash-join (AQE may demote the filtered customer side to broadcast
    at runtime), top-10 is TakeOrderedAndProject."""
    cutoff = F.lit("1996-06-01 00:00:00").cast("timestamp")
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    dec = lambda c_: F.col(c_).cast("decimal(18,2)")  # noqa: E731
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@register(
    "x_tpch_q6",
    "SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue "
    "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00' "
    "AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00' "
    "AND l_discount BETWEEN 0.02 AND 0.04 AND l_quantity < 24",
)
def x_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-aggregate; every predicate
    pushes to the parquet scan, result is a single global sum —
    scan-bound at any scale."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount").between(0.02, 0.04))
        & (F.col("l_quantity") < 24)
    ).agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)") * F.col("l_discount").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue")
    )


@register(
    "x_tpch_q5",
    "SELECT n_name, "
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue "
    "FROM customer, orders, lineitem, supplier, nation, region "
    "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey "
    "AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey "
    "AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey "
    "AND r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' "
    "AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00' "
    "GROUP BY n_name",
)
def x_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: six-table join. nation/region broadcast
    explicitly (25/5 rows); the fact-side joins shuffle on their keys
    and AQE may demote them to broadcast at runtime. The
    customer-supplier same-nation predicate rides the join, not a
    post-filter."""
    cutoff_lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    cutoff_hi = F.lit("1997-01-01 00:00:00").cast("timestamp")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= cutoff_lo) & (F.col("o_orderdate") < cutoff_hi)
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    r = F.broadcast(_t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    dec = lambda c_: F.col(c_).cast("decimal(18,2)")  # noqa: E731
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(n, s.s_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "x_tpch_q17",
    "WITH a AS (SELECT l_partkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty "
    " FROM lineitem GROUP BY l_partkey) "
    "SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly "
    "FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey "
    "JOIN a ON a.l_partkey = l.l_partkey "
    "WHERE p.p_brand = 'Brand#11' AND l.l_quantity < 0.2 * a.avg_qty",
)
def x_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated 'below 20% of this part's average
    quantity' rewritten as aggregate + self-join (the decorrelated plan
    Catalyst would want); the brand filter broadcasts a tiny part side."""
    li = _t(spark, sf_dir, "lineitem")
    p = F.broadcast(
        _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#11").select("p_partkey")
    )
    avg_q = li.groupBy("l_partkey").agg(
        (F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double") / F.count(F.lit(1)))
        .alias("avg_qty")
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(avg_q, "l_partkey")
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).cast("double") / F.lit(7.0))
            .alias("avg_yearly")
        )
    )


@register(
    "x_tpch_q18",
    "SELECT c_custkey, o_orderkey, o_totalprice, "
    "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty "
    "FROM customer, orders, lineitem "
    "WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey "
    " HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150) "
    "AND c_custkey = o_custkey AND o_orderkey = l_orderkey "
    "GROUP BY c_custkey, o_orderkey, o_totalprice",
)
def x_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume orders): the IN-subquery becomes a
    left-semi join against the big-order aggregate; one lineitem pass
    feeds both the qualifier and the final sum via exchange reuse."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("_sq"))
        .filter(F.col("_sq") > 150)
        .select("l_orderkey")
    )
    o = _t(spark, sf_dir, "orders").join(
        big, F.col("o_orderkey") == big.l_orderkey, "left_semi"
    )
    c = _t(spark, sf_dir, "customer")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("c_custkey", "o_orderkey", "o_totalprice")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"))
    )


@register(
    "x_tpch_q14",
    "SELECT CAST(100.0 * "
    "SUM(CASE WHEN p_type = 'PROMO' THEN CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2)) ELSE CAST(0 AS DECIMAL(18,2)) END) "
    "/ SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS promo_revenue_pct "
    "FROM lineitem, part WHERE l_partkey = p_partkey "
    "AND l_shipdate >= TIMESTAMP '1996-03-01 00:00:00' AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'",
)
def x_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promo revenue share): conditional aggregate
    over a fact-dim join; the date filter pushes to the lineitem scan
    so the join touches one month of the fact table. The ratio divides
    two exact decimal sums — one double division, engine-identical."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-03-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01 00:00:00").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    disc = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount")
    ).cast("decimal(18,2)")
    zero = F.lit(0).cast("decimal(18,2)")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            (
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "PROMO", disc).otherwise(zero))
                / F.sum(disc)
            )
            .cast("double")
            .alias("promo_revenue_pct")
        )
    )


@register(
    "x_tpch_q10",
    "SELECT c_custkey, c_name, "
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue, "
    "n_name FROM customer, orders, lineitem, nation "
    "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey "
    "AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00' "
    "AND l_returnflag = 'R' AND c_nationkey = n_nationkey "
    "GROUP BY c_custkey, c_name, n_name "
    "ORDER BY revenue DESC, c_custkey LIMIT 20",
)
def x_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape (returned-item revenue, top 20 customers):
    quarter + returnflag filters push to the fact scans, nation
    broadcasts, top-20 is TakeOrderedAndProject on the aggregate."""
    lo = F.lit("1996-01-01 00:00:00").cast("timestamp")
    hi = F.lit("1996-04-01 00:00:00").cast("timestamp")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= lo) & (F.col("o_orderdate") < hi)
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    dec = lambda c_: F.col(c_).cast("decimal(18,2)")  # noqa: E731
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


_Q19_DISJUNCTS = [
    ("Brand#11", (1, 11), (1, 15)),
    ("Brand#12", (10, 20), (1, 25)),
    ("Brand#13", (20, 30), (1, 40)),
]


@register(
    "x_tpch_q19",
    "SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue "
    "FROM lineitem, part WHERE p_partkey = l_partkey AND ("
    + " OR ".join(
        f"(p_brand = '{b}' AND l_quantity BETWEEN {ql} AND {qh} AND p_size BETWEEN {sl} AND {sh})"
        for b, (ql, qh), (sl, sh) in _Q19_DISJUNCTS
    )
    + ")",
)
def x_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: a disjunction of conjunctive brand/quantity/
    size ranges spanning BOTH join sides — the classic test that the
    optimizer keeps the equi-join key join-able and evaluates the
    OR-of-ANDs as a post-join filter (or CNF-pushes the single-side
    conjuncts) instead of falling back to a cross product."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    disj = None
    for b, (ql, qh), (sl, sh) in _Q19_DISJUNCTS:
        term = (
            (F.col("p_brand") == b)
            & F.col("l_quantity").between(ql, qh)
            & F.col("p_size").between(sl, sh)
        )
        disj = term if disj is None else disj | term
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(disj)
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")
            )
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "x_tpch_q2",
    "SELECT s_suppkey, s_name, n_name, s_acctbal "
    "FROM supplier s JOIN nation ON s_nationkey = n_nationkey "
    "WHERE s_acctbal = (SELECT max(s2.s_acctbal) FROM supplier s2 "
    "WHERE s2.s_nationkey = s.s_nationkey)",
)
def x_tpch_q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated max subquery (testdata has no
    partsupp, so the correlation runs supplier-per-nation instead of
    partsupp-per-part — same plan challenge). Spark decorrelates by
    hand: the per-nation max is a 25-row aggregate, broadcast back
    against supplier, so the fact side never shuffles. Values compare
    raw parquet doubles (no arithmetic), so float equality is exact."""
    sup = _t(spark, sf_dir, "supplier")
    nat = _t(spark, sf_dir, "nation")
    mx = sup.groupBy("s_nationkey").agg(F.max("s_acctbal").alias("_max_bal"))
    return (
        sup.join(F.broadcast(mx), "s_nationkey")
        .filter(F.col("s_acctbal") == F.col("_max_bal"))
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select("s_suppkey", "s_name", "n_name", "s_acctbal")
    )


@register(
    "x_tpch_q4",
    "SELECT o_orderpriority, count(*) AS order_count FROM orders o "
    "WHERE o_orderdate >= TIMESTAMP '1995-01-01' "
    "AND o_orderdate < TIMESTAMP '1995-07-01' "
    "AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey "
    "AND l_quantity > 45) "
    "GROUP BY o_orderpriority",
)
def x_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS subquery as a left-semi join (the date
    window filter pushes to the orders scan; the semi join never
    duplicates orders however many lineitems match)."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-07-01").cast("timestamp"))
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(F.col("l_quantity") > 45)
        .select(F.col("l_orderkey").alias("o_orderkey"))
    )
    return (
        o.join(li, "o_orderkey", "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "x_tpch_q21",
    "SELECT s_suppkey, s_name FROM supplier s "
    "WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey "
    "AND l_quantity >= 49) "
    "AND NOT EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey "
    "AND l_quantity <= 2)",
)
def x_tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: stacked EXISTS + NOT EXISTS against the same
    fact table, compiled as left-semi then left-anti joins. The two
    lineitem sides are filtered before joining, so each carries only
    the qualifying keys; at scale both reduce to semi-join bloom
    filters on s_suppkey rather than fact-fact shuffles."""
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    hi = li.filter(F.col("l_quantity") >= 49).select(F.col("l_suppkey").alias("s_suppkey"))
    lo = li.filter(F.col("l_quantity") <= 2).select(F.col("l_suppkey").alias("s_suppkey"))
    return (
        s.join(hi, "s_suppkey", "left_semi")
        .join(lo, "s_suppkey", "left_anti")
        .select("s_suppkey", "s_name")
    )


@register(
    "x_tpch_q7",
    "SELECT supp_nation, cust_nation, l_year, "
    "CAST(SUM(volume) AS DOUBLE) AS revenue FROM ("
    " SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, "
    " year(l_shipdate) AS l_year, "
    " CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2)) AS volume "
    " FROM lineitem JOIN supplier ON s_suppkey = l_suppkey "
    " JOIN orders ON o_orderkey = l_orderkey "
    " JOIN customer ON c_custkey = o_custkey "
    " JOIN nation n1 ON s_nationkey = n1.n_nationkey "
    " JOIN nation n2 ON c_nationkey = n2.n_nationkey "
    " WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2') "
    "     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')) "
    " AND l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1997-12-31'"
    ") GROUP BY supp_nation, cust_nation, l_year",
)
def x_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape (volume shipping): a 5-way join where the two
    nation dims broadcast under different aliases and the disjunctive
    nation-pair predicate applies post-join. The only big shuffles are
    lineitem-orders and orders-customer; supplier and both nation
    aliases broadcast. Decimal volume keeps the yearly sums exact."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate").between(
            F.lit("1995-01-01").cast("timestamp"), F.lit("1997-12-31").cast("timestamp")
        )
    )
    sup = F.broadcast(_t(spark, sf_dir, "supplier"))
    ords = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    n1 = F.broadcast(_t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")))
    n2 = F.broadcast(_t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")))
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    joined = (
        li.join(sup, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(ords, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(n1, F.col("s_nationkey") == F.col("n1_key"))
        .join(n2, F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2"))
            | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
        )
    )
    return (
        joined.select(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").alias("l_year"),
            (dec("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")).alias("volume"),
        )
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.sum("volume").cast("double").alias("revenue"))
    )


@register(
    "x_tpch_q8",
    "SELECT o_year, round(CAST(SUM(CASE WHEN nation = 'NATION_1' THEN volume "
    "ELSE CAST(0 AS DECIMAL(18,2)) * CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) "
    "/ CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share FROM ("
    " SELECT year(o_orderdate) AS o_year, "
    " CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2)) AS volume, "
    " n2.n_name AS nation "
    " FROM lineitem JOIN part ON p_partkey = l_partkey "
    " JOIN supplier ON s_suppkey = l_suppkey "
    " JOIN orders ON o_orderkey = l_orderkey "
    " JOIN customer ON c_custkey = o_custkey "
    " JOIN nation n1 ON c_nationkey = n1.n_nationkey "
    " JOIN region ON n1.n_regionkey = r_regionkey "
    " JOIN nation n2 ON s_nationkey = n2.n_nationkey "
    " WHERE r_name = 'ASIA' AND p_type = 'PROMO' "
    " AND o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'"
    ") GROUP BY o_year",
)
def x_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): the widest join in the
    corpus — lineitem against part/supplier/orders/customer plus two
    nation aliases and region, with a conditional-aggregate share.
    part filters to one p_type BEFORE the join (semi-selective
    broadcast); region restricts the customer side through nation.
    The share divides two exact decimal sums, rounded to 6."""
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    li = _t(spark, sf_dir, "lineitem")
    part = F.broadcast(_t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO"))
    sup = F.broadcast(_t(spark, sf_dir, "supplier"))
    ords = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate").between(
            F.lit("1995-01-01").cast("timestamp"), F.lit("1996-12-31").cast("timestamp")
        )
    )
    cust = _t(spark, sf_dir, "customer")
    n1 = F.broadcast(_t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_rkey")))
    n2 = F.broadcast(_t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")))
    reg = F.broadcast(_t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA"))
    joined = (
        li.join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(sup, F.col("s_suppkey") == F.col("l_suppkey"))
        .join(ords, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(cust, F.col("c_custkey") == F.col("o_custkey"))
        .join(n1, F.col("c_nationkey") == F.col("n1_key"))
        .join(reg, F.col("n1_rkey") == F.col("r_regionkey"))
        .join(n2, F.col("s_nationkey") == F.col("n2_key"))
    )
    vol = (dec("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")).alias("volume")
    zero = (F.lit(0).cast("decimal(18,2)") * F.lit(0).cast("decimal(18,2)"))
    scored = joined.select(F.year("o_orderdate").alias("o_year"), vol, F.col("nation"))
    return (
        scored.groupBy("o_year")
        .agg(
            F.round(
                F.sum(F.when(F.col("nation") == "NATION_1", F.col("volume")).otherwise(zero))
                .cast("double")
                / F.sum("volume").cast("double"),
                6,
            ).alias("mkt_share")
        )
    )


@register(
    "x_tpch_q12",
    "SELECT l_linestatus, "
    "CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count, "
    "CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count "
    "FROM orders JOIN lineitem ON o_orderkey = l_orderkey "
    "WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01' "
    "AND l_quantity > 47 GROUP BY l_linestatus",
)
def x_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (shipping-mode priority split): fact-fact join
    where the lineitem side filters hard BEFORE the join (date window +
    quantity both reach the scan), then conditional-count aggregation.
    At scale the filtered lineitem side shrinks enough for AQE to pick
    a broadcast; the written plan leaves that choice to the optimizer."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_quantity") > 47)
    )
    o = _t(spark, sf_dir, "orders")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        o.join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@register(
    "x_tpch_q13",
    "SELECT c_count, count(*) AS custdist FROM ("
    " SELECT c_custkey, count(o_orderkey) AS c_count "
    " FROM customer LEFT JOIN orders ON c_custkey = o_custkey "
    "  AND o_orderpriority <> '1-URGENT' "
    " GROUP BY c_custkey) GROUP BY c_count",
)
def x_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (customer order-count distribution): LEFT join
    with an extra join-side predicate (customers with zero qualifying
    orders must survive with count 0 — count(o_orderkey) skips nulls),
    then a second aggregation over the first's result. Two shuffles
    total; the histogram aggregate runs on the already-tiny per-customer
    counts."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@register(
    "x_tpch_q15",
    "WITH revenue AS (SELECT l_suppkey AS supplier_no, "
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue "
    "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' "
    "AND l_shipdate < TIMESTAMP '1996-04-01' GROUP BY 1) "
    "SELECT s_suppkey, s_name, total_revenue FROM supplier "
    "JOIN revenue ON s_suppkey = supplier_no "
    "WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)",
)
def x_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape (top supplier by quarterly revenue): the
    revenue CTE aggregates once, then a scalar-max subquery selects its
    peak. The scalar subquery is a 1-row max aggregate crossJoined back
    with a broadcast (same shape as Q17's scalar average) — no window
    node, no single-partition exchange over a frame that grows with
    the supplier count, no second scan of lineitem, no driver action;
    exact decimal revenue so the max comparison is bit-stable."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    dec = lambda c: F.col(c).cast("decimal(18,2)")  # noqa: E731
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(dec("l_extendedprice") * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)"))
            .cast("double")
            .alias("total_revenue")
        )
    )
    mx = F.broadcast(revenue.agg(F.max("total_revenue").alias("_mx")))
    top = revenue.crossJoin(mx).filter(
        F.col("total_revenue") == F.col("_mx")
    )
    sup = F.broadcast(_t(spark, sf_dir, "supplier"))
    return (
        top.join(sup, F.col("s_suppkey") == F.col("supplier_no"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "x_tpch_q22",
    "WITH avg_bal AS (SELECT avg(c_acctbal) AS ab FROM customer WHERE c_acctbal > 0.0 "
    " AND c_mktsegment IN ('BUILDING', 'AUTOMOBILE')) "
    "SELECT c_mktsegment, count(*) AS numcust, "
    "CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal "
    "FROM customer, avg_bal "
    "WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE') AND c_acctbal > ab "
    "AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey "
    "AND o_orderpriority = '1-URGENT') "
    "GROUP BY c_mktsegment",
)
def x_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape (global-customer sentiment): a scalar-average
    subquery gates the main filter, and NOT EXISTS becomes a left-anti
    join against orders. The 1-row average broadcasts via crossJoin;
    the anti join's right side carries only o_custkey (pruned scan).
    Note avg(double) over a filtered set: both engines sum the same
    doubles in a deterministic single-aggregate plan at this row count,
    with the comparison (>) insensitive to last-ulp noise in practice;
    the aggregate output itself is decimal-exact."""
    c = _t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE")
    )
    avg_bal = F.broadcast(
        c.filter(F.col("c_acctbal") > 0.0).agg(F.avg("c_acctbal").alias("ab"))
    )
    o_keys = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return (
        c.crossJoin(avg_bal)
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(o_keys, "c_custkey", "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("totacctbal"),
        )
    )


@register(
    "x_tpch_q9",
    "SELECT n_name AS nation, year(o_orderdate) AS o_year, "
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) "
    "* CAST(1 - l_discount AS DECIMAL(18,2))) AS DOUBLE) AS profit "
    "FROM lineitem "
    "JOIN part ON p_partkey = l_partkey "
    "JOIN supplier ON s_suppkey = l_suppkey "
    "JOIN orders ON o_orderkey = l_orderkey "
    "JOIN nation ON s_nationkey = n_nationkey "
    "WHERE p_name LIKE '%red%' "
    "GROUP BY 1, 2",
)
def x_tpch_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (product-type profit by nation and year; testdata
    has no partsupp, so profit omits the ps_supplycost term — the plan
    challenge is identical: a five-table join tree with one fact-fact
    edge). part/supplier/nation broadcast (the part filter prunes to
    ~2.5% of parts before broadcasting); lineitem joins orders on
    l_orderkey, the only shuffle edge — at 100 TB that is the one
    unavoidable repartition, and both sides carry only join + aggregate
    columns by then. Ref: agentic_workflow_transformation.py has no
    join surface; this extends the engine's TPC-H parity corpus."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").contains("red")).select("p_partkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1) - F.col("l_discount")).cast("decimal(18,2)")
            )
            .cast("double")
            .alias("profit")
        )
    )


@register(
    "x_tpch_q11",
    "WITH val AS (SELECT l_partkey AS partkey, "
    "CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS value "
    "FROM lineitem JOIN supplier ON s_suppkey = l_suppkey "
    "JOIN nation ON s_nationkey = n_nationkey "
    "WHERE n_name = 'NATION_7' GROUP BY 1), "
    "tot AS (SELECT CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) * 0.001 "
    "AS threshold FROM val) "
    "SELECT partkey, value FROM val, tot WHERE value > threshold",
)
def x_tpch_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (important stock: per-part value exceeding a
    fraction of the national total; lineitem value stands in for
    partsupp supplycost*availqty). The HAVING-against-scalar-subquery
    compiles to: one grouped aggregate, a 1-row re-aggregate of THAT
    output (not a second fact scan), broadcast back via crossJoin.
    Both aggregates stay decimal until the final cast so the threshold
    comparison is bit-stable across engines."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    val = (
        li.join(F.broadcast(s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)),
                li.l_suppkey == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("partkey"))
        .agg(
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("value")
        )
    )
    tot = val.agg(
        (F.sum(F.col("value").cast("decimal(18,2)")).cast("double") * F.lit(0.001)).alias(
            "threshold"
        )
    )
    return (
        val.crossJoin(F.broadcast(tot))
        .filter(F.col("value") > F.col("threshold"))
        .select("partkey", "value")
    )


@register(
    "x_tpch_q16",
    "SELECT p_brand, p_type, p_size, "
    "count(DISTINCT l_suppkey) AS supplier_cnt "
    "FROM lineitem JOIN part ON p_partkey = l_partkey "
    "WHERE p_brand <> 'Brand#45' AND p_type NOT LIKE 'MEDIUM%' "
    "AND p_size IN (1, 4, 9, 14, 23, 36, 45, 49) "
    "AND l_suppkey NOT IN "
    "(SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0) "
    "GROUP BY p_brand, p_type, p_size",
)
def x_tpch_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (supplier diversity per part group; lineitem is
    the part-supplier relation since testdata has no partsupp, and the
    complaints NOT IN becomes an anti join on negative-balance
    suppliers). count(DISTINCT) over the join output runs as a
    two-phase expand/partial-distinct aggregate — no row ever leaves
    with more than the group key + suppkey. The NOT IN side is a
    handful of keys: broadcast anti join, never a shuffle."""
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45")
        & ~F.col("p_type").startswith("MEDIUM")
        & F.col("p_size").isin(1, 4, 9, 14, 23, 36, 45, 49)
    )
    bad = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0.0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(bad), "l_suppkey", "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"))
    )


@register(
    "x_tpch_q20",
    "WITH shipped AS (SELECT l_suppkey, "
    "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty "
    "FROM lineitem JOIN part ON p_partkey = l_partkey "
    "WHERE p_name LIKE 'red%' "
    "AND l_shipdate >= TIMESTAMP '1995-01-01' "
    "AND l_shipdate < TIMESTAMP '1996-01-01' "
    "GROUP BY 1) "
    "SELECT s_name, s_acctbal FROM supplier "
    "JOIN nation ON s_nationkey = n_nationkey "
    "WHERE n_name = 'NATION_7' AND s_suppkey IN "
    "(SELECT l_suppkey FROM shipped WHERE qty > 50)",
)
def x_tpch_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (potential part promotion: suppliers who moved
    real volume of a part family in a year; the availqty comparison
    becomes a shipped-quantity threshold since testdata has no
    partsupp). The IN-subquery is a left-semi join against a
    pre-aggregated, pre-filtered key set — lineitem reduces to
    qualifying l_suppkey values before it ever meets supplier, so the
    semi side is tiny and broadcastable at any scale."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").startswith("red")).select("p_partkey")
    keys = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("qty"))
        .filter(F.col("qty") > 50)
        .select(F.col("l_suppkey").alias("s_suppkey"))
    )
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    return (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(keys, "s_suppkey", "left_semi")
        .select("s_name", "s_acctbal")
    )
