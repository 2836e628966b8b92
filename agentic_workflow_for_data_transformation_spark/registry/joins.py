"""Joins (operators/joins.py): as-of, range, interval and salted-skew
joins, and merge/upsert.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..benchqueries import _t, register
from ..operators import joins
from ..sources import read_events


@register(
    "x_join_asof",
    "WITH v AS (SELECT user_id, ts, max(event_id) AS view_event_id FROM events "
    " WHERE event_type = 'view' GROUP BY user_id, ts), "
    "p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase') "
    "SELECT p.user_id, p.ts, p.event_id, v.ts AS asof_ts, v.view_event_id AS asof_view_event_id "
    "FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND p.ts >= v.ts",
)
def x_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the user's most recent
    view at-or-before it (union + running-last, one shuffle on
    user_id — see operators/joins.py). The right side is pre-aggregated
    to unique (user, ts) so ties are well-defined in every engine."""
    ev = _t(spark, sf_dir, "events")
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_event_id"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    return joins.asof_join(purchases, views, on="user_id", right_cols=["view_event_id"])


@register(
    "x_join_asof_nearest",
    "WITH v AS (SELECT user_id, ts, max(event_id) AS view_event_id FROM events "
    " WHERE event_type = 'view' GROUP BY user_id, ts), "
    "p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase'), "
    "b AS (SELECT p.user_id, p.ts, p.event_id, v.ts AS b_ts, "
    " v.view_event_id AS b_id FROM p ASOF LEFT JOIN v "
    " ON p.user_id = v.user_id AND p.ts >= v.ts), "
    "f AS (SELECT p.user_id, p.ts, p.event_id, v.ts AS f_ts, "
    " v.view_event_id AS f_id FROM p ASOF LEFT JOIN v "
    " ON p.user_id = v.user_id AND p.ts <= v.ts) "
    "SELECT b.user_id, b.ts, b.event_id, "
    "CASE WHEN f_ts IS NULL OR (b_ts IS NOT NULL "
    " AND epoch(b.ts) - epoch(b_ts) <= epoch(f_ts) - epoch(b.ts)) "
    " THEN b_ts ELSE f_ts END AS asof_ts, "
    "CASE WHEN f_ts IS NULL OR (b_ts IS NOT NULL "
    " AND epoch(b.ts) - epoch(b_ts) <= epoch(f_ts) - epoch(b.ts)) "
    " THEN b_id ELSE f_id END AS asof_view_event_id "
    "FROM b JOIN f ON b.user_id = f.user_id AND b.event_id = f.event_id",
)
def x_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-mode as-of join: each purchase matched to the user's
    closest view in EITHER direction (ties to the preceding one) —
    sensor-alignment semantics, completing the backward/forward as-of
    family. One hash exchange on user_id carries both running fills
    (ascending for the preceding view, descending for the following
    one); the per-row pick is a scalar comparison of epoch distances.
    The oracle is two DuckDB ASOF joins + the same pick."""
    ev = _t(spark, sf_dir, "events")
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_event_id"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    return joins.asof_join(
        purchases,
        views,
        on="user_id",
        right_cols=["view_event_id"],
        direction="nearest",
    )


def _upsert_updates_sql() -> str:
    # the synthetic change-set: every 7th order re-priced (+100, as
    # exact DECIMAL then back to DOUBLE) and re-flagged 'U'; every
    # 13th order re-keyed past the keyspace as a brand-new order
    return (
        "SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, "
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 100 AS DOUBLE) AS o_totalprice, "
        "o_orderdate, o_orderpriority FROM orders WHERE o_orderkey % 7 = 0 "
        "UNION ALL "
        "SELECT o_orderkey + 100000000, o_custkey, 'N' AS o_orderstatus, "
        "o_totalprice, o_orderdate, o_orderpriority FROM orders "
        "WHERE o_orderkey % 13 = 0"
    )


@register(
    "x_merge_upsert",
    "WITH mu AS (" + _upsert_updates_sql() + "), "
    "mb AS (SELECT o_orderkey AS bk, o_custkey AS b_ck, "
    "o_orderstatus AS b_st, o_totalprice AS b_tp FROM orders), "
    "mx AS (SELECT o_orderkey AS uk, o_custkey AS u_ck, "
    "o_orderstatus AS u_st, o_totalprice AS u_tp FROM mu) "
    "SELECT coalesce(uk, bk) AS o_orderkey, "
    "coalesce(u_ck, b_ck) AS o_custkey, "
    "coalesce(u_st, b_st) AS o_orderstatus, "
    "coalesce(u_tp, b_tp) AS o_totalprice, "
    "CASE WHEN bk IS NULL THEN 'inserted' "
    "WHEN uk IS NULL THEN 'kept' ELSE 'updated' END AS merge_action "
    "FROM mb FULL OUTER JOIN mx ON bk = uk",
)
def x_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse MERGE INTO as a relational op
    (operators/joins.merge_upsert): one full-outer join on the key,
    per-column coalesce(update, base), and a merge_action audit
    column. The registered change-set re-prices every 7th order and
    inserts every 13th under a fresh key. One keyed shuffle; a
    bucketed base table would lose even that on its side."""
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    upd_reprice = o.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice").cast("decimal(18,2)") + 100)
        .cast("double")
        .alias("o_totalprice"),
    )
    upd_new = o.filter(F.col("o_orderkey") % 13 == 0).select(
        (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
        "o_custkey",
        F.lit("N").alias("o_orderstatus"),
        "o_totalprice",
    )
    return joins.merge_upsert(o, upd_reprice.unionByName(upd_new), "o_orderkey")


@register(
    "x_join_range",
    "WITH tiers(tier, lo, hi) AS (VALUES ('low', 1.0, 16.0), ('mid', 17.0, 33.0), ('high', 34.0, 50.0)) "
    "SELECT tier, count(*) AS n, "
    "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty "
    "FROM lineitem JOIN tiers ON l_quantity BETWEEN lo AND hi GROUP BY tier",
)
def x_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join against a broadcast interval dim: the fact table
    streams through a BroadcastNestedLoopJoin (|dim|=3), no shuffle
    until the 3-group aggregate."""
    tiers = spark.createDataFrame(
        [("low", 1.0, 16.0), ("mid", 17.0, 33.0), ("high", 34.0, 50.0)],
        "tier string, lo double, hi double",
    )
    li = _t(spark, sf_dir, "lineitem").select("l_quantity")
    return (
        joins.range_join(li, tiers, "l_quantity")
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
        )
    )


@register(
    "x_join_salted_skew",
    "SELECT s_name, count(*) AS n_items, "
    "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty "
    "FROM lineitem JOIN supplier ON l_suppkey = s_suppkey "
    "GROUP BY s_name",
)
def x_join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-managed fact-x-dim join via explicit salting
    (operators/joins.py salted_join): results are identical to the
    plain join — the oracle IS the plain join — but each join key's
    rows spread across 8 reducers, the manual recipe for hot keys when
    AQE's runtime splitting can't apply. The aggregate that follows
    re-shuffles on s_name, so the salted partitioning never leaks into
    results."""
    li = _t(spark, sf_dir, "lineitem").select("l_suppkey", "l_quantity")
    s = _t(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name"
    )
    joined = joins.salted_join(li, s, on="l_suppkey", salt=8)
    return joined.groupBy("s_name").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).cast("double").alias("sum_qty"),
    )


@register(
    "x_join_asof_forward",
    # DuckDB ASOF is backward-only; express forward as-of with arg_min
    # over the future-side pairs (exact at this pair scale)
    "WITH v AS (SELECT user_id, ts, max(event_id) AS view_event_id FROM events "
    " WHERE event_type = 'view' GROUP BY user_id, ts), "
    "p AS (SELECT user_id, ts, event_id FROM events WHERE event_type = 'purchase') "
    "SELECT p.user_id, p.ts, p.event_id, "
    "min(v.ts) AS asof_ts, "
    "arg_min(v.view_event_id, v.ts) AS asof_view_event_id "
    "FROM p LEFT JOIN v ON p.user_id = v.user_id AND v.ts >= p.ts "
    "GROUP BY p.user_id, p.ts, p.event_id",
)
def x_join_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join: each purchase matched to the user's NEXT
    view at-or-after it — post-hoc attribution / label lookahead. Same
    union + running-fill single-shuffle plan as the backward join, run
    over descending time (operators/joins.py); the oracle pays a
    pairwise join because ANSI ASOF is backward-only, the engine does
    not."""
    ev = _t(spark, sf_dir, "events")
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_event_id"))
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    return joins.asof_join(purchases, views, on="user_id",
                           right_cols=["view_event_id"], direction="forward")


@register(
    "x_join_interval_bucketed",
    "WITH s AS (SELECT DISTINCT user_id, ts AS period_start FROM events "
    " WHERE event_type = 'signup'), "
    "p AS (SELECT user_id, period_start, coalesce(lead(period_start) OVER "
    " (PARTITION BY user_id ORDER BY period_start), "
    " (SELECT max(ts) + INTERVAL 1 DAY FROM events)) "
    " AS period_end FROM s) "
    "SELECT e.event_id, e.user_id, p.period_start "
    "FROM events e JOIN p ON e.user_id = p.user_id "
    "AND e.ts >= p.period_start AND e.ts < p.period_end",
)
def x_join_interval_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big-to-big interval containment join WITHOUT a range join:
    assign each event to the signup period [signup_i, signup_i+1)
    containing it. The naive plan is a non-equi join (BNLJ — quadratic
    when both sides are large); joins.interval_containment_join turns
    it into a (user_id, day-bucket) hash join. The final period closes
    at a data-derived PER-KEY horizon (that user's max event ts +
    1 day) — same output as a global horizon, but a dormant user's
    final period never fans out across the whole dataset span. The
    oracle keeps the global-horizon formulation because period_end
    only ever bounds the same user's events."""
    ev = read_events(spark, sf_dir)
    signups = (
        ev.filter(F.col("event_type") == "signup")
        .select("user_id", F.col("ts").alias("period_start"))
    )
    return joins.interval_containment_join(ev, signups)


@register(
    "x_join_interval_overlap",
    "WITH iv AS (SELECT event_id, user_id, ts AS s, "
    " ts + ((event_id % 7 + 1) || ' hours')::INTERVAL AS e FROM events) "
    "SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id "
    "FROM iv a JOIN iv b ON a.user_id = b.user_id "
    "AND a.event_id < b.event_id AND a.s < b.e AND b.s < a.e",
)
def x_join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Big-to-big INTERVAL x INTERVAL overlap self-join per user — the
    concurrent-activity detector (each event opens a window of
    (event_id % 7 + 1) hours; pairs of the same user whose windows
    intersect emit once, a_id < b_id). The naive plan is a per-key
    non-equi theta join (quadratic BNLJ); joins.interval_overlap_join
    decomposes it into three (user_id, calendar-bucket) HASH joins
    with two-tier day/month bucketing so neither short nor long
    intervals explode, then applies the exact half-open overlap
    predicate. The oracle keeps the naive formulation."""
    ev = read_events(spark, sf_dir).select(
        "event_id",
        "user_id",
        F.col("ts").alias("s"),
        F.timestamp_add(
            "HOUR", (F.col("event_id") % 7 + 1).cast("int"), F.col("ts")
        ).alias("e"),
    )
    return joins.interval_overlap_join(
        ev.withColumnRenamed("event_id", "a_id"),
        ev.withColumnRenamed("event_id", "b_id"),
        key_col="user_id", start_col="s", end_col="e",
        left_id="a_id", right_id="b_id", anti_reflexive=True,
    )
