"""Relational plans (SURVEY.md section 2.6): joins, windows, set ops,
JSON, time buckets and sketches as plain DataFrame plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import benchqueries
from ..benchqueries import _DESCRIPTIONS, _t, register
from ..functions.layout import zorder_key_2d
from ..operators.dedup import edit_distance_pairs
from ..operators.timeseries import resample_interpolate
from ..streaming.events import sessionize_batch, sessionized_events


@register(
    "x_time_bucket_agg",
    "SELECT time_bucket(INTERVAL '5 minutes', ts) AS w_start, event_type, "
    "count(*) AS n_events, "
    "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value "
    "FROM events GROUP BY 1, 2",
)
def x_time_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the streaming tumbling-window aggregate
    (streaming/events.py runs the same plan incrementally)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("w_start"), "event_type", "n_events", "sum_value")
    )


@register(
    "x_listagg",
    "SELECT n_name, string_agg(s_name, '|' ORDER BY s_name) AS suppliers, "
    "count(*) AS n_suppliers "
    "FROM supplier JOIN nation ON s_nationkey = n_nationkey GROUP BY n_name",
)
def x_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered string aggregation (LISTAGG / string_agg): suppliers
    per nation as one sorted pipe-joined string. Spark has no ordered
    string_agg; array_sort(collect_list()) + array_join is the
    equivalent — the explicit sort is what makes the result
    deterministic (collect_list order is partition-dependent). Scale
    note: per-group state is the group's strings; for unbounded groups
    cap with slice() after the sort or switch to a top-k window first.
    The dimension side broadcasts."""
    sup = _t(spark, sf_dir, "supplier")
    nat = F.broadcast(_t(spark, sf_dir, "nation").select("n_nationkey", "n_name"))
    return (
        sup.join(nat, sup.s_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("s_name")), "|").alias(
                "suppliers"
            ),
            F.count(F.lit(1)).alias("n_suppliers"),
        )
    )


@register(
    "x_mode_per_group",
    "WITH c AS (SELECT user_id, event_type, count(*) AS n "
    " FROM events GROUP BY 1, 2), "
    "r AS (SELECT user_id, event_type, n, row_number() OVER "
    " (PARTITION BY user_id ORDER BY n DESC, event_type ASC) AS rn FROM c) "
    "SELECT user_id, event_type AS mode_type, n FROM r WHERE rn = 1",
)
def x_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group MODE (most frequent value, ties to the
    smallest value): each user's dominant event type via
    count-then-rank, never a per-group sort of raw rows. Spark 3.4+
    has mode() but its tie-break is partition-order-dependent; the
    explicit (count DESC, value ASC) rank is reproducible on any
    cluster. The window runs over the COUNTED table
    (|users x types| rows), not the fact table."""
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("user_id").orderBy(F.desc("n"), F.asc("event_type"))
    return (
        c.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("mode_type"), "n")
    )


@register(
    "x_markov_transitions",
    "WITH s AS (SELECT user_id, event_type, lead(event_type) OVER "
    " (PARTITION BY user_id ORDER BY ts, event_id) AS next_type FROM events), "
    "p AS (SELECT event_type, next_type, count(*) AS n FROM s "
    " WHERE next_type IS NOT NULL GROUP BY 1, 2) "
    "SELECT event_type, next_type, n, "
    "round(n * 1.0 / sum(n) OVER (PARTITION BY event_type), 6) AS prob FROM p",
)
def x_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: lead() pairs consecutive events (total order pinned by
    (ts, event_id) — event_id breaks timestamp ties), one groupBy
    counts transitions, and the row-normalized probability is a single
    IEEE division of two exact integers (bit-identical across
    engines). The normalizing window runs over the |types^2| counted
    table. This is the session-behavior model behind next-event
    prediction and funnel-leak analysis."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    ).filter(F.col("next_type").isNotNull())
    t = pairs.groupBy("event_type", "next_type").agg(F.count(F.lit(1)).alias("n"))
    wt = Window.partitionBy("event_type")
    return t.select(
        "event_type",
        "next_type",
        "n",
        F.round(F.col("n") * F.lit(1.0) / F.sum("n").over(wt), 6).alias("prob"),
    )


@register(
    "x_window_count_distinct",
    "WITH m AS (SELECT user_id, ts, event_id, CASE WHEN row_number() OVER "
    " (PARTITION BY user_id, event_type ORDER BY ts, event_id) = 1 "
    " THEN 1 ELSE 0 END AS first_seen FROM events) "
    "SELECT user_id, event_id, CAST(sum(first_seen) OVER "
    " (PARTITION BY user_id ORDER BY ts, event_id "
    "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) "
    " AS n_types_seen FROM m",
)
def x_window_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running COUNT(DISTINCT) per partition — the window aggregate
    SQL engines mostly refuse (Spark has no DISTINCT window
    aggregates): after each event, how many distinct event types has
    this user produced so far? Implemented as size(collect_set() OVER
    running-frame): one exchange, set state bounded by the per-key
    type cardinality. When that cardinality is unbounded, the
    two-phase form the oracle uses (mark first occurrences with a
    (key, value) rank, then a running sum over the key) trades the
    set state for a second exchange. Total order pinned by
    (ts, event_id)."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.size(F.collect_set("event_type").over(w)).cast("long").alias(
            "n_types_seen"
        ),
    )


@register(
    "x_resample_interpolate",
    "WITH rb AS (SELECT user_id, "
    "CAST(floor(epoch(ts)/21600) AS BIGINT)*21600 AS epoch_s, "
    "arg_min(value, event_id) AS v FROM events GROUP BY 1, 2), "
    "rspan AS (SELECT user_id, min(epoch_s) AS e0, max(epoch_s) AS e1 "
    "FROM rb GROUP BY 1), "
    "rgrid AS (SELECT user_id, unnest(range(e0, e1+1, 21600)) AS epoch_s "
    "FROM rspan), "
    "rj AS (SELECT g.user_id, g.epoch_s, rb.v FROM rgrid g "
    "LEFT JOIN rb USING (user_id, epoch_s)), "
    "rf AS (SELECT user_id, epoch_s, v, "
    "last_value(v IGNORE NULLS) OVER wb AS pv, "
    "last_value(CASE WHEN v IS NOT NULL THEN epoch_s END IGNORE NULLS) "
    "OVER wb AS pe, "
    "first_value(v IGNORE NULLS) OVER wf AS nv, "
    "first_value(CASE WHEN v IS NOT NULL THEN epoch_s END IGNORE NULLS) "
    "OVER wf AS ne FROM rj WINDOW "
    "wb AS (PARTITION BY user_id ORDER BY epoch_s "
    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), "
    "wf AS (PARTITION BY user_id ORDER BY epoch_s "
    "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)) "
    "SELECT user_id, epoch_s, "
    "round(CASE WHEN v IS NOT NULL THEN v "
    "WHEN pv IS NOT NULL AND nv IS NOT NULL "
    "THEN pv + (nv - pv) * ((epoch_s - pe) * 1.0 / (ne - pe)) "
    "ELSE coalesce(pv, nv) END, 6) AS value_interp, "
    "(v IS NOT NULL) AS is_observed FROM rf",
)
def x_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regular-grid resample + linear gap interpolation
    (operators/timeseries.resample_interpolate): each user's irregular
    event series lands on a 6-hour epoch grid, holes filled by linear
    interpolation between the nearest observed buckets. The four fill
    windows share ONE (user_id, epoch_s) exchange; grid size is
    bounded by wall-clock span, not event count."""
    return resample_interpolate(_t(spark, sf_dir, "events"))


def _q_frequent_items(spark, sf_dir: str):
    """Frequent-items sketch accuracy harness (Karp et al. single-pass
    heavy hitters, Spark's df.stat.freqItems): the 100 TB path for
    'which values dominate this column' without a full group-by when
    only the candidate SET is needed. The candidate list is
    order-unstable and may contain false positives, so what's
    hash-checked is the one-sided GUARANTEE: every value with true
    frequency > support * n MUST appear among the candidates
    (found_by_sketch is TRUE on every emitted row, same contract shape
    as the Bloom screen and the HLL rsd bound). The exact counts run
    beside the sketch here because this is the harness."""
    ev = _t(spark, sf_dir, "events")
    exact = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("true_count")
    )
    tot = exact.agg(F.sum("true_count").cast("long").alias("n"))
    cand = ev.stat.freqItems(["event_type"], support=0.1)
    return (
        exact.crossJoin(F.broadcast(tot))
        .filter(F.col("true_count") > 0.1 * F.col("n"))
        .crossJoin(F.broadcast(cand))
        .select(
            "event_type",
            "true_count",
            F.array_contains(
                F.col("event_type_freqItems"), F.col("event_type")
            ).alias("found_by_sketch"),
        )
    )


register(
    "x_frequent_items",
    "SELECT event_type, CAST(count(*) AS BIGINT) AS true_count, "
    "TRUE AS found_by_sketch FROM events GROUP BY event_type "
    "HAVING count(*) > 0.1 * (SELECT count(*) FROM events)",
    desc=(
        "Single-pass frequent-items sketch with a one-sided guarantee "
        "oracle: every value above the support threshold must be among "
        "the sketch's candidates — a miss hash-mismatches instead of "
        "hiding behind err:no_oracle."
    ),
)(_q_frequent_items)


@register(
    "x_join_star_broadcast",
    "SELECT r.r_name, count(*) AS cust_count "
    "FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey "
    "JOIN region r ON n.n_regionkey = r.r_regionkey GROUP BY r.r_name",
)
def x_join_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star join: dims broadcast (region=5, nation=25 rows) so the fact
    table never shuffles for the join — the only shuffle is the final
    5-group aggregate. This is the 100 TB-safe star-join shape."""
    c = _t(spark, sf_dir, "customer")
    n = F.broadcast(_t(spark, sf_dir, "nation"))
    r = F.broadcast(_t(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("cust_count"))
    )


@register(
    "x_join_semi",
    "SELECT o_orderkey, o_totalprice FROM orders o "
    "WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 49.5)",
)
def x_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49.5)
    return o.join(li, o.o_orderkey == li.l_orderkey, "left_semi").select(
        "o_orderkey", "o_totalprice"
    )


@register(
    "x_join_anti",
    "SELECT c_custkey FROM customer c "
    "WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)",
)
def x_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey")


@register(
    "x_window_topk_per_group",
    "SELECT * FROM (SELECT o_orderpriority, o_orderkey, o_totalprice, "
    "row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) AS rn "
    "FROM orders) WHERE rn <= 3",
)
def x_window_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        _t(spark, sf_dir, "orders")
        .select("o_orderpriority", "o_orderkey", "o_totalprice")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
    )


@register(
    "x_union_distinct",
    "SELECT r_name AS name FROM region UNION SELECT n_name FROM nation",
)
def x_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = _t(spark, sf_dir, "region").select(F.col("r_name").alias("name"))
    n = _t(spark, sf_dir, "nation").select(F.col("n_name").alias("name"))
    return r.unionByName(n).distinct()


@register(
    "x_distinct_pairs",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def x_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _t(spark, sf_dir, "lineitem").select("l_returnflag", "l_linestatus").distinct()


@register(
    "x_json_extract_agg",
    "SELECT event_type, count(*) AS n_events, "
    "CAST(SUM(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k "
    "FROM events GROUP BY event_type",
)
def x_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction (events.props is a JSON string column) —
    get_json_object runs JVM-side, no Python in the hot path."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("k").alias("sum_k"))
    )


@register(
    "x_sliding_window_agg",
    "SELECT w_start, event_type, count(*) AS n_events, "
    "CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value "
    "FROM (SELECT unnest([time_bucket(INTERVAL '5 minutes', ts), "
    "time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes']) AS w_start, "
    "event_type, value FROM events) GROUP BY 1, 2",
)
def x_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the streaming sliding-window aggregate
    (streaming/events.py sliding_window_aggregate): 10-minute windows
    hopping every 5, so each event lands in exactly 2 windows — the
    oracle unnests the two bucket starts explicitly."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("w_start"), "event_type", "n_events", "sum_value")
    )


@register(
    "x_intersect",
    "SELECT CAST(c_nationkey AS BIGINT) AS nationkey FROM customer "
    "INTERSECT SELECT CAST(s_nationkey AS BIGINT) FROM supplier",
)
def x_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").cast("long").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").cast("long").alias("nationkey"))
    return c.intersect(s)


@register(
    "x_except",
    "SELECT o_orderkey FROM orders EXCEPT SELECT l_orderkey FROM lineitem",
)
def x_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders with no lineitems: EXCEPT (distinct set semantics) —
    plans as a left-anti hash join on the key."""
    o = _t(spark, sf_dir, "orders").select(F.col("o_orderkey"))
    li = _t(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("o_orderkey"))
    return o.distinct().exceptAll(li.distinct())


@register(
    "x_rollup",
    "SELECT l_returnflag, l_linestatus, "
    "CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, "
    "COUNT(*) AS n FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)",
)
def x_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical totals, pre-aggregated: sum/count are decomposable,
    so aggregate at the FINEST grouping first (one plain shuffle, no
    row multiplication) and run ROLLUP over the |groups|-row result —
    the Expand that triples the input now triples ~6 rows instead of
    the fact table. Identical values (decimal sums re-sum exactly);
    measured 2x over expand-then-aggregate at sf0.1, and the gap grows
    with data size at 100 TB because the expensive exact-decimal
    aggregation touches each fact row exactly once."""
    inner = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("_s"),
            F.count(F.lit(1)).alias("_n"),
        )
    )
    return inner.rollup("l_returnflag", "l_linestatus").agg(
        F.sum("_s").cast("double").alias("sum_qty"),
        F.sum("_n").alias("n"),
    )


@register(
    "x_count_distinct",
    "SELECT c_mktsegment, COUNT(DISTINCT c_nationkey) AS n_nations FROM customer GROUP BY c_mktsegment",
)
def x_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "customer")
        .groupBy("c_mktsegment")
        .agg(F.countDistinct("c_nationkey").alias("n_nations"))
    )


@register(
    "x_approx_count_distinct",
    # bounds-style oracle (round-8): the HLL estimate itself has no
    # SQL equivalent, but its accuracy CONTRACT does — the query emits
    # the exact count plus a within-bound boolean, and the oracle
    # asserts the boolean is TRUE. A sketch drifting past 5x its rsd
    # now hash-MISMATCHES instead of hiding behind err:no_oracle.
    "SELECT o_orderpriority, CAST(count(DISTINCT o_custkey) AS BIGINT) AS exact_custs, "
    "TRUE AS within_rsd_bound FROM orders GROUP BY 1",
)
def x_approx_cd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-count accuracy harness: the 100 TB path
    when exactness isn't required — no per-key shuffle of distinct
    values, just mergeable sketches. The estimate is engine-specific,
    so what's hash-checked is the GUARANTEE: |approx - exact| <=
    5*rsd*exact per group (HLL++ at rsd=0.02 is deterministic, not a
    random draw; observed error at sf0.01 is well under 2 rsd — same
    headroom as the pytest gate). The exact twin runs beside the
    sketch in one aggregate here because this is the harness; a
    production scan keeps only the sketch column."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.approx_count_distinct("o_custkey", 0.02).alias("approx"),
            F.countDistinct("o_custkey").alias("exact_custs"),
        )
        .select(
            "o_orderpriority",
            "exact_custs",
            (
                F.abs(F.col("approx") - F.col("exact_custs"))
                <= F.col("exact_custs") * F.lit(0.1)
            ).alias("within_rsd_bound"),
        )
    )


@register(
    "x_window_lag_running",
    "SELECT o_custkey, o_orderkey, "
    "lag(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER "
    "(PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend "
    "FROM orders",
)
def x_window_lag_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic window pair: lag + running sum share one window sort,
    so Catalyst evaluates both in a single Window node (one shuffle on
    o_custkey)."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(frame)
        .cast("double")
        .alias("running_spend"),
    )


@register(
    "x_pivot",
    "SELECT l_returnflag, "
    "count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS f_count, "
    "count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS o_count "
    "FROM lineitem GROUP BY l_returnflag",
)
def x_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with explicit value list: fixed output schema, plans as
    one conditional aggregate (no second pass to discover values —
    required at scale)."""
    out = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(F.count(F.lit(1)))
    )
    return out.select(
        "l_returnflag",
        F.coalesce(F.col("F"), F.lit(0)).alias("f_count"),
        F.coalesce(F.col("O"), F.lit(0)).alias("o_count"),
    )


@register(
    "x_sessionize_batch",
    "WITH o AS (SELECT user_id, event_id, ts, lag(epoch(ts)) OVER "
    " (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events), "
    "f AS (SELECT user_id, event_id, ts, CASE WHEN prev_ts IS NULL "
    " OR epoch(ts) - prev_ts > 1800 THEN 1 ELSE 0 END AS brk FROM o), "
    "s AS (SELECT user_id, ts, CAST(sum(brk) OVER (PARTITION BY user_id "
    " ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM f) "
    "SELECT user_id, session_id, count(*) AS n_events, "
    " min(ts) AS session_start, max(ts) AS session_end "
    "FROM s GROUP BY user_id, session_id",
)
def x_sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offline sessionization (lag -> cumsum), the exact-oracle batch
    twin of the streaming session_window aggregate."""
    return sessionize_batch(_t(spark, sf_dir, "events"), gap_seconds=1800)


@register(
    "x_events_funnel_e2e",
    "WITH o AS (SELECT user_id, event_id, ts, event_type, value, "
    " lag(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts "
    " FROM events), "
    "f AS (SELECT user_id, event_id, ts, event_type, value, "
    " CASE WHEN prev_ts IS NULL OR epoch(ts) - prev_ts > 1800 THEN 1 ELSE 0 END AS brk "
    " FROM o), "
    "s AS (SELECT user_id, event_type, value, CAST(sum(brk) OVER "
    " (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) "
    " AS session_id FROM f), "
    "sess AS (SELECT user_id, session_id, count(*) AS n_events, "
    " max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_purchase, "
    " SUM(CAST(value AS DECIMAL(18,2))) AS v FROM s GROUP BY 1, 2), "
    "u AS (SELECT user_id, count(*) AS n_sessions, max(has_purchase) AS converted, "
    " SUM(v) AS uv FROM sess GROUP BY 1) "
    "SELECT user_id % 10 AS cohort, count(*) AS n_users, "
    "CAST(sum(n_sessions) AS BIGINT) AS n_sessions, "
    "CAST(sum(converted) AS BIGINT) AS converted_users, "
    "round(sum(converted) * 1.0 / count(*), 6) AS conversion_rate, "
    "round(sum(n_sessions) * 1.0 / count(*), 6) AS sessions_per_user, "
    "CAST(SUM(uv) AS DOUBLE) AS total_value "
    "FROM u GROUP BY user_id % 10",
)
def x_events_funnel_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END product-analytics build in one declarative plan — the
    events-family twin of ns_corpus_build_e2e: sessionize (lag ->
    cumsum, one exchange+sort) -> per-session rollup (events, purchase
    flag, decimal-exact value) -> per-user rollup (session count,
    conversion) -> per-cohort report (conversion rate, sessions/user,
    total value). Value stays DECIMAL through all three aggregate
    levels and converts to double only in the report, so the sums are
    partition-order-independent; every stage keys on user_id or its
    cohort, so the whole pipeline is one window pass plus three
    aggregates."""
    se = sessionized_events(_t(spark, sf_dir, "events"), gap_seconds=1800)
    sess = se.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias("has_purchase"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("v"),
    )
    u = sess.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.max("has_purchase").alias("converted"),
        F.sum("v").alias("uv"),
    )
    return u.groupBy((F.col("user_id") % 10).alias("cohort")).agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("n_sessions").cast("long").alias("n_sessions"),
        F.sum("converted").cast("long").alias("converted_users"),
        F.round(F.sum("converted") * 1.0 / F.count(F.lit(1)), 6).alias(
            "conversion_rate"
        ),
        F.round(F.sum("n_sessions") * 1.0 / F.count(F.lit(1)), 6).alias(
            "sessions_per_user"
        ),
        F.sum("uv").cast("double").alias("total_value"),
    )


@register(
    "x_spec_join_window",
    "SELECT c_mktsegment, o_orderkey, o_totalprice, rn FROM ("
    " SELECT c_mktsegment, o_orderkey, o_totalprice, row_number() OVER "
    "  (PARTITION BY c_mktsegment ORDER BY o_totalprice DESC, o_orderkey) AS rn "
    " FROM orders JOIN customer ON o_custkey = c_custkey) WHERE rn <= 3",
)
def x_spec_join_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join + window driven entirely by the transform-spec IR — the
    same declarative path NL descriptions compile through, proving the
    reserved join/window vocabulary executes end-to-end (broadcast
    hint included)."""
    spec = {
        "ops": [
            {"op": "rename", "renames": {"o_custkey": "c_custkey"}},
            {"op": "join", "right": "customer", "on": ["c_custkey"], "broadcast": True},
            {
                "op": "window",
                "partition_by": ["c_mktsegment"],
                "order_by": [
                    {"col": "o_totalprice", "asc": False},
                    {"col": "o_orderkey", "asc": True},
                ],
                "exprs": [{"fn": "row_number", "alias": "rn"}],
            },
            {"op": "filter", "expr": {"le": ["rn", 3]}},
            {"op": "select", "cols": ["c_mktsegment", "o_orderkey", "o_totalprice", "rn"]},
        ]
    }
    return benchqueries.compile_spec(
        _t(spark, sf_dir, "orders"),
        spec,
        tables={"customer": _t(spark, sf_dir, "customer")},
    )


@register(
    "x_regex_extract",
    "SELECT regexp_extract(p_name, '^([a-z]+)', 1) AS first_word, "
    "count(*) AS n_parts FROM part GROUP BY regexp_extract(p_name, '^([a-z]+)', 1)",
)
def x_regex_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex capture-group extraction, JVM-side, then aggregate."""
    first = F.regexp_extract("p_name", r"^([a-z]+)", 1)
    return (
        _t(spark, sf_dir, "part")
        .groupBy(first.alias("first_word"))
        .agg(F.count(F.lit(1)).alias("n_parts"))
    )


@register(
    "x_percentiles",
    "SELECT o_orderpriority, "
    "round(quantile_cont(o_totalprice, 0.5), 4) AS p50, "
    "round(quantile_cont(o_totalprice, 0.9), 4) AS p90 "
    "FROM orders GROUP BY o_orderpriority",
)
def x_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (sort-based). The
    approximate sibling for 100 TB is percentile_approx (mergeable
    KLL-style sketch, no per-group sort) — x_approx_count_distinct
    shows the sketch pattern; this one is the exact oracle-checkable
    form."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(o_totalprice, 0.9)"), 4).alias("p90"),
        )
    )


@register(
    "x_skew_salted_agg",
    "SELECT l_returnflag, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty, "
    "COUNT(*) AS n FROM lineitem GROUP BY l_returnflag",
)
def x_skew_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage salted aggregation for skewed keys: stage 1 groups by
    (key, salt) so one hot key spreads over 16 reducers; stage 2 merges
    the partials. Same result as the direct group-by (the oracle IS the
    direct form) — this registers the skew-safe plan shape. l_returnflag
    has 3 values over 600k rows: exactly the shape that melts a single
    reducer without salting when partial aggregation is defeated
    (e.g. count-distinct-heavy aggs)."""
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "_salt", F.pmod(F.col("l_orderkey"), F.lit(16))
    )
    partial = li.groupBy("l_returnflag", "_salt").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("_sq"),
        F.count(F.lit(1)).alias("_n"),
    )
    return partial.groupBy("l_returnflag").agg(
        F.sum("_sq").cast("double").alias("sum_qty"),
        F.sum("_n").alias("n"),
    )


@register(
    "x_time_spine_fill",
    "WITH b AS (SELECT time_bucket(INTERVAL '5 minutes', ts) AS wb, event_type, "
    " count(*) AS n FROM events GROUP BY 1, 2), "
    "bounds AS (SELECT min(wb) AS lo, max(wb) AS hi FROM b), "
    "types AS (SELECT DISTINCT event_type FROM events), "
    "spine AS (SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 5 minute)) AS wb "
    " FROM bounds, types) "
    "SELECT s.event_type, s.wb AS w_start, CAST(coalesce(n, 0) AS BIGINT) AS n_events "
    "FROM spine s LEFT JOIN b ON s.wb = b.wb AND s.event_type = b.event_type",
)
def x_time_spine_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled resampling (hypertable-style): generate the dense
    5-minute spine per event_type and left-join the bucket aggregate,
    zero-filling empty buckets. The spine is sequence()+explode from
    the aggregated bounds — O(buckets x types) rows built without
    touching the fact table again; the only big-data pass is the
    bucket aggregate itself."""
    ev = _t(spark, sf_dir, "events")
    b = (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("wb"), "event_type", "n")
    )
    bounds = b.agg(F.min("wb").alias("lo"), F.max("wb").alias("hi"))
    types = ev.select("event_type").distinct()
    spine = (
        types.crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 5 MINUTES"))).alias("wb"),
        )
    )
    return (
        spine.join(b, ["wb", "event_type"], "left")
        .select(
            "event_type",
            F.col("wb").alias("w_start"),
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n_events"),
        )
    )


@register(
    "x_cube",
    "SELECT l_returnflag, l_linestatus, COUNT(*) AS n "
    "FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)",
)
def x_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All 2^k grouping combinations — pre-aggregated like x_rollup:
    count at the finest grouping first, then CUBE re-sums the
    |groups|-row result, so the 2^k Expand multiplies ~6 rows, not
    the fact table."""
    inner = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return inner.cube("l_returnflag", "l_linestatus").agg(
        F.sum("_n").alias("n")
    )


@register(
    "x_grouping_sets",
    "SELECT l_returnflag, l_linestatus, COUNT(*) AS n FROM lineitem "
    "GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))",
)
def x_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS through the SQL surface (the engine's
    third API besides DataFrame and spec IR): per-flag and per-status
    totals in one expand+aggregate pass."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        "SELECT l_returnflag, l_linestatus, COUNT(*) AS n FROM lineitem_gs "
        "GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))"
    )


@register(
    "x_join_full_outer",
    "WITH c AS (SELECT c_nationkey AS nationkey, count(*) AS n_cust "
    "FROM customer GROUP BY 1), "
    "s AS (SELECT s_nationkey AS nationkey, count(*) AS n_supp "
    "FROM supplier WHERE s_acctbal > 5000 GROUP BY 1) "
    "SELECT CAST(coalesce(c.nationkey, s.nationkey) AS INTEGER) AS nationkey, "
    "coalesce(n_cust, 0) AS n_cust, coalesce(n_supp, 0) AS n_supp "
    "FROM c FULL OUTER JOIN s ON c.nationkey = s.nationkey",
)
def x_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join of two pre-aggregated sides (nations missing
    from either side survive with a zero count). Aggregating BEFORE
    joining keeps the outer join to dim-cardinality rows — at 100 TB
    the facts reduce map-side first and only tiny aggregates meet."""
    c = (
        _t(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        _t(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 5000)
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return (
        c.join(s, "nationkey", "full_outer")
        .select(
            F.col("nationkey").cast("int").alias("nationkey"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
        )
    )


@register(
    "x_window_range_frame",
    "SELECT o_custkey, o_orderkey, "
    "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER "
    "(PARTITION BY o_custkey ORDER BY CAST(epoch(o_orderdate) AS BIGINT) "
    "RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS DOUBLE) AS spend_30d "
    "FROM orders",
)
def x_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window: per customer, rolling 30-day spend ordered
    by order time (value-based frame, not row-based — two orders the
    same second share a frame). One shuffle on the partition key; the
    decimal cast keeps the windowed sum exact across engines."""
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(F.unix_timestamp("o_orderdate"))
        .rangeBetween(-30 * 86400, 0)
    )
    return _t(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .over(w)
        .cast("double")
        .alias("spend_30d"),
    )


@register(
    "x_stream_join_attribution",
    "SELECT p.event_id AS purchase_id, c.event_id AS click_id, "
    "p.user_id, p.ts AS purchase_ts, c.ts AS click_ts, p.value "
    "FROM (SELECT * FROM events WHERE event_type = 'purchase') p "
    "JOIN (SELECT * FROM events WHERE event_type = 'click') c "
    "ON p.user_id = c.user_id "
    "AND c.ts >= p.ts - INTERVAL '10 minutes' AND c.ts <= p.ts",
)
def x_stream_join_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the stream-stream purchase-click attribution join
    (streaming/events.py stream_stream_purchase_attribution): per-user
    equi-join with an event-time band. The user_id equi-key makes this
    a hash join with a post-filter band — never a cross product; the
    streaming form bounds its state with the same band."""
    ev = _t(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("purchase_ts"),
        "value",
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    return (
        p.join(
            c,
            (F.col("user_id") == F.col("c_user"))
            & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("interval 10 minutes"))
            & (F.col("click_ts") <= F.col("purchase_ts")),
        )
        .select("purchase_id", "click_id", "user_id", "purchase_ts", "click_ts", "value")
    )


@register(
    "x_retention_cohorts",
    "WITH f AS (SELECT user_id, date_trunc('day', min(ts)) AS cohort_day "
    "FROM events GROUP BY 1) "
    "SELECT f.cohort_day, "
    "date_diff('day', f.cohort_day, date_trunc('day', e.ts)) AS day_offset, "
    "count(DISTINCT e.user_id) AS n_users "
    "FROM events e JOIN f USING (user_id) GROUP BY 1, 2",
)
def x_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users grouped by first-seen day, counted on
    each later activity day as an offset from their cohort. The classic
    product-analytics triangle. Scale shape: the first-seen pass is one
    map-side-combined min per user; the fact join shares the user_id
    partitioning (AQE broadcasts the cohort side when it is small),
    and only the (cohort, offset) aggregate — thousands of cells, not
    events — shuffles for the distinct count."""
    ev = _t(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).alias("cohort_day")
    )
    return (
        ev.join(first, "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.date_trunc("day", F.col("ts")), F.col("cohort_day")).alias("day_offset"),
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


@register(
    "x_event_rate_anomaly",
    "WITH b AS (SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS n "
    "FROM events GROUP BY 1, 2), "
    "w AS (SELECT h, event_type, n, count(n) OVER fr AS c, sum(n) OVER fr AS s, "
    "sum(n*n) OVER fr AS ss FROM b "
    "WINDOW fr AS (PARTITION BY event_type ORDER BY h "
    "ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING)) "
    "SELECT h, event_type, n, "
    "round((n - s / c) / sqrt((ss - s * s / c) / (c - 1)), 6) AS z "
    "FROM w WHERE c >= 12 AND (ss - s * s / c) / (c - 1) > 0 "
    "AND abs(round((n - s / c) / sqrt((ss - s * s / c) / (c - 1)), 6)) >= 2.0",
)
def x_event_rate_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-rate anomaly detection: hourly counts per event type,
    z-scored against the trailing 24 observed hours (current hour
    excluded), emitting |z| >= 2 buckets. The mean and variance come
    from exact integer window sums (sum, sum-of-squares, count), so
    the floating-point z is the same IEEE expression in every engine —
    deterministic enough for a hash-matched oracle, unlike stddev()
    whose summation order is engine-private. One aggregate + one
    window sort per event_type; at scale, join a time spine first
    (x_time_spine_fill) so silent-gap hours count as zeros instead of
    vanishing from the trailing frame."""
    ev = _t(spark, sf_dir, "events")
    b = ev.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    fr = Window.partitionBy("event_type").orderBy("h").rowsBetween(-24, -1)
    c = F.count("n").over(fr)
    s = F.sum("n").over(fr)
    ss = F.sum(F.col("n") * F.col("n")).over(fr)
    var = (ss - s * s / c) / (c - 1)
    z = F.round((F.col("n") - s / c) / F.sqrt(var), 6)
    return (
        b.select("h", "event_type", "n", c.alias("c"), var.alias("var"), z.alias("z"))
        .filter((F.col("c") >= 12) & (F.col("var") > 0) & (F.abs("z") >= 2.0))
        .select("h", "event_type", "n", "z")
    )


@register(
    "x_upsert_latest",
    "SELECT user_id, event_type, value AS last_value, ts AS last_ts FROM ("
    "SELECT user_id, event_type, value, ts, row_number() OVER ("
    "PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn "
    "FROM events) WHERE rn = 1",
)
def x_upsert_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC compaction / SCD-1 upsert: collapse an append-only change
    stream to the latest row per key (here (user_id, event_type), with
    (ts, event_id) as the total version order — event_id breaks ts
    ties deterministically). One shuffle on the key and a per-key sort;
    at 100 TB this is the nightly compaction of a CDC-ingested table,
    and the same plan runs incrementally under Structured Streaming
    with dropDuplicatesWithinWatermark for the bounded-state variant."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.select("user_id", "event_type", "value", "ts",
                  F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .select(
            "user_id", "event_type",
            F.col("value").alias("last_value"), F.col("ts").alias("last_ts"),
        )
    )


@register(
    "x_funnel_ordered",
    "WITH f AS (SELECT user_id, "
    "min(CASE WHEN event_type = 'view' THEN ts END) AS t_view, "
    "min(CASE WHEN event_type = 'click' THEN ts END) AS t_click, "
    "min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase "
    "FROM events GROUP BY 1) "
    "SELECT count(*) AS n_users, "
    "CAST(sum(CASE WHEN t_view < t_click THEN 1 ELSE 0 END) AS BIGINT) AS n_view_click, "
    "CAST(sum(CASE WHEN t_view < t_click AND t_click < t_purchase THEN 1 ELSE 0 END) "
    "AS BIGINT) AS n_full_funnel FROM f",
)
def x_funnel_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel: users whose FIRST view precedes their
    first click precedes their first purchase. The classic funnel as
    two aggregates: a conditional-min per user (map-side combined, one
    shuffle), then a global roll-up of three counters — no joins, no
    per-step subqueries, NULL comparisons drop non-completers in both
    engines identically."""
    ev = _t(spark, sf_dir, "events")
    first = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias("t_purchase"),
    )
    return first.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(
            F.when(F.col("t_view") < F.col("t_click"), 1).otherwise(0)
        ).alias("n_view_click"),
        F.sum(
            F.when(
                (F.col("t_view") < F.col("t_click"))
                & (F.col("t_click") < F.col("t_purchase")), 1
            ).otherwise(0)
        ).alias("n_full_funnel"),
    )


@register(
    "x_ntile_deciles",
    "SELECT c_nationkey, decile, count(*) AS n, "
    "min(c_acctbal) AS lo, max(c_acctbal) AS hi FROM ("
    "SELECT c_nationkey, c_acctbal, ntile(10) OVER ("
    "PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey) AS decile "
    "FROM customer) GROUP BY 1, 2",
)
def x_ntile_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group decile bucketing (feature engineering's quantile
    binning): ntile(10) within each nation, made deterministic by the
    (acctbal, custkey) total order. Partitioned windows keep the sort
    distributed — an UNpartitioned ntile would serialize the table
    through one task, the anti-pattern this query exists to contrast."""
    w = Window.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return (
        _t(spark, sf_dir, "customer")
        .select("c_nationkey", "c_acctbal", F.ntile(10).over(w).alias("decile"))
        .groupBy("c_nationkey", "decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("c_acctbal").alias("lo"),
            F.max("c_acctbal").alias("hi"),
        )
    )


@register(
    "x_approx_percentiles",
    # bounds-style oracle (round-8): the KLL-style sketch's rank-error
    # contract IS SQL-expressible — each approx percentile must land
    # between the exact percentiles two quantile points either side
    # (rank error at accuracy=10k is ~n/10k rows; the +-0.02 window is
    # hundreds of ranks at these group sizes). The oracle asserts the
    # booleans; a sketch past its bound hash-mismatches.
    "SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders, "
    "TRUE AS p50_in_bound, TRUE AS p90_in_bound FROM orders GROUP BY 1",
)
def x_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch percentile accuracy harness (approx_percentile,
    accuracy 10k): the 100 TB path when per-group sorts are too
    expensive — partial sketches merge associatively, so the shuffle
    carries fixed-size summaries, not rows. The sketch values are
    engine-specific; what's hash-checked is the rank-error GUARANTEE:
    p50 within [exact p48, exact p52], p90 within [exact p88, exact
    p92] (the sketch is deterministic given its input, so the check
    is stable). The exact twin x_percentiles carries the values."""
    agg = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.expr(
                "approx_percentile(o_totalprice, array(0.5, 0.9), 10000)"
            ).alias("pcts"),
            F.expr(
                "percentile(o_totalprice, array(0.48, 0.52, 0.88, 0.92))"
            ).alias("ex"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    return agg.select(
        "o_orderpriority",
        "n_orders",
        (
            (F.col("pcts")[0] >= F.col("ex")[0])
            & (F.col("pcts")[0] <= F.col("ex")[1])
        ).alias("p50_in_bound"),
        (
            (F.col("pcts")[1] >= F.col("ex")[2])
            & (F.col("pcts")[1] <= F.col("ex")[3])
        ).alias("p90_in_bound"),
    )


@register(
    "x_window_rank_family",
    "SELECT n_nationkey AS nation, c_custkey, "
    "rank() OVER w AS rnk, dense_rank() OVER w AS drnk, "
    "round(percent_rank() OVER w, 6) AS prnk, "
    "round(cume_dist() OVER w, 6) AS cdist "
    "FROM customer JOIN nation ON c_nationkey = n_nationkey "
    "WHERE c_acctbal > 9000 "
    "WINDOW w AS (PARTITION BY n_nationkey ORDER BY c_acctbal DESC, c_custkey)",
)
def x_window_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The four ranking functions sharing ONE window sort: Catalyst
    folds rank/dense_rank/percent_rank/cume_dist over the same
    (partition, order) into a single Window node — one shuffle + one
    sort however many ranking outputs ride along."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_acctbal") > 9000)
    n = _t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_nationkey").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return (
        c.join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_nationkey").alias("nation"),
            "c_custkey",
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
            F.round(F.percent_rank().over(w), 6).alias("prnk"),
            F.round(F.cume_dist().over(w), 6).alias("cdist"),
        )
    )


@register(
    "x_entity_editdist_pairs",
    "SELECT a.s_suppkey AS id_a, b.s_suppkey AS id_b, "
    "levenshtein(a.s_name, b.s_name) AS dist "
    "FROM supplier a JOIN supplier b "
    "ON a.s_nationkey = b.s_nationkey AND a.s_suppkey < b.s_suppkey "
    "WHERE levenshtein(a.s_name, b.s_name) <= 2",
)
def x_entity_editdist_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked Levenshtein entity matching (operators/dedup.py
    edit_distance_pairs): near-identical supplier names within the
    same nation block. Blocking keeps the pair space to sum(block^2)
    — the standard entity-resolution shape; swap the block key for
    phonetic codes or name prefixes in real data."""
    s = _t(spark, sf_dir, "supplier")
    return edit_distance_pairs(
        s, id_col="s_suppkey", text_col="s_name",
        block_col="s_nationkey", max_dist=2,
    )


@register(
    "x_zorder_key",
    "SELECT l_orderkey, l_partkey, "
    + __import__(
        "agentic_workflow_for_data_transformation_spark.functions.layout",
        fromlist=["zorder_sql_2d"],
    ).zorder_sql_2d("(l_orderkey % 256)", "(l_partkey % 256)", bits=8)
    + " AS zkey FROM lineitem ORDER BY zkey, l_orderkey, l_partkey LIMIT 100",
)
def x_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout key over two join/filter dimensions:
    the ORDER BY a writer uses so parquet row-group min/max stats form
    tight 2D bounding boxes and range predicates on EITHER dimension
    prune at the file level (functions/layout.py; the pruning win is
    measured in tests/test_layout.py against real row-group stats).
    The key arithmetic is plain shifts/ors, bit-identical in any
    engine."""
    li = _t(spark, sf_dir, "lineitem")
    zkey = zorder_key_2d(
        F.col("l_orderkey") % 256, F.col("l_partkey") % 256, bits=8
    )
    return (
        li.select("l_orderkey", "l_partkey", zkey.alias("zkey"))
        .orderBy("zkey", "l_orderkey", "l_partkey")
        .limit(100)
    )


@register(
    "x_scd2_intervals",
    "SELECT user_id, event_type, value, ts AS valid_from, "
    "lead(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) "
    "AS valid_to FROM events",
)
def x_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 history from a change stream:
    each change row becomes a validity interval [valid_from, valid_to)
    with the open (current) version carrying NULL valid_to — one
    lead() over the same (key, version-order) sort the CDC compaction
    uses, so building full history costs exactly what keeping only the
    latest costs: one shuffle, one per-key sort. Point-in-time lookups
    then join on valid_from <= t < coalesce(valid_to, 'infinity')."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_type",
        "value",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )


@register(
    "x_scd2_point_in_time",
    "WITH h AS (SELECT user_id, event_type, value, ts AS valid_from, "
    "lead(ts) OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS valid_to "
    "FROM events) "
    "SELECT user_id, event_type, value, valid_from FROM h "
    "WHERE valid_from <= TIMESTAMP '2024-01-15 00:00:00' "
    "AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15 00:00:00')",
)
def x_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time lookup over the SCD2 history: every key's state as
    of a fixed timestamp — the query a training-data pipeline runs to
    reconstruct features 'as they were' at label time (no leakage from
    the future). A pure filter over the interval table; when the
    history is stored partitioned by month of valid_from, the time
    predicate prunes partitions before the scan."""
    t = F.lit("2024-01-15 00:00:00").cast("timestamp")
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    h = ev.select(
        "user_id", "event_type", "value",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
    )
    return h.filter(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    ).select("user_id", "event_type", "value", "valid_from")


@register(
    "x_pivot_status_by_priority",
    "SELECT o_orderpriority, "
    "count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f, "
    "count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o, "
    "count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p "
    "FROM orders GROUP BY o_orderpriority",
)
def x_pivot_status_by_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts per priority spread across status columns.
    The pivot values are DECLARED ('F','O','P'), which is the 100 TB
    discipline — without them Spark first runs a distinct scan to
    discover values, an extra pass over the fact table. With declared
    values it is one hash-aggregate, same cost as a plain group-by."""
    o = _t(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return p.select(
        "o_orderpriority",
        F.coalesce("F", F.lit(0)).alias("n_f"),
        F.coalesce("O", F.lit(0)).alias("n_o"),
        F.coalesce("P", F.lit(0)).alias("n_p"),
    )


@register(
    "x_rollup_priority_status",
    "SELECT o_orderpriority, o_orderstatus, count(*) AS n_orders, "
    "CAST(GROUPING(o_orderpriority, o_orderstatus) AS INTEGER) AS gid "
    "FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)",
)
def x_rollup_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (priority, priority+status, grand
    total) in ONE aggregation pass — Catalyst expands the grouping
    sets map-side, so the fact table is scanned once, not once per
    level. grouping_id disambiguates real NULL keys from subtotal
    rows, which is what makes the result joinable downstream."""
    o = _t(spark, sf_dir, "orders")
    inner = o.groupBy("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("_n")
    )
    # pre-aggregate as in x_rollup: the Expand multiplies the ~15-row
    # finest-level aggregate, not the orders table; grouping_id is
    # computed by the OUTER rollup, so subtotal disambiguation is
    # unchanged
    return inner.rollup("o_orderpriority", "o_orderstatus").agg(
        F.sum("_n").alias("n_orders"),
        F.grouping_id().cast("int").alias("gid"),
    )


_DESCRIPTIONS.update({
    "x_join_semi": "Left-semi join orders -> high-quantity lineitem (EXISTS shape): the right side's payload columns never leave its scan.",
    "x_join_anti": "Left-anti join customer -> orders (NOT EXISTS shape): customers with no orders, right side reduced to its join key.",
    "x_window_topk_per_group": "Top-3 orders by price per priority via one row_number window — a single sort within each partition, id tie-break.",
    "x_union_distinct": "UNION (distinct) of region and nation names: union-all then a hash dedup on the single output column.",
    "x_distinct_pairs": "DISTINCT over the (l_returnflag, l_linestatus) pair: map-side partial dedup collapses 600k rows to 6 before the exchange.",
    "x_intersect": "INTERSECT of customer and supplier nation keys — planned as a left-semi join over distinct keys.",
    "x_count_distinct": "Per-segment exact COUNT(DISTINCT c_nationkey): two-phase expand + count Catalyst plan.",
})
