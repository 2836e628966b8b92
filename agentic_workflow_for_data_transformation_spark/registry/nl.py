"""NL surface: each description runs through the parser and the spec
compiler, the path a user's description takes.

With no hand-written oracle, ``_register_nl`` renders the oracle from
the parsed spec through sqlgen, so the parser, the compiler and the
SQL generator answer for one spec.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import benchqueries
from ..benchqueries import _TABLE_COLUMNS, _register_nl, _t, register
from ..plans.sqlgen import spec_to_sql


# Widened-grammar parity queries: multi-key sort, global aggregates,
# count-distinct, NL joins — all through the deterministic NL pipeline
# (tests/test_eval20.py holds their goldens).
_register_nl(
    "p23_nl_sort_multikey", "lineitem",
    "Select l_orderkey, l_linenumber, l_quantity and "
    "sort by l_quantity desc, l_orderkey, l_linenumber and keep top 8 rows.",
    """Multi-key sort from NL: 'sort by X desc, Y, Z' (the trailing keys
    make the top-k boundary deterministic).""",
    oracle="SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem "
           "ORDER BY l_quantity DESC NULLS LAST, l_orderkey ASC NULLS FIRST, "
           "l_linenumber ASC NULLS FIRST LIMIT 8",
)


_register_nl(
    "p24_nl_global_avg", "part",
    "Show average p_size.",
    """Global aggregate with no group-by ('show average age' shape from
    the reference corpus, :360): one-row result, no shuffle keys —
    partial aggregation reduces every partition to one value.""",
    oracle="SELECT avg(p_size) AS average_p_size FROM part",
)


_register_nl(
    "p25_nl_count_distinct", "orders",
    "Count distinct o_orderpriority.",
    "NL pipeline on orders: global 'count distinct o_orderpriority' — "
    "a zero-key exact distinct aggregate.",
    oracle="SELECT count(DISTINCT o_orderpriority) AS o_orderpriority_distinct_count "
           "FROM orders",
)


_register_nl(
    "p26_nl_join_group", "customer",
    "Rename c_nationkey to n_nationkey and "
    "broadcast join with nation on n_nationkey and "
    "group by n_name and count c_custkey.",
    """NL join: rename aligns the key, broadcast hint keeps the 25-row
    nation dim from shuffling the customer side.""",
    oracle="SELECT n_name, count(c_custkey) AS c_custkey_count "
           "FROM customer JOIN nation ON c_nationkey = n_nationkey "
           "GROUP BY n_name",
    extra_tables=("nation",),
)


_register_nl(
    "p27_nl_date_filter", "events",
    "Filter rows where ts on or after 2024-01-15 and ts before "
    "2024-01-16 and event_type == 'click' and select event_id and ts.",
    """NL temporal comparison: ISO date literals tokenize whole and
    'on or after' / 'before' map to inclusive/strict bounds — the
    grammar surface every real log-table description needs. Spark's
    analyzer casts the string literal to timestamp against the ts
    column, same as the oracle's TIMESTAMP literal.""",
    oracle="SELECT event_id, ts FROM events "
           "WHERE ts >= TIMESTAMP '2024-01-15 00:00:00' "
           "AND ts < TIMESTAMP '2024-01-16 00:00:00' AND event_type = 'click'",
)


_register_nl(
    "p28_nl_count_per_day", "events",
    "Group by day of ts and count event_id.",
    """NL time-bucketed aggregation: 'group by day of ts' compiles to a
    date_trunc key via the spec's trunc expression — the everyday
    events-per-day rollup reached from plain English, one map-side-
    combined aggregate.""",
    oracle="SELECT date_trunc('day', ts) AS ts_day, count(event_id) AS event_id_count "
           "FROM events GROUP BY 1",
)


_register_nl(
    "p29_nl_top_per_group", "orders",
    "Select o_orderkey, o_orderpriority and o_totalprice and "
    "for each o_orderpriority show top 2 by o_totalprice.",
    """NL grouped top-k: 'for each X show top N by Y' compiles to a
    partitioned row_number window + rank filter — distributed per-group
    sort, never a global one. The grammar appends the table's first
    column (primary key) as a tie-break, so the rank order is total
    regardless of value ties; the oracle mirrors it.""",
    oracle="SELECT o_orderkey, o_orderpriority, o_totalprice FROM ("
           "SELECT o_orderkey, o_orderpriority, o_totalprice, "
           "row_number() OVER (PARTITION BY o_orderpriority "
           "ORDER BY o_totalprice DESC, o_orderkey) AS rn "
           "FROM orders) WHERE rn <= 2",
)


_register_nl(
    "p30_nl_sessionize", "events",
    "Sessionize by user_id with 30 minute gap.",
    """NL sessionization: 'sessionize by user_id with 30 minute gap'
    compiles straight to the lag->cumsum sessionizer — a genuinely
    multi-stage operator (two windows + aggregate) reachable from one
    plain-English clause.""",
    oracle="WITH o AS (SELECT user_id, event_id, ts, lag(epoch(ts)) OVER "
           " (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events), "
           "f AS (SELECT user_id, event_id, ts, CASE WHEN prev_ts IS NULL "
           " OR epoch(ts) - prev_ts > 1800 THEN 1 ELSE 0 END AS brk FROM o), "
           "s AS (SELECT user_id, ts, CAST(sum(brk) OVER (PARTITION BY user_id "
           " ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM f) "
           "SELECT user_id, session_id, count(*) AS n_events, "
           " min(ts) AS session_start, max(ts) AS session_end "
           "FROM s GROUP BY user_id, session_id",
)


_register_nl(
    "p31_nl_group_two_keys", "documents",
    "Group by lang and source and count doc_id.",
    """NL composite-key aggregation: 'group by lang and source' — the
    two-dimensional rollup phrasing, one map-side-combined aggregate
    on the pair key.""",
    oracle="SELECT lang, source, count(doc_id) AS doc_id_count "
           "FROM documents GROUP BY lang, source",
)


_register_nl(
    "p32_nl_left_join", "orders",
    "Rename o_orderkey to l_orderkey and "
    "left join with lineitem on l_orderkey and "
    "select l_orderkey, o_totalprice and l_quantity.",
    """NL outer join: 'left join with lineitem' keeps orders with no
    lines as null-extended rows (257 such orders at sf0.01). The rename
    aligns the key so the join is a plain equi-join Catalyst plans as
    a shuffle (or AQE-broadcast) hash join.""",
    oracle="SELECT o.o_orderkey AS l_orderkey, o.o_totalprice, l.l_quantity "
           "FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey",
    extra_tables=("lineitem",),
)


_register_nl(
    "p33_nl_semi_join", "orders",
    "Rename o_orderkey to l_orderkey and "
    "keep rows that exist in lineitem on l_orderkey and "
    "select l_orderkey and o_totalprice.",
    """NL existence join: 'keep rows that exist in lineitem' compiles
    to a LeftSemi hash join — the right side's payload columns are
    never materialized, only its join keys flow through the exchange.""",
    oracle="SELECT o_orderkey AS l_orderkey, o_totalprice FROM orders o "
           "WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)",
    extra_tables=("lineitem",),
)


_register_nl(
    "p34_nl_anti_join", "orders",
    "Rename o_orderkey to l_orderkey and "
    "keep rows with no match in lineitem on l_orderkey and "
    "select l_orderkey and o_totalprice.",
    """NL anti join: 'keep rows with no match in lineitem' compiles to
    a LeftAnti hash join (the orphaned-orders audit query).""",
    oracle="SELECT o_orderkey AS l_orderkey, o_totalprice FROM orders o "
           "WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)",
    extra_tables=("lineitem",),
)


_register_nl(
    "p36_nl_running_total", "lineitem",
    "Add running total of l_quantity per l_suppkey ordered by l_orderkey and "
    "select l_orderkey, l_linenumber, l_suppkey and running_sum_l_quantity.",
    """NL ordered-aggregate window: 'add running total of X per K
    ordered by O'. Spark's default RANGE frame equals the SQL default,
    so order-by ties accumulate as one peer group in every engine;
    l_quantity is an integral double, so the running sum is exact
    regardless of accumulation order.""",
)


_register_nl(
    "p37_nl_lag", "events",
    "Add previous value per user_id ordered by event_id and "
    "select event_id, user_id, value and previous_value.",
    """NL lag window: 'add previous value per user_id ordered by
    event_id' (event_id is unique, so the per-partition order is
    total and the lag deterministic). Like p36, the oracle is the
    sqlgen rendering of the parsed description.""",
)


_register_nl(
    "p40_nl_moving_window", "events",
    "Add moving minimum of value over last 3 rows per user_id "
    "ordered by event_id and "
    "select event_id, user_id and moving_min_value.",
    """NL sliding ROWS frame: 'add moving minimum of X over last N
    rows per K ordered by O' — min over (N-1) PRECEDING .. CURRENT
    ROW. One sort per partition either way. Determinism: event_id is
    globally unique, so the per-partition order is total and the frame
    CONTENTS are identical in every engine; min is comparison-only, so
    no float-accumulation semantics can disagree (a ROWS frame over a
    non-unique order key would split peers arbitrarily — the lineitem
    variant of this query is NOT portable, which is why it runs on
    events). Oracle is the sqlgen rendering of the parsed
    description.""",
)


_register_nl(
    "p42_nl_global_row_number", "events",
    "Add row number ordered by event_id and "
    "select event_id, user_id and row_num.",
    """NL global ordinal: 'add row number ordered by event_id'. The
    compiler routes this through operators.windows.two_phase_row_number
    (numeric ascending key), so unlike the naive row_number() OVER
    (ORDER BY ...) the data never crosses a single partition — the
    oracle still renders the naive window because the numbers are
    identical (event_id is unique, so the order is total).""",
)


_register_nl(
    "p41_nl_multi_agg", "orders",
    "Group by o_orderpriority and show count rows, "
    "count distinct o_custkey, minimum o_totalprice and "
    "maximum o_totalprice.",
    """NL multi-aggregate group-by: several aggregates in ONE
    aggregation pass (count rows, count distinct, min, max — each
    phrase keeps the single-clause alias conventions). Exact outputs
    only (counts and min/max), so the hash-compare is unconditional;
    money SUMS would go through the decimal(18,2) cast discipline
    instead.""",
)


_register_nl(
    "p38_nl_pivot", "orders",
    "Pivot o_orderstatus by o_orderpriority counting rows "
    "for values F, O and P.",
    """NL declared-values pivot: 'pivot <col> by <key> counting rows
    for values ...' — compiles to ONE hash aggregate (values are
    declared in the description, so Spark never runs the distinct
    discovery scan). Count cells null-fill to 0, matching the
    sqlgen oracle's count(*) FILTER rendering.""",
)


_register_nl(
    "p39_nl_rollup", "orders",
    "Group by o_orderpriority then o_orderstatus with subtotals "
    "and count rows.",
    """NL rollup: 'group by A then B with subtotals and count rows' —
    ROLLUP(A, B) in one Expand pass over a single scan, with
    grouping_id emitted as gid so subtotal rows stay distinguishable
    from real NULL keys. Oracle is the sqlgen rendering of the parsed
    description (GROUP BY ROLLUP + CAST(GROUPING(...) AS INTEGER)).""",
)


_register_nl(
    "p43_nl_listagg", "nation",
    "Group by n_regionkey and concatenate n_name.",
    """NL ordered LISTAGG: 'group by K and concatenate X' — the
    compiler's array_sort(collect_list()) makes the concatenation
    order-deterministic on any partitioning (bare collect_list order
    is partition-dependent); the sqlgen oracle renders
    string_agg(col, '|' ORDER BY col).""",
)


_register_nl(
    "p44_nl_mode", "orders",
    "Show most common o_orderpriority per o_orderstatus.",
    """NL per-group MODE: 'most common X per K' — count-then-rank with
    the (count DESC, value ASC) tie-break so the winner is
    reproducible on any cluster (Spark's built-in mode() breaks ties
    by partition order). The rank window runs over the counted
    |K x X| table, never the fact table.""",
)


_P45_DESC = (
    "Filter rows where event_type == 'purchase' and "
    "select columns event_id, user_id and ts and "
    "join nearest views on user_id by ts taking view_event_id."
)


_P45_VIEWS_CTE = (
    "WITH views AS (SELECT user_id, ts, max(event_id) AS view_event_id "
    "FROM events WHERE event_type = 'view' GROUP BY user_id, ts) "
)


def _p45_oracle() -> str:
    return _P45_VIEWS_CTE + spec_to_sql(
        benchqueries.parse_description(_P45_DESC, columns=_TABLE_COLUMNS["events"]), "events"
    )


@register("p45_nl_asof_nearest", _p45_oracle())
def p45_nl_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NL as-of join, nearest mode: 'join nearest <right> on <key> by
    <ts> taking <cols>' ('previous'/'next' parse to backward/forward).
    Compiles to operators.joins.asof_join — union + two running fills
    over ONE hash exchange, distances in exact integer micros, ties to
    the backward row. The right side is provisioned by the harness
    (unique (user_id, ts) view lookup); the sqlgen oracle renders a
    LATERAL nearest-row probe under the same CTE."""
    ev = _t(spark, sf_dir, "events")
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_event_id"))
    )
    spec = benchqueries.parse_description(_P45_DESC, columns=ev.columns)
    return benchqueries.compile_spec(ev, spec, tables={"views": views})


_P46_DESC = (
    "Filter rows where event_type == 'purchase' and "
    "select columns event_id, user_id and ts and "
    "join nearest views on user_id by ts taking view_event_id "
    "within 600 seconds."
)


def _p46_oracle() -> str:
    return _P45_VIEWS_CTE + spec_to_sql(
        benchqueries.parse_description(_P46_DESC, columns=_TABLE_COLUMNS["events"]), "events"
    )


@register("p46_nl_asof_tolerance", _p46_oracle())
def p46_nl_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NL as-of join with a merge_asof tolerance: 'join nearest ...
    within 600 seconds' — matches farther than the bound null out like
    missing matches. Engine applies a post-pick scalar null-out on the
    exact integer-micros distance (plan shape unchanged from p45); the
    sqlgen oracle bounds the LATERAL probe with an INTERVAL comparison
    (to_microseconds), so fractional-second tolerances stay exact."""
    ev = _t(spark, sf_dir, "events")
    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("view_event_id"))
    )
    spec = benchqueries.parse_description(_P46_DESC, columns=ev.columns)
    return benchqueries.compile_spec(ev, spec, tables={"views": views})


_register_nl(
    "p47_nl_median", "lineitem",
    "Group by l_returnflag and show median l_quantity.",
    """NL exact median: 'group by K and show median X' — Spark's
    F.median (exact interpolated, == DuckDB median / quantile_cont 0.5)
    in one aggregation pass. The value depends only on the two middle
    order statistics, so it is partition-order independent and
    hash-compares without rounding tricks. Scale note: exact median is
    a sort-based aggregate per group; for loose-tolerance profiling at
    100 TB the KLL sketch (x_approx_percentiles) is the cheaper path.""",
)


_register_nl(
    "p48_nl_ntile", "events",
    "Divide into 10 buckets by event_id per user_id and "
    "select event_id, user_id and bucket_event_id.",
    """NL ntile: 'divide into 10 buckets by event_id per user_id' —
    per-user decile assignment over a TIE-FREE ordering column
    (event_id is unique, so the bucket boundaries are deterministic;
    ntile among order ties is engine-arbitrary and the grammar's
    docstring says to order by a key). One partitioned window, one
    shuffle on user_id.""",
)


_register_nl(
    "p49_nl_percent_rank", "events",
    "Add percentile rank of value per user_id.",
    """NL percent_rank: '(rank-1)/(n-1)' within each user's values.
    Deterministic under order ties (tied rows share a rank), and the
    division is an exact integer-over-integer float64 op — identical
    bits across engines, no rounding trick needed.""",
)


_register_nl(
    "p50_nl_cume_dist", "events",
    "Add cumulative distribution of value per user_id.",
    """NL cume_dist: fraction of the user's rows with value <= mine —
    peers included, so order ties are deterministic by construction.
    Integer-count division in float64, bit-identical cross-engine.""",
)


_register_nl(
    "p53_nl_percentile", "lineitem",
    "Group by l_returnflag and show 90th percentile of l_extendedprice.",
    """NL exact percentile: 'show 90th percentile of X' — Spark
    F.percentile == DuckDB quantile_cont (index p*(n-1), linear
    interpolation between two order statistics, partition-order
    independent), so the hash-compare needs no rounding. Same sort-
    based-aggregate scale note as median (p47); the KLL sketch
    (x_approx_percentiles) is the loose-tolerance 100 TB path.""",
)


_register_nl(
    "p52_nl_moving_median", "events",
    "Add moving median of value over last 5 rows per user_id "
    "ordered by event_id and select event_id, user_id, value "
    "and moving_median_value.",
    """NL rolling median: the robust smoother time-series monitoring
    uses where a moving average is outlier-dragged. Exact interpolated
    median over a 5-row sliding frame per user (Spark F.median over
    rowsBetween == DuckDB median() OVER ROWS BETWEEN — same two middle
    order statistics, partition-order independent). The frame is
    bounded (5 rows), so per-group state is O(frame), not O(group) —
    the 100 TB discipline for order-statistic windows; event_id order
    is total, so the frame contents are deterministic.""",
)


_register_nl(
    "p54_nl_wordcount", "documents",
    "Split text into words and count each word showing top 50.",
    """NL word count: 'split text into words and count each word' —
    the new explode spec op (regex split -> one row per non-empty
    token) feeding a groupby count; top-k sorts on (count desc, word
    asc), a total order, so the boundary row is deterministic. Scale
    shape: explode happens map-side inside the scan stage and the
    count is a partial-aggregated shuffle on the token — the word-
    count plan that works at any corpus size. Oracle: unnest over
    string_split_regex.""",
)


_register_nl(
    "p55_nl_dedup_keep", "documents",
    "Remove duplicate rows by text keeping the lowest doc_id.",
    """NL deterministic dedup: 'remove duplicate rows by X keeping
    the lowest Y' — the keyed dedup spec op (row_number over the dedup
    keys ordered by the keep column, filter to 1). This is the
    reproducible sibling of distinct-by-cols, which keeps an
    engine-arbitrary row and is declared non-portable in sqlgen; with
    an explicit keep order both engines pick the SAME representative,
    so the whole surviving ROW hash-matches. One exchange on the dedup
    keys; duplicate groups are small so the per-group sort is cheap.""",
)


_register_nl(
    "p56_nl_case_when", "orders",
    "Add tier column as 'low' when o_totalprice < 100000, "
    "'mid' when o_totalprice < 300000, otherwise 'high' "
    "and then group by tier and count o_orderkey.",
    """NL CASE expression: "add <col> column as 'low' when ..., 'mid'
    when ..., otherwise 'high'" — the categorize/bucket phrasing every
    labeling pipeline needs, compiled to an ANSI first-match-wins
    when-chain (F.when...otherwise) feeding a group-count. The CASE is
    a pure projection expression, so it stays inside the scan stage's
    WholeStageCodegen and the only exchange is the 3-key count — the
    same plan shape at any data size. Branch values are explicit lit
    nodes (a bare string in expression position is column-ref sugar).
    Reference parity: the closest reference eval shapes are the
    computed-column descriptions (agentic_workflow_transformation.py:339-362);
    this extends them with multi-branch categorization.""",
)


_register_nl(
    "p59_nl_search", "documents",
    "Filter rows where lang == 'en' and "
    "search for 'vector stream window' and show top 5 matches",
    """NL lexical search: "search for '<terms>' and show top N
    matches" — BM25 as a first-class spec op, composable with the rest
    of the grammar (here: a language filter narrows the corpus BEFORE
    scoring, so df/N/avgdl are per-slice as a search engine would
    compute them). Same plan as ns_text_bm25: term filter inside the
    scan stage, broadcast statistics, TakeOrderedAndProject.""",
)


_register_nl(
    "p57_nl_fillna", "orders",
    "Rename o_orderkey to l_orderkey and "
    "left join with lineitem on l_orderkey and "
    "replace missing l_quantity with 0 and then "
    "group by o_orderpriority and show average l_quantity",
    """NL null fill after an outer join: 'replace missing X with 0' —
    the coalesce-in-place clause every left-join pipeline needs before
    aggregating (null-extended rows count as 0, not as absent). The
    spec op carries replace=True so the SQL rendering uses * REPLACE:
    a bare '*, expr AS name' would leave TWO columns with that name in
    the oracle engine and later references would silently bind to the
    ORIGINAL (the bug this phrasing's round-7 test caught). Spark side
    is withColumn — pure projection, no new exchange.""",
    extra_tables=("lineitem",),
)


_register_nl(
    "p58_nl_convert", "orders",
    "Convert o_totalprice to integer and "
    "select o_orderkey, o_totalprice and "
    "sort by o_totalprice desc, o_orderkey and keep top 10",
    """NL type conversion: 'convert X to integer' — in-place cast
    (replace=True spec op). Cross-engine pin: Spark's numeric->integer
    cast TRUNCATES toward zero while DuckDB's CAST rounds half-up, so
    sqlgen renders integer casts as CAST(trunc(x) AS BIGINT). Top-k
    sorts on the converted value with the key as tie-break (truncation
    creates ties the original doubles didn't have).""",
)


_register_nl(
    "p60_nl_count_missing", "orders",
    "Rename o_orderkey to l_orderkey and "
    "left join with lineitem on l_orderkey and then "
    "group by o_orderpriority and show count rows, "
    "count missing l_quantity and maximum o_totalprice",
    """NL completeness audit: 'count missing X' — the count_nulls
    aggregate (count of CASE WHEN x IS NULL), here counting orders a
    left join failed to match, alongside count rows and a max in ONE
    aggregation pass. The everyday data-quality question ('how many
    rows lack a value per segment?') reached from plain English; the
    Spark side is F.count(F.when(isNull)) — integer-exact, no
    determinism caveats.""",
    extra_tables=("lineitem",),
)


_register_nl(
    "p61_nl_fit_ols", "lineitem",
    "Rename l_partkey to p_partkey and join with part on p_partkey "
    "and fit l_extendedprice on l_quantity per p_brand",
    """NL regression: 'fit Y on X per K' — per-group OLS
    (slope/intercept/r2) as a first-class spec op riding on
    operators/stats.groupwise_ols: five decimal-exact moments in ONE
    map-side-combined aggregate, closed forms in a fixed double shape,
    rounded on report. Composes with the join grammar (the rename
    aligns the key; the fit runs over the joined frame) — the
    fit-a-line-per-segment ask in plain English.""",
    extra_tables=("part",),
)


_register_nl(
    "p62_nl_dedup_docs", "documents",
    "Remove duplicate documents keeping the first and "
    "select doc_id, lang, n_chars",
    """NL exact dedup: 'remove duplicate documents keeping the first'
    routes to the keyed-dedup spec op (keys=[text], keep lowest
    doc_id) — deterministic keeper, oracle-rendered row_number chain.
    Scale: one hash exchange; at 100 TB swap the key for md5(text) so
    the shuffle carries digests (dedup.exact_dedup_groups is that
    form; the NL op keeps the row-preserving semantics).""",
)


_register_nl(
    "p63_nl_neardup", "documents",
    "Filter rows where lang == 'en' and "
    "remove near-duplicate documents above 0.5 similarity and "
    "select doc_id, lang",
    """NL fuzzy dedup: 'remove near-duplicate documents above T
    similarity' — the full LSH chain (16 md5 minhashes, 4-band
    candidates, exact Jaccard on survivors) behind one English clause,
    with greedy keep-first semantics (drop any doc with a verified
    near-dup at a lower id). Composes with the filter grammar: the
    language slice narrows the corpus BEFORE shingling. The oracle
    unrolls the identical chain in SQL — the NL layer inherits the
    dedup family's hash-exactness.""",
)


_P64_DESC = "Drop documents that appear in benchmark and select doc_id, lang"


def _p64_oracle() -> str:
    spec = benchqueries.parse_description(_P64_DESC, columns=_TABLE_COLUMNS["documents"])
    for op in spec["ops"]:
        # the benchmark table exists Spark-side via the compiler's
        # table map; the DuckDB oracle gets it as an inline slice of
        # the pre-registered documents view
        if op["op"] == "decontaminate":
            op["right"] = (
                "(SELECT * FROM documents "
                "WHERE doc_id % 97 = 0 AND doc_id < 58200)"
            )
    return spec_to_sql(spec, "documents")


@register("p64_nl_decontaminate", _p64_oracle())
def p64_nl_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NL decontamination: 'drop documents that appear in benchmark' —
    word-3-gram overlap against a named benchmark table, compiled to
    the broadcast-semi-probe + anti-join shape of
    corpus.contaminated_ids (the corpus side never shuffles on
    shingles). The benchmark here is the same fixed eval-suite slice
    ns_decontaminate_bloom screens against; this is its exact NL
    sibling."""
    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(
        (F.col("doc_id") % 97 == 0) & (F.col("doc_id") < 58200)
    )
    return benchqueries.compile_spec(
        docs,
        benchqueries.parse_description(_P64_DESC, columns=docs.columns),
        tables={"benchmark": bench},
    )


_register_nl(
    "p66_nl_ann", "embeddings",
    "Find the 10 most similar vectors to vector 42",
    """NL similarity search: 'find the K most similar vectors to
    vector N' — exact cosine top-k (similarity.topk_cosine_bruteforce)
    as a spec op: the broadcast-query scan + TakeOrderedAndProject
    baseline of the ANN family, now reachable from plain English the
    way search (p59) and regression (p61) are. The approximate tiers
    (sign-LSH, IVF, PQ, IVFADC) stay API registrations — picking an
    index is a deployment decision, not an NL phrasing.""",
)


_register_nl(
    "p67_nl_json_extract", "events",
    "Extract the number k from props and filter rows where k > 80 "
    "and select event_id, event_type, k",
    """NL semi-structured extraction: 'extract the number k from
    props' — the json_get expression op (get_json_object JVM-side /
    json_extract_string in the oracle) surfaced as an English clause,
    composing with the filter and projection grammar. 'number' casts
    the JSON text scalar to DOUBLE (the portable numeric form; string
    -> integer casts are engine-divergent and stay rejected). The
    extraction is a pure per-row expression inside whole-stage
    codegen: no shuffle, no UDF, filter pushes to the scan.""",
)


_register_nl(
    "p68_nl_split", "documents",
    "Split into 90/5/5 train/val/test by doc_id and "
    "select doc_id, lang, split",
    """NL dataset splitting: 'split into 90/5/5 train/val/test by
    doc_id' — the N-way deterministic hash split
    (sampling.with_hash_split) as one English clause. Assignment is a
    pure per-row expression over the row's own key (md5 draw vs
    shared integer cutoffs), so it is stable under appends and
    repartitioning and needs no shuffle, no sampling pass, and no
    driver state — the property a 100 TB corpus split actually
    requires (re-running on grown data never reassigns old rows).""",
)


_register_nl(
    "p69_nl_langid", "documents",
    "Detect the language of each document and "
    "select doc_id, lang, pred_lang",
    """NL language ID: 'detect the language of each document' —
    text.with_lang_id (stopword-vote argmax, deterministic ties,
    'und' fallback) as one English clause. Pure per-row array
    expressions inside whole-stage codegen; composes with the filter
    and projection grammar.""",
)


_register_nl(
    "p70_nl_token_counts", "documents",
    "Count tokens in each document and filter rows where n_tokens > 60 "
    "and select doc_id, n_words, n_tokens",
    """NL tokenization stats: 'count tokens in each document' —
    text.with_token_counts (whitespace words + BPE-ish regex tokens)
    behind one clause, with the token-count threshold expressed in the
    same description. No shuffle; the filter runs on the derived
    column in the same codegen stage.""",
)


_register_nl(
    "p71_nl_quality", "documents",
    "Score the quality of each document and "
    "select doc_id, n_words, quality_score",
    """NL quality scoring: 'score the quality of each document' —
    text.with_quality_score's five typed columns (length, mean word
    length, stopword ratio, non-alnum ratio, composite score) from one
    English clause. The oracle re-renders the exact rounded-ratio
    composite, so the NL layer inherits the text family's
    hash-exactness.""",
)


_register_nl(
    "p72_nl_winsorize", "events",
    "Winsorize value at 5/95 within each event_type and "
    "select event_id, event_type, value_winsor, was_clamped",
    """NL outlier taming: 'winsorize value at 5/95 within each
    event_type' — stats.winsorize_group (exact-percentile clamp via a
    broadcast-back group frame) as one English clause, composing with
    the projection grammar. The fact side never shuffles on a
    data-sized key; at 100 TB the exact percentile swaps for
    percentile_approx with the same plan shape.""",
)


_register_nl(
    "p73_nl_resample", "events",
    "Resample value every 6 hours per user_id with linear interpolation",
    """NL time-series regularization: 'resample value every 6 hours
    per user_id with linear interpolation' —
    timeseries.resample_interpolate behind one clause. The grid is
    bounded by wall-clock span; the four fill windows share one
    (key, epoch) exchange; the oracle re-renders the identical IEEE
    interpolation shape so the NL layer inherits hash-exactness.""",
)


_register_nl(
    "p74_nl_chunk", "documents",
    "Filter rows where lang == 'en' and "
    "chunk documents into 32-word chunks every 16 words",
    """NL context-window preparation: 'chunk documents into 32-word
    chunks every 16 words' — corpus.chunk_documents (sliding-window
    explode, overlapping when stride < size, tail kept) behind one
    clause, composing with the filter grammar. A pure narrow row
    expansion: no shuffle, no Python.""",
)


_P75_DESC = "Merge updates into the table on o_orderkey"


def _p75_updates_sql() -> str:
    # same change-set family as x_merge_upsert, full orders schema
    return (
        "(SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus, "
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 100 AS DOUBLE) AS o_totalprice, "
        "o_orderdate, o_orderpriority FROM orders WHERE o_orderkey % 7 = 0 "
        "UNION ALL "
        "SELECT o_orderkey + 100000000, o_custkey, 'N', o_totalprice, "
        "o_orderdate, o_orderpriority FROM orders WHERE o_orderkey % 13 = 0)"
    )


def _p75_oracle() -> str:
    spec = benchqueries.parse_description(_P75_DESC, columns=_TABLE_COLUMNS["orders"])
    for op in spec["ops"]:
        if op["op"] == "merge":
            # the updates table exists Spark-side via the compiler's
            # table map; the oracle gets it as an inline subquery, and
            # the renderer needs the column list the compiler reads
            # off the schema
            op["right"] = _p75_updates_sql()
            op["cols"] = _TABLE_COLUMNS["orders"]
    return spec_to_sql(spec, "orders")


@register("p75_nl_merge", _p75_oracle())
def p75_nl_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NL MERGE upsert: 'merge updates into the table on o_orderkey' —
    joins.merge_upsert behind one clause, the updates side resolved
    from the compiler's table map the way NL decontamination resolves
    its benchmark. One full-outer keyed join; matched rows take the
    update, new keys insert, the rest keep, merge_action audits."""
    o = _t(spark, sf_dir, "orders")
    upd = o.filter(F.col("o_orderkey") % 7 == 0).select(
        "o_orderkey",
        "o_custkey",
        F.lit("U").alias("o_orderstatus"),
        (F.col("o_totalprice").cast("decimal(18,2)") + 100)
        .cast("double")
        .alias("o_totalprice"),
        "o_orderdate",
        "o_orderpriority",
    ).unionByName(
        o.filter(F.col("o_orderkey") % 13 == 0).select(
            (F.col("o_orderkey") + 100000000).alias("o_orderkey"),
            "o_custkey",
            F.lit("N").alias("o_orderstatus"),
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        )
    )
    return benchqueries.compile_spec(
        o,
        benchqueries.parse_description(_P75_DESC, columns=o.columns),
        tables={"updates": upd},
    )


_register_nl(
    "p76_nl_negatives", "embeddings",
    "Pick 3 negatives per vector from a pool of 64",
    """NL contrastive sampling: 'pick 3 negatives per vector from a
    pool of 64' — sampling.negative_samples behind one clause: each
    anchor draws different-label negatives from a fixed broadcast
    pool, ranked per anchor by md5(anchor|candidate). Anchor x
    constant work, linear at 100 TB.""",
)


_register_nl(
    "p79_nl_expectations", "documents",
    "Check that doc_id is unique and text is not null and "
    "lang is in 'en', 'de' and at least 100 rows",
    """NL data-quality contract: 'check that doc_id is unique and text
    is not null and lang is in ... and at least 100 rows' —
    quality.check_expectations behind one clause. Every per-row check
    is a conditional sum and uniqueness an exact count-distinct inside
    ONE aggregate scan; the report explodes from the 1-row frame. The
    two-language accepted-values list fails on purpose so the fixture
    exercises non-zero violation counts.""",
)


_register_nl(
    "p80_nl_gopher", "documents",
    "Apply the gopher quality rules to each document and "
    "select doc_id, lang, n_words, mean_word_len, alpha_ratio, "
    "n_req_stopwords, r_word_count, r_word_len, r_stopwords, passes_gopher",
    """NL heuristic quality filtering: 'apply the gopher quality rules
    to each document' — text.gopher_rules (the published Rae et al.
    2021 rule battery) behind one clause, composing with the
    projection grammar. Pure per-row string expressions inside
    whole-stage codegen, no shuffle; the oracle re-renders every rule
    from the same GOPHER_BOUNDS constants so thresholds cannot
    drift between engines.""",
)


_register_nl(
    "p81_nl_dsir", "documents",
    "Weight documents by importance to lang 'en'",
    """NL data selection: 'weight documents by importance to lang
    <value>' — corpus.dsir_log_weights (DSIR, arXiv:2302.03169)
    behind one clause: hashed bag-of-words log-likelihood ratio of the
    target slice vs the whole corpus, per document. The estimate pass
    collapses map-side to 16 rows; the scoring join is broadcast; the
    per-doc sum is decimal-exact. The oracle unrolls the identical
    three-CTE chain.""",
)


_register_nl(
    "p82_nl_fertility", "documents",
    "Compute token fertility per lang",
    """NL tokenizer audit: 'compute token fertility per <key>' —
    text.token_fertility_by_lang behind one clause (schema-replacing,
    like ols/dsir). Exact integer sums feed one fixed double division
    per group, so the oracle is hash-exact; one scan, one
    partial-aggregated exchange on the group key.""",
)


_register_nl(
    "p83_nl_dup_audit", "documents",
    "Audit 5-gram duplication per source",
    """NL corpus-contamination audit: 'audit <n>-gram duplication per
    <key>' — corpus.dup_rate_by_source behind one clause
    (schema-replacing, like fertility/dsir): per-group fraction of
    word n-gram occurrences duplicated across documents and shared
    with other groups. One shingle explode whose exchanges carry
    60-bit digests; per-gram totals via a window over the digest (no
    self-join re-scan); the per-group doc count joins broadcast. The
    oracle unrolls the identical digest/aggregate chain.""",
)


_register_nl(
    "p84_nl_winnow_dedup", "documents",
    "Filter rows where lang == 'en' and "
    "remove documents sharing fingerprinted passages above 0.5 overlap "
    "and select doc_id, source",
    """NL winnowing dedup: 'remove documents sharing fingerprinted
    passages above T overlap' — dedup.winnow_shared_pairs (MOSS
    winnowing, SIGMOD'03) behind one clause with greedy keep-first
    semantics, composing with the filter/projection grammar. The
    fingerprint set is a ~2/(w+1)-density sample with the
    shared-substring guarantee, the >max_df boilerplate guard runs as
    an aggregate + semi-join (no single-task window sort on a hot
    fingerprint), and the final anti join touches the corpus once.
    The oracle unrolls the identical window-min/pair chain.""",
)


_register_nl(
    "p85_nl_vocab_divergence", "documents",
    "Report vocabulary divergence per source",
    """NL corpus-similarity map: 'report vocabulary divergence per
    <key>' — corpus.js_divergence_by_group behind one clause
    (schema-replacing, like dup_by_source): pairwise Jensen-Shannon
    divergence between per-group unigram distributions, with the
    union-of-vocab sum folded into intersection-only join terms plus
    closed-form one-sided mass. The oracle renders the identical
    fold.""",
)


_register_nl(
    "p86_nl_dedup_savings", "documents",
    "Report the dedup savings per source",
    """NL dedup pricing: 'report the dedup savings per <key>' —
    dedup.dedup_savings_by_source behind one clause (schema-replacing,
    like dup_by_source): per group, the documents and characters a
    corpus-wide lowest-id-keeper exact dedup removes. One digest
    aggregate (exchanges carry 16-byte md5, never text) and a
    group-cardinality rollup. The oracle renders the identical
    keeper-join chain.""",
)


_register_nl(
    "p87_nl_blocklist", "documents",
    "Remove documents containing the words 'spark', 'merge' "
    "and select doc_id, lang, n_chars",
    """NL C4-style blocklist screen: 'remove documents containing the
    words ...' — text.blocklist_screen behind one clause: drop every
    document whose lowercased word set intersects the quoted list
    (word-level match, the C4 badwords form), composing with the
    projection grammar. A pure per-row filter: the list constant-folds
    into the predicate, codegens into the scan, no shuffle — at
    100 TB it rides the scan you already pay; beyond a few thousand
    words switch to the broadcast-join form (corpus.contaminated_ids).
    The oracle renders the identical list_has_any intersection.""",
)


_register_nl(
    "p88_nl_kanonymity", "events",
    "Check k-anonymity of user_id and event_type at 5",
    """NL privacy audit: 'check k-anonymity of <cols> at <k>' —
    quality.k_anonymity_audit behind one clause (schema-replacing,
    like expect): one report row counting quasi-identifier groups
    smaller than k and the rows they expose. One hash aggregate on
    the quasi key folded to a single row; integer-exact except the
    one rounded ratio. The oracle renders the identical two-level
    aggregate.""",
)


_register_nl(
    "p89_nl_word_entropy", "documents",
    "Compute the word entropy of each document",
    """NL repetition screen: 'compute the word entropy of each
    document' — text.word_entropy behind one clause (schema-replacing):
    per-doc Shannon entropy of the word distribution plus evenness,
    the model-free gibberish/template signal. cnt*log2(cnt) terms pin
    DECIMAL(18,8) so the per-doc sum is partition-order exact; one
    explode and two map-side-combinable aggregates, no joins. The
    oracle renders the identical pinned-term chain.""",
)


_register_nl(
    "p90_nl_oov", "documents",
    "Report the out-of-vocabulary rate per source against the top 100 words",
    """NL tokenizer-coverage audit: 'report the out-of-vocabulary rate
    per <key> [against the top N words]' — text.oov_rate_by_group
    behind one clause (schema-replacing): per group, tokens outside
    the deterministic top-v corpus vocabulary and the OOV rate. One
    explode feeds both the TakeOrdered vocabulary (never a global
    window) and the per-group counts; the v-row vocabulary broadcasts
    into the membership join. The oracle renders the identical
    vocab + membership chain.""",
)


_register_nl(
    "p91_nl_majority", "events",
    "Take the majority vote of event_type per user_id",
    """NL label aggregation: 'take the majority vote of <label> per
    <key>' — quality.majority_vote behind one clause (schema-
    replacing): per key the winning label with total ratings, vote
    share, runner-up margin, and a tie flag (ties break to the smaller
    label, flagged). One (key, label) hash aggregate plus one
    key-partitioned window reading the top two rows; integer-exact
    except the rounded share. The oracle renders the identical
    aggregate + window chain.""",
)


_register_nl(
    "p92_nl_quality_dedup", "documents",
    "Score the quality of each document and then remove duplicates by "
    "lang and source keeping the highest quality_score breaking ties "
    "by doc_id",
    """NL quality-aware exemplar selection: two composed clauses —
    the quality projection, then keyed dedup keeping the HIGHEST
    quality_score with the new 'breaking ties by <col>' suffix making
    the winner deterministic when scores tie (quality is a function of
    text, so ties are the NORM, not the edge case). This is the
    curator's 'best representative per (lang, source)' table. One
    scan, one exchange on the dedup keys, per-group sort of small
    groups; the oracle renders the identical row_number chain with the
    ascending tiebreak.""",
)


_register_nl(
    "p93_nl_agreement", "events",
    "Compute the inter-annotator agreement of event_type per user_id",
    """NL agreement gate: 'compute the inter-annotator agreement of
    <label> per <key>' — stats.krippendorff_alpha behind one clause
    (schema-replacing): the nominal coincidence-matrix alpha over
    however many ratings each key has (no fixed-n trimming), one
    report row out. Exact integer marginals, DECIMAL(24,12)-pinned
    per-item quotients; the oracle renders the identical chain.""",
)


_register_nl(
    "p94_nl_ewma", "events",
    "Add exponential moving average of value over last 5 rows per "
    "user_id ordered by event_id with smoothing 0.7",
    """NL smoothing window: 'add exponential moving average of <col>
    over last N rows per <key> ordered by <o> [with smoothing a]' —
    the ewma window fn compiles to a BOUNDED weighted lag chain
    (a^j float-literal weights, additions in ascending j,
    renormalized over the lags that exist near the partition start),
    so the double result is bit-identical cross-engine with no
    recursive state and no UDF; the N lags share the window's one
    sort per key. The unique event_id order key keeps the chain
    tie-deterministic. The oracle renders the identical chain.""",
)


_register_nl(
    "p95_nl_anomaly", "events",
    "Flag anomalies in value over last 20 rows per user_id ordered by "
    "event_id above z 2.5",
    """NL metric monitoring: 'flag anomalies in <col> over last N rows
    per <key> ordered by <o> [above z <t>]' — rolling z-score flags
    (timeseries.rolling_zscore_anomalies) behind one clause: each row
    scored against its own trailing-window mean/std, |z| above the
    threshold flagged. Frame sums pin DECIMAL so they are exact under
    ANY frame fold order (sliding-window segment trees reorder float
    additions; decimals don't care); one exchange on the key, three
    frame aggregates sharing one sort. The oracle renders the
    identical pinned chain.""",
)


_register_nl(
    "p96_nl_correlate", "lineitem",
    "Compute the correlation matrix of l_quantity, l_extendedprice, "
    "l_discount and l_tax",
    """NL profiling: 'compute the correlation matrix of <cols>' —
    profile.correlation_matrix behind one clause (schema-replacing):
    one row per unordered pair with decimal-exact moments collected
    in a SINGLE global aggregate (one scan for any number of
    columns), r closed-form in doubles, NULL on zero variance. The
    oracle renders the identical pinned chain with the DECIMAL(24,6)
    product widening DuckDB's int64 DECIMAL multiply needs.""",
)


_register_nl(
    "p97_nl_ndcg", "embeddings",
    "Compute retrieval NDCG at 10 for the first 8 queries",
    """NL retrieval evaluation: 'compute retrieval NDCG at <k> for the
    first <n> queries' — similarity.ndcg_per_query behind one clause
    (schema-replacing, one row per query): exact-cosine top-k with the
    query side broadcast and one corpus scan, binary label relevance,
    gains and ideal-DCG normalizers frozen as 12-decimal literals so
    both engines sum identical decimals. The oracle renders the same
    chain with DuckDB's list_cosine_similarity.""",
)


_register_nl(
    "p98_nl_separation", "embeddings",
    "How well separated are the labels",
    """NL cluster-quality question: 'how well separated are the
    labels' — similarity.simplified_silhouette behind one clause
    (schema-replacing, one row per label): centroid-form silhouette
    (LINEAR in rows, unlike Rousseeuw's all-pairs original), per-row s
    pinned DECIMAL(12,6) so the per-label mean is an exact decimal
    sum. Broadcast centroid model, label-count fan-out only.""",
)


_register_nl(
    "p99_nl_bpe", "documents",
    "Train a BPE tokenizer with 5 merges",
    """NL tokenizer training: 'train a BPE tokenizer with <n> merges'
    — text.bpe_merge_table behind one clause (schema-replacing, one
    row per merge). The corpus collapses to its word-frequency table
    in one aggregate; each round is one pair-explode aggregate plus a
    ONE-ROW driver collect for the argmax merge (spec validation caps
    n at 20 — each merge is a driver round AND an unrolled oracle CTE
    block). The oracle unrolls the same doubled-boundary replace
    algebra per round.""",
)


_register_nl(
    "p100_nl_perplexity", "documents",
    "Bucket documents by perplexity against the src0 slice",
    """NL corpus curation: 'bucket documents by perplexity against the
    <source> slice' — text.perplexity_buckets behind one clause
    (schema-replacing): cross-entropy under an add-one unigram LM
    trained on the reference slice, head/middle/tail tertiles per
    language via broadcast percentile cutoffs (no language-sized
    window sort). The oracle renders the identical smoothed-LM
    chain.""",
)


_register_nl(
    "p77_nl_sample", "documents",
    "Sample 10% of documents by doc_id and select doc_id, lang, n_chars",
    """NL deterministic sampling: 'sample 10% of documents by doc_id'
    — sampling.hash_sample behind one clause. A pure per-row md5-draw
    filter (never df.sample's engine-private RNG), so the same rows
    survive on every run, engine, and partitioning; at 100 TB the
    predicate codegens into the scan stage with no shuffle and no
    state. The oracle renders the identical draw + integer cutoff.""",
)


_register_nl(
    "p78_nl_redact", "documents",
    "Redact emails and numbers in each document and "
    "select doc_id, text, n_masked",
    """NL PII scrub: 'redact emails and numbers in each document' —
    text.redact_text behind one clause, masking emails and long digit
    runs IN PLACE in the text column plus an n_masked audit count
    (matches against the original text, so replacement-order
    independent). Pure JVM regex per row: no shuffle, no Python.""",
)


_register_nl(
    "p65_nl_pack", "documents",
    "Filter rows where n_chars > 100 and "
    "pack documents into sequences of 512 tokens",
    """NL sequence packing: 'pack documents into sequences of N
    tokens' — corpus.pack_sequences behind one clause: id-ordered
    greedy fill into N-token training sequences, windowed per
    (lang, id-group) so no reducer ever holds a whole language.
    Composes with the filter grammar (short docs dropped before
    packing). Output is the packed-sequence summary table.""",
)


_register_nl(
    "p51_nl_first_value", "events",
    "Add first value per user_id ordered by event_id over last 3 rows and "
    "select event_id, user_id, value and first_value.",
    """NL sliding first_value: 'first value ... over last 3 rows' =
    the value from two events back (or the earliest available) in each
    user's event_id order — the same ROWS frame the engine compiles as
    rowsBetween(-2, 0) and the oracle renders as ROWS BETWEEN 2
    PRECEDING AND CURRENT ROW (the round-7 frame fix: previously a
    first_value frame was silently dropped on both sides). event_id is
    unique, so the pick is deterministic.""",
)


@register(
    "p35_nl_union",
    "SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 400000 "
    "UNION ALL "
    "SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice < 5000",
)
def p35_nl_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NL union: 'append rows from <view>' — unionByName of the
    pipeline's frame with a registered table/view. Union is a pure
    concatenation in Spark (no shuffle, partitions of both sides are
    simply listed together)."""
    o = _t(spark, sf_dir, "orders")
    cheap = o.filter(F.col("o_totalprice") < 5000).select(
        "o_orderkey", "o_totalprice"
    )
    spec = benchqueries.parse_description(
        "Filter rows where o_totalprice > 400000 and "
        "select o_orderkey and o_totalprice and "
        "append rows from cheap_orders",
        columns=o.columns,
    )
    return benchqueries.compile_spec(o, spec, tables={"cheap_orders": cheap})


_register_nl(
    "p101_nl_common_direction", "embeddings",
    "Audit the common direction of the embeddings",
    """NL embedding hygiene: 'audit the common direction of the
    embeddings' — linalg.common_direction_audit behind one clause
    (schema-replacing, one row per vector): the projection onto the
    corpus top principal component, found by 6 FIXED power-iteration
    rounds run in-plan over the integer-exact Gram statistics, plus
    the centered norm and projection ratio (the all-but-the-top
    correction's inputs, Mu & Viswanath ICLR 2018). The oracle unrolls
    the identical matvec+normalize rounds, so even the eigenvector is
    hash-checked.""",
)


_register_nl(
    "p102_nl_unimax", "documents",
    "Allocate a training budget of 48000 tokens across sources "
    "with at most 2 epochs",
    """NL data mixing: 'allocate a training budget of N tokens across
    <key> with at most E epochs' — UniMax epoch-capped allocation
    (corpus.unimax_allocation) behind one clause (schema-replacing,
    one row per group): capacity-ascending water-filling where the
    capped prefix is identified in pure-integer window arithmetic;
    same plan as ns_corpus_unimax. One corpus scan; all allocation
    math on the group-cardinality frame.""",
)


_register_nl(
    "p103_nl_bootstrap", "events",
    "Bootstrap a 95% confidence interval for the mean value per "
    "event_type keyed by event_id with 40 replicates",
    """NL uncertainty: 'bootstrap a 95% confidence interval for the
    mean <col> per <key> keyed by <id> [with B replicates]' — the
    Poisson bootstrap (stats.poisson_bootstrap_ci) behind one clause
    (schema-replacing, one CI row per group): B replicate means from
    ONE corpus scan via hash-derived Poisson(1) weights, nearest-rank
    percentile picks; same plan as ns_stats_poisson_bootstrap.""",
)


_register_nl(
    "p104_nl_spearman", "lineitem",
    "Compute the spearman correlation of l_quantity, l_extendedprice, "
    "l_discount and l_tax",
    """NL profiling: 'compute the spearman correlation of <cols>' —
    profile.spearman_matrix behind one clause (schema-replacing):
    fractional ranks per column via the two-phase bucketed cumulative
    (no global sort), then the same decimal-pinned Pearson moment
    pass as p96 on the rank columns; the oracle renders the identical
    rank + moment chain through sqlgen's shared _correlate_sql.""",
)


_register_nl(
    "p105_nl_mutual_info", "documents",
    "Compute the mutual information between lang and source",
    """NL dependence audit: 'compute the mutual information between
    <a> and <b>' — stats.mutual_information behind one clause
    (schema-replacing, one report row): one contingency scan,
    marginals/entropies derived from the cell frame, every log term
    pinned DECIMAL(28,12); same chain as ns_stats_mutual_info.""",
)


_register_nl(
    "p106_nl_anova", "events",
    "Compute the anova of value by event_type",
    """NL variance decomposition: 'compute the anova of <value> by
    <group>' (also parses 'compare the mean <value> across <group>')
    — stats.anova_oneway behind one clause (schema-replacing, one
    F / eta^2 report row): one grouped sufficient-stats scan with
    DECIMAL-exact sums, the k-row reduction pinned DECIMAL(28,12);
    same chain as ns_stats_anova.""",
)


_register_nl(
    "p107_nl_funnel", "events",
    "Compute the funnel of event_type steps view then click then "
    "purchase per user_id ordered by ts",
    """NL sequence analysis: 'compute the funnel of <type> steps <a>
    then <b> then <c> per <user> ordered by <ts>' —
    timeseries.funnel_steps behind one clause (schema-replacing, one
    row per step): per-stage min-ts frames chained on the user key
    with strict-after semantics; same chain as x_funnel_conversion.""",
)


_register_nl(
    "p108_nl_novelty", "documents",
    "Score each document's 3-gram novelty",
    """NL corpus diagnostics: 'score each document's <n>-gram
    novelty' — text.ngram_novelty behind one clause
    (schema-replacing, per-doc rows): distinct-shingle explode,
    min-doc-id first-occurrence aggregate on the 60-bit gram hash;
    same chain as ns_text_novelty.""",
)


_register_nl(
    "p109_nl_concentration", "documents",
    "Audit the source concentration of the token mass",
    """NL mix governance: 'audit the [source] concentration of the
    token mass [by <key>]' — corpus.concentration_audit behind one
    clause (schema-replacing, one HHI/Gini/top-share report row):
    one corpus scan, rank math on the group-cardinality frame behind
    the pmod key; same chain as ns_corpus_concentration.""",
)


_register_nl(
    "p110_nl_hapax", "documents",
    "Compute the hapax ratio per source",
    """NL lexical richness: 'compute the hapax ratio per <key>' —
    text.hapax_ratio behind one clause (schema-replacing, one row
    per group): token explode, (group, word) count, vocabulary
    rollup; same chain as ns_text_hapax.""",
)
