"""Table profiling: per-column stats in ONE scan (SURVEY.md section
2.9 extension surface — the data-quality snapshot every ingest job
records before promoting a batch).

The naive profiler scans once per column; at 100 TB that's a full
table read multiplied by the column count. This one computes every
column's metrics as parallel aggregates in a single pass (map-side
combined, one shuffle of a single tiny row), then unpivots the result
driver-side — the scan count is 1 regardless of how many columns are
profiled. Min/max stringify so heterogeneous column types share one
output schema; distinct counts are exact here (count(DISTINCT) in one
aggregate) — swap approx_count_distinct per column when cardinality
itself is the scale problem.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .dedup import spread_small_input


def profile_table(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Emit (column, n_rows, n_non_null, n_distinct, min_value,
    max_value) per profiled column, computed in a single aggregate and
    unpivoted with stack() — fully lazy, no driver round-trip."""
    cols = cols or df.columns
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in cols:
        aggs += [
            F.count(c).alias(f"_nn_{c}"),
            F.countDistinct(c).alias(f"_ndv_{c}"),
            F.min(c).cast("string").alias(f"_min_{c}"),
            F.max(c).cast("string").alias(f"_max_{c}"),
        ]
    branches = ", ".join(
        f"'{c}', _n, _nn_{c}, _ndv_{c}, _min_{c}, _max_{c}" for c in cols
    )
    return df.agg(*aggs).selectExpr(
        f"stack({len(cols)}, {branches}) AS "
        "(column, n_rows, n_non_null, n_distinct, min_value, max_value)"
    )


def correlation_matrix(df: DataFrame, cols: list[str]) -> DataFrame:
    """Pairwise Pearson correlations across numeric columns — the
    profiling read after per-column stats (profile_table): which
    measures move together, which "independent" features are the same
    signal twice. One row per unordered pair (col_a < col_b):
    (col_a, col_b, n, r).

    NULL semantics: pairwise-complete — each pair's moments (count,
    sums, squares, cross products) are computed over the rows where
    BOTH columns are non-null, like Spark's F.corr and pandas'
    pairwise-complete Pearson. A single-moment-set-with-global-n
    shortcut is statistically WRONG the moment any profiled column
    has a NULL (SUM skips NULLs while count(*) doesn't, so the
    moments and n disagree).

    Cost engineering: the masking is done by NULL PROPAGATION, not by
    per-pair CASE-wrapped decimal work — SUM(x*y) is ALREADY the
    both-non-null cross-moment (a product with a NULL operand is NULL
    and SUM skips it), squares are computed ONCE per column in a
    projection and re-summed under a cheap other-column null test,
    and per-pair n counts a boolean. So the irreducible decimal
    multiplies per row are d squares + d(d-1)/2 products; a naive
    CASE-per-moment form re-multiplied inside every aggregate and
    measured 5.6x slower at sf0.1 (13.3 s -> 2.4 s, round 9).

    Exactness: every moment pins DECIMAL — inputs cast decimal(18,6),
    products in Spark's exact decimal product type — so the sums are
    exact under any partition order; r's closed form then runs in
    doubles from those exact sums, rounded to 6. Constant columns
    (zero variance within the pair's complete rows) report NULL r.
    Scale shape: ONE global aggregate computes all 6·d(d-1)/2 moments
    in a single scan (d = len(cols)); the pair rows are exploded from
    that 1-row frame with stack — profiling d columns costs the one
    scan you were already paying, never d^2 scans."""
    # 6*d(d-1)/2 decimal aggregations per row is far more work than
    # the scan: spread a single-small-file input across the cores
    # (no-op for real multi-file tables; the moment sums are
    # decimal-exact, so partitioning cannot move a digit)
    return _pearson_moments(spread_small_input(df.select(*cols)), cols)


def _pearson_moments(base: DataFrame, cols: list[str]) -> DataFrame:
    """correlation_matrix's moment core on an already-spread frame:
    the one global moment aggregate and the stacked pair rows."""
    pairs = [(i, j) for i in range(len(cols))
             for j in range(i + 1, len(cols))]
    proj = base.select(
        *[F.col(c).cast("decimal(18,6)").alias(f"_x{i}")
          for i, c in enumerate(cols)]
    )
    proj = proj.select(
        "*",
        *[(F.col(f"_x{i}") * F.col(f"_x{i}")).alias(f"_xsq{i}")
          for i in range(len(cols))],
    )
    aggs = []
    for i, j in pairs:
        xi, xj = F.col(f"_x{i}"), F.col(f"_x{j}")
        t = f"{i}_{j}"
        aggs += [
            F.count(F.when(xi.isNotNull() & xj.isNotNull(), F.lit(1)))
            .cast("long").alias(f"_n{t}"),
            F.sum(F.when(xj.isNotNull(), xi)).alias(f"_sx{t}"),
            F.sum(F.when(xi.isNotNull(), xj)).alias(f"_sy{t}"),
            F.sum(F.when(xj.isNotNull(), F.col(f"_xsq{i}")))
            .alias(f"_sxx{t}"),
            F.sum(F.when(xi.isNotNull(), F.col(f"_xsq{j}")))
            .alias(f"_syy{t}"),
            F.sum(xi * xj).alias(f"_sxy{t}"),
        ]
    one = proj.agg(*aggs)
    arms = []
    for i, j in pairs:
        t = f"{i}_{j}"
        arms.append(
            f"'{cols[i]}', '{cols[j]}', _n{t}, "
            f"double(_sx{t}), double(_sy{t}), "
            f"double(_sxx{t}), double(_syy{t}), double(_sxy{t})"
        )
    stacked = one.select(
        F.expr(
            f"stack({len(arms)}, {', '.join(arms)}) AS "
            "(col_a, col_b, _np, _sx, _sy, _sxx, _syy, _sxy)"
        ),
    )
    n = F.col("_np").cast("double")
    den_x = n * F.col("_sxx") - F.col("_sx") * F.col("_sx")
    den_y = n * F.col("_syy") - F.col("_sy") * F.col("_sy")
    num = n * F.col("_sxy") - F.col("_sx") * F.col("_sy")
    return stacked.select(
        "col_a",
        "col_b",
        F.col("_np").alias("n"),
        F.when(
            (den_x > 0) & (den_y > 0),
            F.round(num / F.sqrt(den_x * den_y), 6),
        ).alias("r"),
    )


def _fractional_ranks_all(df: DataFrame, cols: list[str],
                          n_buckets: int) -> DataFrame:
    """(_i, _v, _r): fractional rank of every distinct non-null value
    of EVERY profiled column, from ONE scan — average ("midrank")
    ranks, ties sharing (min_rank + max_rank)/2 — without a global
    sort of the data. The columns are exploded to (_i, _v) so the
    distinct-value count aggregate, the range-bucket assignment, the
    in-bucket cumulative window and the broadcast per-bucket offsets
    all run once over the union instead of once per column (the r9
    per-column form scanned the table twice per column — 8 scans and
    ~16 window/aggregate stages for 4 columns; this is 1 scan and 4
    stages). The per-column bucket bounds come from a tiny broadcast
    aggregate of the SAME distinct-value frame (its exchange is
    reused), not a separate driver-collected scan — construction
    stays fully lazy. Bucket assignment only partitions the
    cumulative; rank VALUES are exact longs + /2.0 regardless of
    bucketing. Windows partition by (_i[, _b]) so no stage funnels
    through a single partition; output cardinality is the summed
    distinct-value count, never |df|."""

    pairs = df.select(
        F.posexplode(F.array(*[F.col(c) for c in cols])).alias("_i", "_v")
    ).where(F.col("_v").isNotNull() & ~F.isnan(F.col("_v")))
    # lazily checkpoint the distinct-value counts: g0 feeds the bounds
    # aggregate AND the bucket join, and the offsets branch re-derives
    # that join — without the checkpoint the exploded scan is in the
    # plan 4x and exchange reuse does not kick in (verified in the
    # executed adaptive plan: 4 duplicate explode+aggregate subtrees)
    g0 = pairs.groupBy("_i", "_v").agg(
        F.count(F.lit(1)).cast("long").alias("_c")
    ).localCheckpoint(eager=False)
    bnd = g0.groupBy("_i").agg(
        F.min("_v").alias("_lo"), F.max("_v").alias("_hi")
    )
    w = F.when(
        F.col("_hi") > F.col("_lo"),
        (F.col("_hi") - F.col("_lo")) / F.lit(float(n_buckets)),
    ).otherwise(F.lit(1.0))
    g = (
        g0.join(F.broadcast(bnd), "_i")
        .withColumn("_b", F.floor((F.col("_v") - F.col("_lo")) / w)
                    .cast("long"))
        .select("_i", "_v", "_c", "_b")
    )
    counts = g.groupBy("_i", "_b").agg(
        F.sum("_c").cast("long").alias("_bc")
    )
    w_off = (
        Window.partitionBy("_i")
        .orderBy("_b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.select(
        "_i",
        "_b",
        F.coalesce(F.sum("_bc").over(w_off), F.lit(0))
        .cast("long")
        .alias("_off"),
    )
    w_in = (
        Window.partitionBy("_i", "_b")
        .orderBy("_v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum = F.coalesce(F.sum("_c").over(w_in), F.lit(0)).cast("long")
    return (
        g.join(F.broadcast(offsets), ["_i", "_b"])
        .select(
            "_i",
            "_v",
            (cum + F.col("_off") + (F.col("_c") + F.lit(1)) / F.lit(2.0))
            .alias("_r"),
        )
    )


def spearman_matrix(df: DataFrame, cols: list[str],
                    n_buckets: int = 2048) -> DataFrame:
    """Pairwise Spearman rank correlations across numeric columns —
    the monotone-association sibling of correlation_matrix: Pearson
    asks "linear together", Spearman asks "ordered together", robust
    to outliers and any monotone rescaling (the profiling read when a
    measure is heavy-tailed, where one extreme row can fabricate or
    hide a Pearson r). One row per unordered pair:
    (col_a, col_b, n, rho).

    Method: each column is replaced by its fractional (average) rank
    over its non-null values — the tie convention of scipy.spearmanr
    and pandas — then the DECIMAL-pinned Pearson moment machinery of
    correlation_matrix runs on the rank columns. Ranks are integers
    or half-integers, so the decimal(18,6) moment casts are EXACT and
    rho is engine/partition-order independent. NULL rows keep a NULL
    rank and fall out per-pair via the pairwise-complete masking
    (note: ranks are computed once per column over all its non-null
    rows, not re-ranked per pair — the scipy/pandas listwise-rank
    convention; with no NULLs the two coincide).

    Scale shape: ranking never globally sorts the data — ALL columns'
    distinct-value counts come from ONE exploded scan, cumulated with
    the two-phase bucket trick (_fractional_ranks_all; the per-column
    min/max bucket bounds are a broadcast aggregate of the same
    distinct-value frame, so construction is fully lazy), and the
    per-column rank slices join back by value (broadcast while the
    slice is small; a genuinely high-cardinality column falls back to
    a shuffle join, the only correct choice when its rank table is
    itself corpus-sized). The moment pass is then the single-scan
    one-aggregate plan of correlation_matrix, running on the spread
    frame. Total: one exploded rank build + one moment scan — no step
    is ever O(n log n) on a single partition."""

    proj = df.select(
        *[F.col(c).cast("double").alias(c) for c in cols]
    )
    # spread BEFORE the rank join-backs: they broadcast at local scale,
    # so without it the moment battery downstream would run inside the
    # scan's task count (no-op for real multi-file tables)
    base = spread_small_input(proj)
    # lazily checkpoint the shared rank table: its 4 per-column slices
    # otherwise each re-derive the whole exploded build (the _i filter
    # pushes into every subtree, defeating exchange reuse — measured
    # 8 duplicate explode pipelines in the r10 plan capture)
    ranks = _fractional_ranks_all(base, cols, n_buckets) \
        .localCheckpoint(eager=False)
    ranked = base
    for i, c in enumerate(cols):
        rt = ranks.where(F.col("_i") == i).select(
            F.col("_v").alias(c), F.col("_r").alias(f"_r{i}")
        )
        ranked = ranked.join(rt, on=c, how="left")
    ranked = ranked.select(
        *[F.col(f"_r{i}").alias(c) for i, c in enumerate(cols)]
    )
    # the moment core without correlation_matrix's spread: base is
    # already spread above — a second round-robin repartition here
    # would be a full shuffle of the data for nothing
    return _pearson_moments(ranked, cols).withColumnRenamed("r", "rho")
