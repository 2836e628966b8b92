"""Time-series regularization operators (SURVEY.md section 2.9).

The reference engine (agentic_workflow_transformation.py:341-361) has
no temporal surface at all; these are the gap-fill primitives an
event-stream feature pipeline needs before any fixed-step model sees
the data: resample an irregular series onto a regular epoch grid and
linearly interpolate the holes.

Everything is built from exact-arithmetic primitives so the operators
carry DuckDB oracles: grid points are BIGINT epoch seconds (never
engine-local timestamps), the observed sample per bucket is an arg-min
(a real row value, not a float aggregate), and the interpolation
expression has the identical IEEE shape on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def resample_interpolate(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    val_col: str = "value",
    id_col: str = "event_id",
    step_s: int = 21_600,
) -> DataFrame:
    """Resample an irregular per-key series onto a regular ``step_s``-
    second grid and linearly interpolate the gaps.

    Semantics per key:
    - bucket observed rows to ``floor(epoch/step)*step``; the bucket's
      sample is the value of its EARLIEST event (arg-min by ``id_col``
      — deterministic, exact, no float aggregation);
    - build the full grid from the key's first to last bucket;
    - grid points with no observation get the linear interpolation
      between the nearest observed buckets; points before the first /
      after the last observation clamp to the nearest one (with a
      whole-key grid both edges are observed, so the clamp only fires
      if callers pass a pre-sliced grid).

    Output: (key, epoch_s, value_interp rounded to 6, is_observed).

    Scale shape: one hash aggregate for the buckets, a per-key explode
    for the grid (rows = span/step per key — bounded by wall-clock
    span, not event count), one keyed left join, and FOUR window
    expressions that all share the single (key, epoch) exchange &
    sort — Spark plans one Window node, no extra shuffles. No driver
    state; keys are independent, so 1000 executors scale linearly.
    """
    step = int(step_s)
    epoch = F.unix_timestamp(F.col(ts_col))
    buckets = (
        df.select(
            F.col(key_col),
            (F.floor(epoch / step) * step).cast("long").alias("epoch_s"),
            F.col(val_col),
            F.col(id_col),
        )
        .groupBy(key_col, "epoch_s")
        .agg(F.min_by(val_col, id_col).alias("_v"))
    )
    grid = (
        buckets.groupBy(key_col)
        .agg(F.min("epoch_s").alias("_e0"), F.max("epoch_s").alias("_e1"))
        .select(
            key_col,
            F.explode(
                F.sequence(F.col("_e0"), F.col("_e1"), F.lit(step))
            ).alias("epoch_s"),
        )
    )
    j = grid.join(buckets, [key_col, "epoch_s"], "left")
    w = Window.partitionBy(key_col).orderBy("epoch_s")
    back = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    fwd = w.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    obs_e = F.when(F.col("_v").isNotNull(), F.col("epoch_s"))
    f = j.select(
        key_col,
        "epoch_s",
        "_v",
        F.last("_v", ignorenulls=True).over(back).alias("_pv"),
        F.last(obs_e, ignorenulls=True).over(back).alias("_pe"),
        F.first("_v", ignorenulls=True).over(fwd).alias("_nv"),
        F.first(obs_e, ignorenulls=True).over(fwd).alias("_ne"),
    )
    # identical expression shape to the SQL oracle: (e-pe)*1.0/(ne-pe)
    # then fused into pv + (nv-pv)*frac — bit-exact across engines
    frac = (F.col("epoch_s") - F.col("_pe")) * F.lit(1.0) / (
        F.col("_ne") - F.col("_pe")
    )
    interp = (
        F.when(F.col("_v").isNotNull(), F.col("_v"))
        .when(
            F.col("_pv").isNotNull() & F.col("_nv").isNotNull(),
            F.col("_pv") + (F.col("_nv") - F.col("_pv")) * frac,
        )
        .otherwise(F.coalesce(F.col("_pv"), F.col("_nv")))
    )
    return f.select(
        key_col,
        "epoch_s",
        F.round(interp, 6).alias("value_interp"),
        F.col("_v").isNotNull().alias("is_observed"),
    )


def rolling_zscore_anomalies(df: DataFrame, col: str, key: str,
                             order_col: str, n: int = 20,
                             z: float = 3.0) -> DataFrame:
    """Rolling z-score anomaly flags — the metric-monitoring pass a
    pipeline runs on per-key series before trusting a new snapshot:
    each row is scored against the mean/stddev of the n rows BEFORE it
    (current row excluded — self-inclusion bounds |z| at (n-1)/sqrt(n)
    and masks the very spike being hunted), and |z| > threshold flags
    it. Adds moving_avg, moving_std, zscore, is_anomaly; rows whose
    baseline holds fewer than 3 values (partition starts) or whose
    baseline is constant (std 0) report NULL z and no flag rather
    than dividing by zero.

    Exactness: the baseline's sum and sum-of-squares pin DECIMAL
    (inputs cast DECIMAL(18,6), squares DECIMAL(38,12)), so they are
    exact regardless of how an engine folds the frame; the closed-form
    mean/std/z then run in doubles from those exact sums, identical
    everywhere, rounded to 6 on emit. Scale shape: ONE exchange on the
    key, one sort — and the sliding sums are computed as CUMULATIVE
    decimal sums differenced through lag(cs, 1) - lag(cs, n+1), which
    is O(1) per row instead of the O(n)-per-row re-aggregation a
    bounded decimal frame costs (decimal frames don't get Spark's
    incremental frame processor). Exact-decimal subtraction makes the
    difference bit-identical to the direct framed sum, so the ORACLE
    keeps the plain framed rendering and the hashes still match.
    Long-partition headroom: the cumulative DECIMAL(38,12) square sum
    caps at ~10^26 per partition — the cap the framed form had per
    frame; at that magnitude narrow the input pin's scale."""

    wc = (
        Window.partitionBy(key)
        .orderBy(F.col(order_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wl = Window.partitionBy(key).orderBy(F.col(order_col))
    xd = F.col(col).cast("decimal(18,6)")
    cs = F.sum(xd).over(wc)
    css = F.sum((xd * xd).cast("decimal(38,12)")).over(wc)
    ccn = F.count(xd).over(wc)
    zero_s = F.lit(0).cast("decimal(28,6)")
    zero_ss = F.lit(0).cast("decimal(38,12)")
    cnt = (
        F.coalesce(F.lag(ccn, 1).over(wl), F.lit(0))
        - F.coalesce(F.lag(ccn, n + 1).over(wl), F.lit(0))
    )
    s = (
        F.coalesce(F.lag(cs, 1).over(wl), zero_s)
        - F.coalesce(F.lag(cs, n + 1).over(wl), zero_s)
    ).cast("double")
    ss = (
        F.coalesce(F.lag(css, 1).over(wl), zero_ss)
        - F.coalesce(F.lag(css, n + 1).over(wl), zero_ss)
    ).cast("double")
    # the differenced sums are non-null zeros on empty baselines, so
    # the divisions need explicit guards (the framed form's empty-sum
    # NULL used to absorb them; ANSI division by zero throws)
    mean = F.when(cnt > 0, s / cnt)
    var = F.when(cnt >= 2, (ss - s * s / cnt) / (cnt - 1))
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    zcol = F.when(
        (cnt >= 3) & (std > 0),
        F.round((F.col(col).cast("double") - mean) / std, 6),
    )
    return (
        df.withColumn("moving_avg", F.round(mean, 6))
        .withColumn(
            "moving_std", F.when(cnt >= 2, F.round(std, 6))
        )
        .withColumn("zscore", zcol)
        .withColumn(
            "is_anomaly",
            F.coalesce(F.abs(zcol) > F.lit(float(z)), F.lit(False)),
        )
    )


def funnel_steps(df: DataFrame, steps: list[str], user_col: str = "user_id",
                 ts_col: str = "ts", type_col: str = "event_type") -> DataFrame:
    """Ordered funnel analysis over an event stream: for each step in
    ``steps``, how many users performed it STRICTLY AFTER completing
    the previous step (first-touch semantics — each stage anchors at
    the user's earliest qualifying timestamp), plus the step-over-step
    conversion rate. The product-analytics read (view -> click ->
    purchase) that doubles as a pipeline-health one (ingest -> parse ->
    index).

    Extends the reference's filter/group-by surface
    (agentic_workflow_transformation.py:341-361) with multi-stage
    sequence semantics; no counterpart exists there.

    Shape: one filtered min-ts aggregate per step, each joined to the
    previous stage's (user, ts) frame on the user key — len(steps)
    keyed shuffles over per-step event subsets, never a global window
    or a sessionization sort. The per-step count frames are 1-row
    broadcasts assembled into the len(steps)-row report; no driver
    collect. Conversion is one double division of exact counts,
    rounded to 6; step 1 reports NULL (no prior stage)."""
    reached = (
        df.where(F.col(type_col) == steps[0])
        .groupBy(user_col)
        .agg(F.min(ts_col).alias("_t"))
    )
    counts = [reached.agg(F.count(F.lit(1)).cast("long").alias("_c0"))]
    for i, s in enumerate(steps[1:], start=1):
        reached = (
            df.where(F.col(type_col) == s)
            .join(reached.select(user_col, "_t"), user_col)
            .where(F.col(ts_col) > F.col("_t"))
            .groupBy(user_col)
            .agg(F.min(ts_col).alias("_t"))
        )
        counts.append(
            reached.agg(F.count(F.lit(1)).cast("long").alias(f"_c{i}"))
        )
    one = counts[0]
    for c in counts[1:]:
        one = one.crossJoin(F.broadcast(c))
    rows = []
    for i, s in enumerate(steps):
        if i == 0:
            conv = F.lit(None).cast("double")
        else:
            conv = F.when(
                F.col(f"_c{i-1}") > 0,
                F.round(
                    F.col(f"_c{i}").cast("double") / F.col(f"_c{i-1}"), 6
                ),
            )
        rows.append(
            one.select(
                F.lit(i + 1).alias("step"),
                F.lit(s).alias(type_col),
                F.col(f"_c{i}").alias("n_users"),
                conv.alias("conversion"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out
