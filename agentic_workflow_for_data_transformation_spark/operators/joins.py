"""Temporal join operators the reference lacks (SURVEY.md section 2.6
reserves the vocabulary): as-of join and range join, both built from
shuffle-aware DataFrame primitives.

As-of join uses the union + running-last trick instead of a pairwise
join: tag both sides, union them, and within each key take the most
recent right-side value at or before each left row via
``last(ignorenulls=True)`` over an ordered window. One shuffle on the
key, zero pair explosion — at 100 TB this is the only shape that
works (a ts-inequality join would be a near-cross-product per key).

Range join joins a fact against a small interval dimension with a
BETWEEN predicate; the dim is broadcast so the fact never shuffles —
Spark plans BroadcastNestedLoopJoin, which is O(n * |dim|) with |dim|
tiny and constant.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _ts_scalar(ts_type):
    """Map a temporal/numeric ordering type to (scalar_fn,
    per-natural-unit scale): exact integer micros for timestamps
    (natural unit = seconds), integer days for dates (unit = days),
    plain double for numerics (unit = the column's own units). Used
    for nearest-pick distances and tolerance bounds — never a bare
    cast('long'), which floors timestamps to seconds and NULLs dates.
    """

    if isinstance(ts_type, T.TimestampType):
        return F.unix_micros, 1_000_000
    if isinstance(ts_type, T.DateType):
        return F.unix_date, 1
    if isinstance(ts_type, T.TimestampNTZType):
        return (lambda c: F.unix_micros(c.cast("timestamp"))), 1_000_000
    return (lambda c: c.cast("double")), 1


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: Sequence[str] = (),
    direction: str = "backward",
    tolerance: float | None = None,
) -> DataFrame:
    """For every left row, attach the right row's columns with the
    greatest ``right_ts`` <= ``left_ts`` (``direction="backward"``, the
    default), the smallest ``right_ts`` >= ``left_ts``
    (``direction="forward"`` — the next-event lookup used for label
    attribution: 'first view after this purchase'), or whichever of
    the two is closer in absolute time (``direction="nearest"``, ties
    to the backward match) within the same ``on`` key; same-timestamp
    right rows match in every direction. Left rows with no match keep
    nulls.

    ``tolerance`` (pandas ``merge_asof`` parity) bounds the match
    distance: matches farther than the bound null out exactly like a
    missing match. Units follow the timestamp column's natural unit —
    SECONDS for timestamp columns, DAYS for date columns, the column's
    own units for numeric keys. Applied as a post-pick null-out (one
    scalar comparison per row), so the plan shape is unchanged.

    Output: all left columns, plus ``asof_ts`` (matched right
    timestamp) and each requested right column as ``asof_<name>``.
    All directions are the same union + one-shuffle running-fill
    plan — forward runs it over a descending order; nearest runs BOTH
    running fills over the single hash exchange (two sorts, no second
    shuffle) and picks per row.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"direction must be backward|forward|nearest: {direction!r}"
        )
    pass_cols = [c for c in left.columns if c not in (on, left_ts)]
    asof_cols = ["asof_ts", *[f"asof_{c}" for c in right_cols]]

    l = left.select(
        F.col(on),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.lit(None).cast(right.schema[right_ts].dataType).alias("asof_ts"),
        *[
            F.lit(None).cast(right.schema[c].dataType).alias(f"asof_{c}")
            for c in right_cols
        ],
        *pass_cols,
    )
    r = right.select(
        F.col(on),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.col(right_ts).alias("asof_ts"),
        *[F.col(c).alias(f"asof_{c}") for c in right_cols],
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in pass_cols],
    )
    # right rows sort before left rows at equal ts (_side 0 < 1), so a
    # same-ts right row is visible to the left row's running last();
    # forward mode reverses the ts order (running last over DESC ts =
    # nearest following row), keeping _side ascending for the tie rule.
    u = l.unionByName(r)
    num, scale = _ts_scalar(left.schema[left_ts].dataType)
    # The running fill carries ONE struct per direction, not one
    # last() per column: per-column fills could stitch asof_ts and
    # asof_<col> from DIFFERENT right rows when a payload column is
    # NULL on the matched row but non-null on a farther one (null
    # payload cells must stay null, exactly as a LATERAL one-row pick
    # returns them). The struct is non-null iff the row is a right
    # row, so last(ignorenulls=True) always picks every cell from the
    # single nearest right row.
    payload = F.when(
        F.col("_side") == 0, F.struct(*[F.col(c).alias(c) for c in asof_cols])
    )

    def _bounded(out: DataFrame) -> DataFrame:
        # merge_asof-style tolerance: null out matches farther than the
        # bound (post-pick scalar comparison; plan shape unchanged)
        if tolerance is None:
            return out
        keep = F.col("asof_ts").isNotNull() & (
            F.abs(num(F.col(left_ts)) - num(F.col("asof_ts")))
            <= F.lit(tolerance * scale)
        )
        return out.select(
            on,
            left_ts,
            *pass_cols,
            *[F.when(keep, F.col(c)).alias(c) for c in asof_cols],
        )

    if direction == "nearest":
        wb = (
            Window.partitionBy(on)
            .orderBy(F.col("_ts"), "_side")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        wf = (
            Window.partitionBy(on)
            .orderBy(F.col("_ts").desc(), "_side")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        filled = u.select(
            on,
            "_ts",
            "_side",
            F.last(payload, ignorenulls=True).over(wb).alias("_b"),
            F.last(payload, ignorenulls=True).over(wf).alias("_f"),
            *pass_cols,
        )
        # distances must not truncate sub-second parts (cast('long') on a
        # timestamp floors to seconds and can flip the tie rule) and must
        # not NULL out DATE keys (cast('long') on a date is NULL) —
        # _ts_scalar maps each temporal type to an exact integer scalar.
        d_back = num(F.col("_ts")) - num(F.col("_b.asof_ts"))
        d_fwd = num(F.col("_f.asof_ts")) - num(F.col("_ts"))
        use_back = F.col("_f").isNull() | (
            F.col("_b").isNotNull() & (d_back <= d_fwd)
        )
        picked = F.when(use_back, F.col("_b")).otherwise(F.col("_f"))
        return _bounded(
            filled.filter(F.col("_side") == 1).select(
                on,
                F.col("_ts").alias(left_ts),
                *pass_cols,
                *[picked[c].alias(c) for c in asof_cols],
            )
        )
    ts_order = F.col("_ts") if direction == "backward" else F.col("_ts").desc()
    w = (
        Window.partitionBy(on)
        .orderBy(ts_order, "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = u.select(
        on,
        "_ts",
        "_side",
        F.last(payload, ignorenulls=True).over(w).alias("_fill"),
        *pass_cols,
    )
    return _bounded(
        filled.filter(F.col("_side") == 1).select(
            on,
            F.col("_ts").alias(left_ts),
            *pass_cols,
            *[F.col("_fill")[c].alias(c) for c in asof_cols],
        )
    )


def range_join(fact: DataFrame, dim: DataFrame, value_col: str,
               lo_col: str = "lo", hi_col: str = "hi") -> DataFrame:
    """Join ``fact`` to every ``dim`` row whose [lo, hi] interval
    contains ``fact[value_col]`` (inclusive). The dim is broadcast —
    the fact side streams through without shuffling."""
    return fact.join(
        F.broadcast(dim),
        (F.col(value_col) >= F.col(lo_col)) & (F.col(value_col) <= F.col(hi_col)),
    )


def salted_join(fact: DataFrame, dim: DataFrame, on: str,
                how: str = "inner", salt: int = 8,
                salt_source: str | None = None) -> DataFrame:
    """Manually salted equi-join for skewed keys: the fact side gets a
    deterministic salt in [0, salt), the dim side is replicated once
    per salt value, and the join runs on (key, salt) — splitting each
    hot key's rows across ``salt`` reducers instead of one.

    AQE's skew-join splitting (enabled in session.py) handles most
    skew automatically; this is the explicit fallback for the cases it
    can't — skew inside aggregation-after-join pipelines where the
    post-join partitioning must stay salted, engines/configs without
    AQE, or deliberate layout control. The salt derives from a hash of
    the fact row's other columns (or ``salt_source``), never lands in
    the output, and cannot change results for inner/left joins: every
    fact row still meets every matching dim row exactly once because
    the dim side carries ALL salt values. Right/full outer joins are
    REJECTED — an unmatched dim row exists once per salt replica, so
    the null-extended side would emit ``salt`` duplicate rows.
    Cost: dim side inflates x salt — keep it for fact-x-dim shapes
    where the dim is small but past the broadcast threshold."""
    if how not in ("inner", "left", "leftouter", "left_outer"):
        raise ValueError(
            f"salted_join supports how='inner'/'left' only, got {how!r}: "
            "dim-side salt replication duplicates unmatched dim rows "
            "under right/full outer semantics"
        )
    src = F.col(salt_source) if salt_source else F.concat_ws(
        "|", *[F.col(c) for c in fact.columns]
    )
    f = fact.withColumn("_salt", F.pmod(F.xxhash64(src), F.lit(salt)).cast("int"))
    d = dim.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    ).withColumn("_salt", F.col("_salt").cast("int"))
    return f.join(d, [on, "_salt"], how).drop("_salt")


def interval_containment_join(
    events: DataFrame,
    boundaries: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
) -> DataFrame:
    """Assign each event to the [boundary_i, boundary_i+1) period
    containing it — a big-to-big interval containment join WITHOUT a
    non-equi join. ``boundaries`` carries (key_col, period_start) rows
    (e.g. the signup events); the last period per key is closed at a
    DATA-DERIVED, PER-KEY horizon (that key's max event ts + 1 bucket),
    never a constant, so events later than any boundary still land in
    the final period. The horizon is per key rather than global so a
    DORMANT key (last boundary early in a multi-year dataset span, no
    recent events) does not explode into one bucket row per remaining
    day of the whole span — the final period of each key spans only
    that key's own active range, which bounds the bucket fanout by the
    key's activity, not the dataset's. Because period_end only ever
    bounds the same key's events, per-key and global horizons produce
    identical join output.

    Physical plan: the bucketed range-join decomposition, TWO-TIER so
    long periods cannot explode either — periods spanning at most
    ``short_max_days`` explode into DAY buckets, longer ones into
    MONTH buckets; the fact side computes both units once, each tier
    is a plain (key, bucket) HASH join followed by the exact
    containment filter, and the tiers union (a period lives in exactly
    one tier, so no event can match twice). Bucket fanout is therefore
    bounded by min(period_days, ~period_months) per period: a
    three-year interior period costs ~37 month rows, not ~1100 day
    rows. At 100 TB, tune ``short_max_days`` to the typical interval
    length."""
    key_horizon = events.groupBy(key_col).agg(
        F.timestamp_add("DAY", F.lit(1), F.max(ts_col)).alias("_horizon")
    )
    w = Window.partitionBy(key_col).orderBy("period_start")
    periods = (
        boundaries.select(key_col, "period_start")
        .distinct()
        .join(key_horizon, key_col, "inner")
        .select(
            key_col,
            "period_start",
            # clamp: a boundary AFTER the key's last event (or any
            # out-of-range boundary) would hand F.sequence an
            # end < start — greatest() degrades it to an empty period
            # (one bucket row, dropped by the containment filter)
            # instead of a runtime "Illegal sequence boundaries" error
            F.greatest(
                F.coalesce(
                    F.lead("period_start").over(w), F.col("_horizon")
                ),
                F.col("period_start"),
            ).alias("period_end"),
        )
    )
    # the periods frame is small (|distinct boundaries| rows) but its
    # pipeline includes a full-fact aggregation (the per-key horizon);
    # both tier branches reference it, so cut the lineage once instead
    # of computing the horizon aggregate twice
    periods = periods.localCheckpoint(eager=False)
    span_days = F.datediff(F.to_date("period_end"), F.to_date("period_start"))
    short_max_days = 32

    def tier(pds: DataFrame, bucket_of, interval: str) -> DataFrame:
        return pds.select(
            key_col,
            "period_start",
            "period_end",
            F.explode(
                F.sequence(
                    bucket_of(F.to_date("period_start")),
                    # a period ending exactly on a bucket boundary
                    # contributes no events in its end bucket, but the
                    # extra bucket row is harmless (the containment
                    # filter drops strays)
                    bucket_of(F.to_date("period_end")),
                    F.expr(f"interval 1 {interval}"),
                )
            ).alias("_bucket"),
        )

    month_of = lambda c: F.trunc(c, "month")  # noqa: E731
    buckets_day = tier(
        periods.filter(span_days <= short_max_days), lambda c: c, "day"
    )
    buckets_month = tier(
        periods.filter(span_days > short_max_days), month_of, "month"
    )
    evd = events.select(
        id_col,
        key_col,
        ts_col,
        F.to_date(ts_col).alias("_bucket_day"),
        F.trunc(F.to_date(ts_col), "month").alias("_bucket_month"),
    )
    contained = (F.col(ts_col) >= F.col("period_start")) & (
        F.col(ts_col) < F.col("period_end")
    )
    out_cols = [id_col, key_col, "period_start"]
    match_day = (
        evd.withColumnRenamed("_bucket_day", "_bucket")
        .join(buckets_day, [key_col, "_bucket"])
        .filter(contained)
        .select(*out_cols)
    )
    match_month = (
        evd.withColumnRenamed("_bucket_month", "_bucket")
        .join(buckets_month, [key_col, "_bucket"])
        .filter(contained)
        .select(*out_cols)
    )
    return match_day.unionByName(match_month)


def interval_overlap_join(
    left: DataFrame,
    right: DataFrame,
    key_col: str = "user_id",
    start_col: str = "s",
    end_col: str = "e",
    left_id: str = "a_id",
    right_id: str = "b_id",
    anti_reflexive: bool = False,
    short_max_days: int = 32,
) -> DataFrame:
    """Big-to-big INTERVAL x INTERVAL overlap join per key, without a
    non-equi join: emit (key, left_id, right_id) for same-key pairs
    whose half-open intervals overlap (l.start < r.end AND
    r.start < l.end). The interval-interval sibling of
    ``interval_containment_join`` (point-in-interval); use cases:
    concurrent-session detection, double-booking, shipment overlap,
    SCD2-version x activity-window reconciliation. With
    ``anti_reflexive`` (self-join: pass the same frame twice under
    different id aliases), only ``left_id < right_id`` pairs emit.

    Physical plan: both sides explode into calendar buckets and meet in
    plain (key, bucket) HASH joins; the exact overlap predicate then
    filters, and duplicates from multi-bucket pairs collapse in one
    distinct. Two-tier so long intervals cannot explode: spans up to
    ``short_max_days`` use DAY buckets, longer spans MONTH buckets.
    Overlapping intervals of different tiers still meet because tier
    pairs are routed to the bucket unit both sides can afford:

      1. short-left x short-right  -> day buckets
      2. any-left   x long-right   -> month buckets
      3. long-left  x short-right  -> month buckets

    The three classes partition the pair space ((short,short) /
    (*,long) / (long,short)), so no pair is produced by two joins and
    the union needs no cross-join-class dedup — only the per-class
    distinct over bucket multiplicity. Fanout per interval is bounded
    by min(span_days, ~span_months + 1); every join is an equi-join on
    fixed-width (key, date) rows.
    """
    overlap = (F.col("_ls") < F.col("_re")) & (F.col("_rs") < F.col("_le"))
    if anti_reflexive:
        overlap = overlap & (F.col(left_id) < F.col(right_id))

    def prep(df: DataFrame, id_in: str, id_out: str, s: str, e: str) -> DataFrame:
        base = df.select(
            F.col(key_col),
            F.col(id_in).alias(id_out),
            F.col(start_col).alias(s),
            F.col(end_col).alias(e),
        )
        # an inverted interval (end < start) is vacuous under the
        # half-open overlap predicate AND would hand F.sequence an
        # end < start — drop it instead of crashing (same degrade-not-
        # crash rule as interval_containment_join's horizon clamp)
        return base.filter(F.col(e) >= F.col(s)).withColumn(
            "_span", F.datediff(F.to_date(e), F.to_date(s))
        )

    def explode_buckets(df: DataFrame, s: str, e: str, unit: str) -> DataFrame:
        trunc = (lambda c: F.to_date(c)) if unit == "day" else (
            lambda c: F.trunc(F.to_date(c), "month")
        )
        return df.withColumn(
            "_bucket",
            F.explode(
                F.sequence(
                    trunc(F.col(s)), trunc(F.col(e)), F.expr(f"interval 1 {unit}")
                )
            ),
        ).drop("_span")

    l = prep(left, left_id, left_id, "_ls", "_le")
    r = prep(right, right_id, right_id, "_rs", "_re")
    l_short, l_long = l.filter(F.col("_span") <= short_max_days), l.filter(
        F.col("_span") > short_max_days
    )
    r_short, r_long = r.filter(F.col("_span") <= short_max_days), r.filter(
        F.col("_span") > short_max_days
    )
    classes = [
        (explode_buckets(l_short, "_ls", "_le", "day"),
         explode_buckets(r_short, "_rs", "_re", "day")),
        (explode_buckets(l, "_ls", "_le", "month"),
         explode_buckets(r_long, "_rs", "_re", "month")),
        (explode_buckets(l_long, "_ls", "_le", "month"),
         explode_buckets(r_short, "_rs", "_re", "month")),
    ]
    out = None
    for lb, rb in classes:
        m = (
            lb.join(rb, [key_col, "_bucket"])
            .filter(overlap)
            .select(key_col, left_id, right_id)
            .distinct()
        )
        out = m if out is None else out.unionByName(m)
    return out


def merge_upsert(base: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """Batch MERGE / upsert: updates and base share a schema; a key
    present in both takes the UPDATE row, a key only in updates is
    INSERTED, a key only in base is KEPT. Output is the merged table
    plus a ``merge_action`` column ('updated' / 'inserted' / 'kept').

    This is the lakehouse MERGE INTO re-expressed as one relational
    op: a single full-outer join on the key, then per-column
    coalesce(update, base). No table format required — the result is
    a plain DataFrame the caller writes wherever it wants.

    Scale shape: ONE shuffle (both sides hash-partition on the key;
    with a bucketed base table the base side's exchange disappears,
    same layout trick as the dedup digest archive). Updates are
    usually a small fraction of base — AQE broadcastable — but the
    full-outer join is correct at any ratio; no driver state.
    """
    cols = base.columns
    if updates.columns != cols:
        raise ValueError(
            f"merge_upsert needs matching schemas; base {cols} vs "
            f"updates {updates.columns}"
        )
    b = base.select(
        F.col(key).alias("_bk"),
        F.lit(1).alias("_b"),
        *[F.col(c).alias(f"_b_{c}") for c in cols if c != key],
    )
    u = updates.select(
        F.col(key).alias("_uk"),
        F.lit(1).alias("_u"),
        *[F.col(c).alias(f"_u_{c}") for c in cols if c != key],
    )
    j = b.join(u, b["_bk"] == u["_uk"], "full_outer")
    action = (
        F.when(F.col("_b").isNull(), F.lit("inserted"))
        .when(F.col("_u").isNull(), F.lit("kept"))
        .otherwise(F.lit("updated"))
    )
    return j.select(
        F.coalesce("_uk", "_bk").alias(key),
        *[
            F.coalesce(f"_u_{c}", f"_b_{c}").alias(c)
            for c in cols
            if c != key
        ],
        action.alias("merge_action"),
    )
