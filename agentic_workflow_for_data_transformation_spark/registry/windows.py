"""Window operators (operators/windows.py): gaps and islands, and
time-spine interpolation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..benchqueries import _t, register
from ..operators import windows


@register(
    "x_time_interpolate",
    "WITH b AS (SELECT time_bucket(INTERVAL '5 minutes', ts) AS wb, event_type, "
    " CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v FROM events GROUP BY 1, 2), "
    "bounds AS (SELECT min(wb) AS lo, max(wb) AS hi FROM b), "
    "types AS (SELECT DISTINCT event_type FROM events), "
    "spine AS (SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 5 minute)) AS wb "
    " FROM bounds, types), "
    "j AS (SELECT s.event_type, s.wb, b.v FROM spine s "
    " LEFT JOIN b ON s.wb = b.wb AND s.event_type = b.event_type), "
    "w AS (SELECT event_type, wb, v, "
    " last_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY wb "
    "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv, "
    " last_value(CASE WHEN v IS NOT NULL THEN CAST(epoch(wb) AS BIGINT) END IGNORE NULLS) "
    "  OVER (PARTITION BY event_type ORDER BY wb "
    "  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pt, "
    " first_value(v IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY wb "
    "  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv, "
    " first_value(CASE WHEN v IS NOT NULL THEN CAST(epoch(wb) AS BIGINT) END IGNORE NULLS) "
    "  OVER (PARTITION BY event_type ORDER BY wb "
    "  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nt "
    " FROM j) "
    "SELECT event_type, wb AS w_start, round(v, 6) AS observed, "
    "round(CASE WHEN v IS NOT NULL THEN v "
    " WHEN pv IS NOT NULL AND nv IS NOT NULL "
    " THEN pv + (nv - pv) * ((CAST(epoch(wb) AS BIGINT) - pt) * 1.0 / (nt - pt)) "
    " END, 6) AS filled FROM w",
)
def x_time_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled resampling with LINEAR INTERPOLATION: empty 5-minute
    buckets get the time-weighted value between nearest observed
    neighbors (leading/trailing gaps stay NULL) — the resample for
    rate/sensor metrics where an empty bucket means "no sample", not
    zero (x_time_spine_fill's zero-fill is the counting sibling). The
    bucket metric sums as exact decimal so both engines interpolate
    from bit-identical inputs; one exchange+sort serves both window
    passes (windows.interpolate_gaps)."""
    ev = _t(spark, sf_dir, "events")
    b = (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("v")
        )
        .select(F.col("w.start").alias("wb"), "event_type", "v")
    )
    bounds = b.agg(F.min("wb").alias("lo"), F.max("wb").alias("hi"))
    types = ev.select("event_type").distinct()
    spine = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 5 MINUTES"))).alias("wb"),
    )
    j = spine.join(b, ["wb", "event_type"], "left")
    out = windows.interpolate_gaps(j, "event_type", "wb", "v", out_col="filled")
    return out.select(
        "event_type",
        F.col("wb").alias("w_start"),
        F.round(F.col("v"), 6).alias("observed"),
        "filled",
    )


@register(
    "x_gaps_islands",
    "WITH k AS (SELECT DISTINCT l_orderkey AS k FROM lineitem), "
    "s AS (SELECT k, row_number() OVER (ORDER BY k) AS rn FROM k "
    " WHERE NOT EXISTS (SELECT 1 FROM k p WHERE p.k = k.k - 1)), "
    "e AS (SELECT k, row_number() OVER (ORDER BY k) AS rn FROM k "
    " WHERE NOT EXISTS (SELECT 1 FROM k n WHERE n.k = k.k + 1)) "
    "SELECT s.k AS island_start, e.k AS island_end, "
    "e.k - s.k + 1 AS n_keys FROM s JOIN e USING (rn)",
)
def x_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands over the set of order keys that have lines:
    contiguous runs become (start, end, n_keys) rows. The classic
    row_number-difference formulation needs a GLOBAL sort of all keys;
    this one finds island boundaries with two shuffle-local anti-joins
    (k-1 absent -> start, k+1 absent -> end) and pairs i-th start with
    i-th end via one union-tagged two-phase rank
    (operators.windows.two_phase_row_number with partition_by=[side]):
    the in-bucket rank AND the bucket-offset cumulative are both
    PARTITIONED windows, so even a pathological every-other-key input
    (|islands| ~ |keys|/2) never funnels anything through one
    partition — no unpartitioned ordered step exists in the plan."""
    li = _t(spark, sf_dir, "lineitem")
    keys = li.select(F.col("l_orderkey").alias("k")).distinct()
    shifted_up = keys.select((F.col("k") + 1).alias("k"))
    shifted_dn = keys.select((F.col("k") - 1).alias("k"))
    starts = keys.join(shifted_up, "k", "left_anti")  # k-1 not present
    ends = keys.join(shifted_dn, "k", "left_anti")    # k+1 not present
    bounds = starts.select("k", F.lit("s").alias("side")).unionByName(
        ends.select("k", F.lit("e").alias("side"))
    )
    # the boundary set is tiny (2 x |islands| rows) but its subtree is
    # referenced four times downstream (bucket counts + offsets join,
    # then the s/e filter branches) — without a cut, Catalyst expands
    # the distinct+anti-join pipeline once per reference (12 scans of
    # lineitem). A lazy localCheckpoint materializes it once on first
    # use; at 100 TB this is exactly where you'd checkpoint anyway.
    bounds = bounds.localCheckpoint(eager=False)
    ranked = windows.two_phase_row_number(bounds, "k", partition_by=["side"])
    s = ranked.filter(F.col("side") == "s").select(
        F.col("k").alias("island_start"), "rn"
    )
    e = ranked.filter(F.col("side") == "e").select(
        F.col("k").alias("island_end"), "rn"
    )
    return s.join(e, "rn").select(
        "island_start",
        "island_end",
        (F.col("island_end") - F.col("island_start") + 1).alias("n_keys"),
    )
