"""Structured Streaming over the events table (SURVEY.md section 2.6:
the reference has no streaming at all — this is north-star surface).

The same logical plan as the batch time-bucket aggregate
(x_time_bucket_agg, registry/relational.py) runs incrementally:
watermark bounds state, tumbling/session windows aggregate, and the
memory sink + ``processAllAvailable`` lets a finite parquet directory
drive the query to completion synchronously in tests. In production the source becomes
Kafka and the sink a Delta/parquet table via ``foreachBatch`` —
everything between them is unchanged.

Scale design: state size is (watermark horizon / window) x
cardinality(event_type); the watermark is what makes 100 TB/day of
events processable — late data beyond 10 minutes is dropped instead of
kept as unbounded state.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# The LOGICAL events schema after normalization (``ts`` is always
# TimestampType downstream of the reader). The on-disk encoding of
# ``ts`` varies across testdata generations and is NOT assumed here —
# read_events_stream takes the physical schema from a batch read.
EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming source over the events parquet. File-stream sources
    need an explicit schema (no inference pass), and the on-disk ``ts``
    encoding has varied across testdata generations (int64 nanos,
    timestamp[us]/NTZ, plain timestamp) — so the schema is taken from a
    batch read of the same path (sources.io.read_parquet) rather than
    hard-coded, and the same dtype-adaptive normalization as the batch
    reader (sources.io.normalize_event_ts) maps ``ts`` to TimestampType. In
    production the source becomes Kafka with a registry-backed schema;
    the normalization stays."""
    from ..sources.io import normalize_event_ts, read_parquet

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = str(Path(sf_dir) / "events.parquet")
    on_disk_schema = read_parquet(spark, path).schema
    # file-stream sources require a directory; glob-filter to the one table
    stream = (
        spark.readStream.schema(on_disk_schema)
        .option("pathGlobFilter", "events.parquet")
        .parquet(str(Path(sf_dir)))
    )
    return normalize_event_ts(stream)


def windowed_event_aggregate(
    events: DataFrame,
    window: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Tumbling-window count/sum per event_type with a watermark: the
    streaming twin of the batch x_time_bucket_agg query."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("w_start"), "event_type", "n_events", "sum_value")
    )


def sliding_window_aggregate(
    events: DataFrame,
    window: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Sliding (overlapping) windows: each event contributes to
    window/slide consecutive windows — the hopping-window smoother for
    rate dashboards. State is (window/slide)x the tumbling case but
    still watermark-bounded; the same plan runs in batch (Spark's
    window() with a slide is batch-legal), which is what the exact
    oracle checks (x_sliding_window_agg)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
        .select(F.col("w.start").alias("w_start"), "event_type", "n_events", "sum_value")
    )


def stream_static_enrich(events: DataFrame, dim: DataFrame,
                         on: str = "event_type", how: str = "left") -> DataFrame:
    """Stream-static join: enrich each event with a dimension row. The
    static side broadcasts (re-resolved per micro-batch, so slowly
    changing dims pick up updates); no streaming state at all — the
    100 TB-friendly way to tag events, vs. a stateful stream-stream
    join."""
    return events.join(F.broadcast(dim), on=on, how=how)


def sessionized_event_aggregate(
    events: DataFrame,
    gap: str = "5 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Session windows per user: a session closes after ``gap`` of
    inactivity. Stateful with dynamic windows — the built-in
    session_window keeps state per (user, open session) only."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def streaming_dedup(events: DataFrame, watermark: str = "10 minutes",
                    keys: list[str] | None = None) -> DataFrame:
    """Streaming exact dedup: emit each key's first arrival, drop
    replays within the watermark horizon. State holds one entry per
    key seen in the horizon — bounded by watermark x arrival rate, not
    by stream length, which is what makes exactly-once-per-key dedup
    of an at-least-once source (Kafka redeliveries, retried producers)
    feasible at 100 TB/day."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def sessionized_events(events: DataFrame, gap_seconds: int = 1800,
                       key_col: str = "user_id", ts_col: str = "ts",
                       id_col: str = "event_id") -> DataFrame:
    """Event-level sessionization: every input row tagged with its
    ``session_id`` (running sum of gap-break flags per key). The
    composable core shared by the session-summary aggregate and
    session-scoped analytics (per-session funnels, conversion, value
    totals). Two window passes over ONE shuffle+sort on (key, ts)."""
    from pyspark.sql import Window

    order = [F.col(ts_col), F.col(id_col)]  # total order under ts ties
    w = Window.partitionBy(key_col).orderBy(*order)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # through TIMESTAMP: Spark casts no TIMESTAMP_NTZ to long (as in
    # sources.io.normalize_event_ts; the session pins UTC)
    epoch_s = F.col(ts_col).cast("timestamp").cast("long")
    prev_ts = F.lag(epoch_s).over(w)
    brk = F.when(prev_ts.isNull() | ((epoch_s - prev_ts) > gap_seconds), 1).otherwise(0)
    return (
        events.withColumn("_brk", brk)
        .withColumn("session_id", F.sum("_brk").over(run))
        .drop("_brk")
    )


def sessionize_batch(events: DataFrame, gap_seconds: int = 1800,
                     key_col: str = "user_id", ts_col: str = "ts",
                     id_col: str = "event_id") -> DataFrame:
    """Batch sessionization: the offline twin of session_window.
    A session breaks when the gap to the previous event (per key)
    exceeds ``gap_seconds``; session ids are running sums of break
    flags (``sessionized_events``), then one summary row per session.
    Exact-oracle expressible in any engine with window functions.
    Column names are parameterized so the spec compiler can reach this
    from NL ('sessionize by user_id with 30 minute gap')."""
    return (
        sessionized_events(events, gap_seconds, key_col, ts_col, id_col)
        .groupBy(key_col, "session_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
        )
    )


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running event count and value total, emitted as an update whenever
    the user appears in a micro-batch.

    This is the escape hatch for stateful logic the built-in windowed
    aggregates can't express (arbitrary per-key accumulators, custom
    eviction). State is one (long, double) pair per user — bounded by
    user cardinality, not event volume; at 100 TB/day the state store
    shards by the groupBy key across executors, and a production run
    would add a timeout (GroupStateTimeout.ProcessingTimeTimeout) to
    expire idle users instead of NoTimeout."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return events.select("user_id", "value").groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, total double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def run_stream_to_memory(agg: DataFrame, name: str, mode: str = "append"):
    """Run a (finite) streaming query to completion into an in-memory
    table; returns the StreamingQuery (stopped). Results are then
    ``spark.table(name)``."""
    q = (
        agg.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


def stream_stream_purchase_attribution(
    events: DataFrame,
    window: str = "10 minutes",
    watermark: str = "20 minutes",
) -> DataFrame:
    """Stream-stream inner join with event-time bounds: attribute each
    purchase to every click by the same user within the preceding
    ``window``. Both sides carry watermarks and the join condition
    bounds click time to [purchase - window, purchase], so Spark can
    expire click state once the watermark passes the bound — without
    the time constraint a stream-stream join would buffer both streams
    forever. State is (watermark + window) x click rate, not stream
    length: the only shape that survives 100 TB/day of events.

    The batch twin (x_stream_join_attribution) runs the identical join
    on the static table with an exact range-join oracle."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return purchases.join(
        clicks,
        F.expr(
            f"p_user = c_user AND click_ts >= purchase_ts - interval {window} "
            "AND click_ts <= purchase_ts"
        ),
    ).select("purchase_id", "click_id", F.col("p_user").alias("user_id"),
             "purchase_ts", "click_ts", "value")


def stateful_latest_per_key(events: DataFrame) -> DataFrame:
    """Streaming CDC compaction: the incremental twin of the batch
    x_upsert_latest query — per (user_id, event_type), keep the row
    with the greatest (ts, event_id) version seen so far and emit it
    whenever the key appears in a micro-batch.

    This is the materialized-view shape for CDC ingestion: state is one
    (version, value) per live key — bounded by key cardinality, not
    stream length — and the (ts, event_id) total order makes the fold
    order-insensitive, so replays and out-of-order delivery converge to
    the same answer as the batch window query. Versions compare as
    epoch-microsecond longs (exact integers, no float drift)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        ts_us, eid, val = state.get if state.exists else (-1, -1, None)
        for pdf in pdfs:
            # normalize to ns explicitly: pandas/pyarrow may surface
            # timestamps as datetime64[us], where a bare int64 view
            # would be 1000x off the ns assumption
            for t, e, v in zip(
                pdf["ts"].astype("datetime64[ns]").astype("int64") // 1000,  # ns -> us
                pdf["event_id"], pdf["value"],
            ):
                if (int(t), int(e)) > (ts_us, eid):
                    ts_us, eid, val = int(t), int(e), float(v)
        state.update((ts_us, eid, val))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "event_type": [key[1]],
                "last_value": [val],
                "last_ts_us": [ts_us],
                "last_event_id": [eid],
            }
        )

    return (
        events.select("user_id", "event_type", "ts", "event_id", "value")
        .groupBy("user_id", "event_type")
        .applyInPandasWithState(
            update,
            outputStructType=(
                "user_id long, event_type string, last_value double, "
                "last_ts_us long, last_event_id long"
            ),
            stateStructType="ts_us long, eid long, val double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stateful_topk_values(events: DataFrame, k: int = 3) -> DataFrame:
    """Per-user top-k value tracker on the ``transformWithStateInPandas``
    API (the arbitrary-stateful-processing successor to
    ``applyInPandasWithState``: typed state handles, per-state TTL,
    timers). Keeps the k largest values seen per user in a ValueState
    and emits the refreshed top-k row whenever the user appears in a
    micro-batch — the streaming form of a per-key leaderboard /
    reservoir of extremes.

    State is exactly k doubles per user — bounded by user cardinality
    times k, independent of event volume; the state store shards by
    the grouping key across executors. A production deployment would
    pass ``ttlDurationMs`` on the state handle to expire idle users —
    TTL is a transformWithState capability the old GroupState API
    lacked (its timeouts were per-function, not per-state).

    Runtime dependency: the transformWithState Python worker talks to
    the JVM state server over protobuf, so executing the returned
    stream requires the ``google.protobuf`` package (absent in this
    container — the parity test env-gates on it; the plan construction
    below needs nothing extra)."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class TopK(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._top = handle.getValueState("topk", "vs array<double>")

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            cur = list(self._top.get()[0]) if self._top.exists() else []
            for pdf in rows:
                cur.extend(float(v) for v in pdf["value"])
                cur = sorted(cur, reverse=True)[:k]
            self._top.update(([float(v) for v in cur],))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_top": [len(cur)],
                    "top_values": [cur],
                }
            )

        def close(self) -> None:
            pass

    return (
        events.select("user_id", "value")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=TopK(),
            outputStructType="user_id long, n_top int, top_values array<double>",
            outputMode="Update",
            timeMode="None",
        )
    )


def stateful_anomaly_monitor(events: DataFrame, n: int = 20,
                             z: float = 3.0, key_col: str = "user_id",
                             order_col: str = "event_id",
                             value_col: str = "value") -> DataFrame:
    """Streaming twin of timeseries.rolling_zscore_anomalies: per-key
    rolling z-score flags via ``applyInPandasWithState``, keeping ONLY
    the last n values per key in state (a bounded ring, not history).
    Each arriving row is scored against the n values BEFORE it — the
    same excluded-current-row baseline as the batch operator — then
    pushed into the ring.

    Exactness vs the batch plan: values quantize to 6 decimals with
    HALF_UP (the engine's double->DECIMAL(18,6) cast) and the baseline
    sum / sum-of-squares run in python's exact ``decimal`` arithmetic
    before ONE float conversion — the identical correctly-rounded
    doubles the batch path's DECIMAL sums cast to — so a stream that
    delivers rows in order_col order (rows are sorted per batch, and
    the parity test feeds one availableNow batch) emits bit-identical
    mean/std/z to the batch operator. State is n doubles per key —
    bounded by key cardinality, never event volume; production adds a
    ProcessingTimeTimeout to expire idle keys."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    zt = float(z)

    def update(key, pdfs, state: GroupState):
        import math
        from decimal import ROUND_HALF_UP, Decimal

        import pandas as pd

        q6 = Decimal("0.000001")

        def quant(v: float) -> float:
            # double -> DECIMAL(18,6) -> double round trip: a <=6-dp
            # decimal is repr-exact in float64, so storing the float
            # in state loses nothing
            return float(
                Decimal(repr(float(v))).quantize(q6, rounding=ROUND_HALF_UP)
            )

        r6 = quant  # emit rounding: Spark round() is HALF_UP, python
        # round() is half-even — same quantize pins the midpoints

        ring: list = list(state.get[0]) if state.exists else []
        out: dict = {
            key_col: [], order_col: [], value_col: [],
            "moving_avg": [], "moving_std": [], "zscore": [],
            "is_anomaly": [],
        }
        for pdf in pdfs:
            for r in pdf.sort_values(order_col).itertuples(index=False):
                x = getattr(r, value_col)
                vals = [Decimal(repr(v)) for v in ring if v is not None]
                cnt = len(vals)
                mean = std = zval = None
                if cnt > 0:
                    s = float(sum(vals))
                    ss = float(sum(v * v for v in vals))
                    mean = r6(s / cnt)
                    if cnt >= 2:
                        var = (ss - s * s / cnt) / (cnt - 1)
                        std_raw = math.sqrt(max(var, 0.0))
                        std = r6(std_raw)
                        if cnt >= 3 and std_raw > 0:
                            zval = r6(
                                (float(x) - s / cnt) / std_raw
                            )
                out[key_col].append(getattr(r, key_col))
                out[order_col].append(getattr(r, order_col))
                out[value_col].append(x)
                out["moving_avg"].append(mean)
                out["moving_std"].append(std)
                out["zscore"].append(zval)
                out["is_anomaly"].append(
                    bool(zval is not None and abs(zval) > zt)
                )
                ring.append(None if x is None else quant(x))
                if len(ring) > n:
                    ring.pop(0)
        state.update((ring,))
        yield pd.DataFrame(out)

    return (
        events.select(key_col, order_col, value_col)
        .groupBy(key_col)
        .applyInPandasWithState(
            update,
            outputStructType=(
                f"{key_col} long, {order_col} long, {value_col} double, "
                "moving_avg double, moving_std double, zscore double, "
                "is_anomaly boolean"
            ),
            stateStructType="ring array<double>",
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stateful_funnel_monitor(events: DataFrame,
                            steps: tuple = ("view", "click", "purchase")
                            ) -> DataFrame:
    """Streaming funnel tracker: the incremental twin of the batch
    timeseries.funnel_steps — per user, the first-touch timestamp of
    each funnel stage under strict-after semantics (stage i+1 anchors
    at the earliest qualifying event AFTER stage i's anchor), emitted
    as (user, stage reached, per-stage anchor ts) whenever the user
    appears in a micro-batch. A live conversion dashboard aggregates
    the latest row per user; the batch parity test folds exactly that
    aggregate into funnel_steps' per-step counts.

    State is len(steps) epoch-microsecond longs per user — bounded by
    user cardinality, never stream length. Events inside a batch are
    sorted by (ts, event_id) before the fold, so intra-batch disorder
    converges; ACROSS batches the fold assumes broadly ts-ordered
    delivery (an earlier-stage event arriving after a later batch
    already anchored downstream stages will not re-anchor them) — the
    same ordered-replay contract as stateful_anomaly_monitor."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    k = len(steps)
    step_index = {s: i for i, s in enumerate(steps)}

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        ts = list(state.get) if state.exists else [-1] * k
        pdf = pd.concat(list(pdfs), ignore_index=True)
        pdf = pdf[pdf["event_type"].isin(list(steps))]
        pdf = pdf.sort_values(["ts", "event_id"])
        for t, et in zip(
            pdf["ts"].astype("datetime64[ns]").astype("int64") // 1000,
            pdf["event_type"],
        ):
            i = step_index[et]
            if i == 0:
                if ts[0] < 0:
                    ts[0] = int(t)
            elif ts[i] < 0 and ts[i - 1] >= 0 and int(t) > ts[i - 1]:
                ts[i] = int(t)
        state.update(tuple(ts))
        stage = 0
        for v in ts:
            if v < 0:
                break
            stage += 1
        out = {"user_id": [key[0]], "stage": [stage]}
        for i in range(k):
            out[f"t{i + 1}_us"] = [ts[i]]
        yield pd.DataFrame(out)

    out_schema = "user_id long, stage integer, " + ", ".join(
        f"t{i + 1}_us long" for i in range(k)
    )
    state_schema = ", ".join(f"t{i} long" for i in range(k))
    return (
        events.select("user_id", "event_type", "ts", "event_id")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
