"""Structured Streaming extension surface (SURVEY §2.8).

The reference is strictly batch — its "streams" are gRPC transport channels
over table snapshots (bigquery.go:138, SURVEY §1.4).  This module is the
extension the driver's north star asks for: event-time windowed aggregation
with watermarked late-data handling, and a custom stateful operator via
``applyInPandasWithState``.

Batch/stream parity: :func:`hourly_counts` over a stream (availableNow)
must equal the batch q21-style aggregate — asserted in
tests/test_streaming.py.

API note: Spark 4's newer arbitrary-state surface
(``transformWithStateInPandas`` — ValueState/MapState/timers) requires the
``google.protobuf`` wheel for its driver-side state server, which this
container does not ship (verified: the streaming runner crashes on import).
The custom stateful operators here therefore use ``applyInPandasWithState``,
which is wheel-free; porting a processor across the two APIs is mechanical
(the state objects map 1:1), so a deployment with protobuf available can
swap without touching operator logic.
"""

from __future__ import annotations

import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigquack_spark.sources.parquet import _read_parquet, table_path
from bigquack_spark.streaming.sink import ExactlyOnceBatchSink


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table.  Schema is pinned from the
    batch reader (a stream cannot infer), and the TIMESTAMP(NANOS) column is
    normalized to a microsecond TimestampType exactly as in batch."""
    path = table_path(sf_dir, "events")
    batch_schema = _read_parquet(spark, path).schema
    # the file source wants a directory; stream the sf_dir with a glob
    # pinned to the events file
    stream = (
        spark.readStream.schema(batch_schema)
        .option("pathGlobFilter", os.path.basename(path))
        .parquet(sf_dir)
    )
    if isinstance(batch_schema["ts"].dataType, T.LongType):
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return stream


def hourly_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Tumbling event-time window with watermarked late-data handling —
    the streaming twin of q21_events_hourly."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour_key"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sessionize_stateful(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    session counting with an explicit session-gap state machine (the
    streaming twin of q22_sessionize).

    State per user: (last_seen_us, n_sessions, n_events).  Arrow-batched:
    each poll hands the kernel whole pandas groups, never single rows.
    """
    import pandas as pd  # local: only the executors need it
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = gap_minutes * 60 * 1_000_000
    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_sessions", T.LongType()),
            T.StructField("n_events", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("last_us", T.LongType()),
            T.StructField("n_sessions", T.LongType()),
            T.StructField("n_events", T.LongType()),
        ]
    )

    def update(key, pdf_iter, state: GroupState):
        (user_id,) = key
        last_us, n_sessions, n_events = state.get if state.exists else (None, 0, 0)
        for pdf in pdf_iter:
            for t_us in sorted(int(x) for x in pdf["t_us"]):
                if last_us is None or t_us - last_us > gap_us:
                    n_sessions += 1
                last_us = t_us
                n_events += 1
        state.update((last_us, n_sessions, n_events))
        yield pd.DataFrame(
            {"user_id": [user_id], "n_sessions": [n_sessions], "n_events": [n_events]}
        )

    prepared = events.select("user_id", F.unix_micros("ts").alias("t_us"))
    return prepared.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def run_available_now(
    stream_df: DataFrame,
    query_name: str | None = None,
    output_mode: str = "update",
) -> DataFrame:
    """Drain all currently-available input through the streaming plan into a
    memory sink (test/drive harness; production sinks are parquet/Delta via
    ``writeStream.toTable``).  Returns the result as a DataFrame.
    ``output_mode``: update for stateful aggs; append is mandatory for
    stream-stream joins (watermark-expired results only)."""
    name = query_name or f"bq_stream_{uuid.uuid4().hex[:8]}"
    # fresh checkpoint per invocation: this helper is a drain-once harness,
    # not a resumable production query (those pass their own checkpoint)
    checkpoint = tempfile.mkdtemp(prefix=f"bq_ckpt_{name}_")
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return stream_df.sparkSession.table(name)


def dedup_stream(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exactly-once-per-event dedup via
    ``dropDuplicatesWithinWatermark``: state is bounded by the watermark
    horizon (old keys are evicted), so unlike plain dropDuplicates the
    operator survives an unbounded stream — the at-least-once -> effectively-
    once repair stage every event pipeline needs in front of its sink."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def sliding_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding event-time windows (each event lands in window/slide
    overlapping buckets) with watermarked late-data handling — the
    trend-detection twin of the tumbling :func:`hourly_counts`."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window, slide).alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
        )
    )


def click_to_purchase(
    events: DataFrame,
    max_lag_minutes: int = 60,
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream interval join: every (click, purchase) pair by the same
    user where the purchase follows the click within ``max_lag_minutes``.

    Both sides carry watermarks and the join condition bounds event-time
    distance, so Spark can size the join state and evict expired rows —
    the requirements for an unbounded stream-stream join to run at all.
    Per-side filters cut state to the two event types involved."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return clicks.join(
        purchases,
        (F.col("c_user") == F.col("p_user"))
        & (F.col("purchase_ts") > F.col("click_ts"))
        & (
            F.col("purchase_ts")
            <= F.col("click_ts") + F.expr(f"INTERVAL {max_lag_minutes} MINUTES")
        ),
    ).select(
        F.col("c_user").alias("user_id"),
        "click_id",
        "purchase_id",
        F.col("purchase_value"),
        (F.unix_micros("purchase_ts") - F.unix_micros("click_ts")).alias("lag_us"),
    )


def enrich_stream(
    events: DataFrame,
    dim: DataFrame,
    on: str = "user_id",
    how: str = "left",
) -> DataFrame:
    """Stream-static enrichment: join the event stream against a batch
    dimension.  Spark plans the static side as a broadcast re-read per
    micro-batch (no state, no watermark needed — the canonical dimension
    lookup at 100 TB stream scale; the dim re-resolves each batch, so a
    slowly-changing dim picks up updates without restarts).  Stateless:
    inner/left only — the stream side never buffers."""
    if how not in ("inner", "left"):
        raise ValueError("stream-static joins are stateless: inner/left only")
    return events.join(F.broadcast(dim), on, how)


def dedup_against_history(
    stream: DataFrame,
    history: DataFrame,
    fingerprint_col: str = "fingerprint",
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin of ``operators.dedup.incremental_dedup``: continuous
    ingestion where documents arrive as a stream and must be dropped if
    (a) their fingerprint already exists in the historical corpus snapshot,
    or (b) another copy already arrived earlier in the stream.

    (a) is a stream-static LEFT ANTI join — stateless, the static side
    re-resolves per micro-batch, so a growing history is picked up without
    restarts (the same broadcast-dim mechanics as :func:`enrich_stream`).
    (b) is ``dropDuplicatesWithinWatermark`` on the fingerprint — state
    bounded by the watermark horizon, the only sound bound for an unbounded
    stream (an exact forever-dedup needs the batch pass: q130).  Output is
    exactly the stream's ``novel`` rows, so
    stream(dedup_against_history) == batch(incremental_dedup == 'novel'
    within one watermark window) — asserted by the parity test."""
    novel_vs_history = stream.join(
        history.select(fingerprint_col).distinct(), fingerprint_col, "left_anti"
    )
    return novel_vs_history.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        [fingerprint_col]
    )


def anomaly_stream(
    events: DataFrame,
    warmup: int = 30,
    z_threshold: float = 3.0,
) -> DataFrame:
    """Streaming anomaly detection via ``applyInPandasWithState``: per
    event_type Welford running statistics (n, mean, M2) with a z-score
    gate — the online-monitoring twin of the batch robust-stats family
    (q134).  A value is anomalous when, after ``warmup`` observations,
    |x - mean_so_far| > z * stddev_so_far (both taken BEFORE the update,
    so a spike cannot mask itself).

    State per key is three doubles + two longs — O(1) regardless of
    stream length; each micro-batch hands the kernel whole Arrow groups.
    Rows are folded in (t_us, event_id) order inside every batch, so a
    replay of the same batches yields byte-identical state (the
    exactly-once story the checkpointed sink relies on).
    """
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("n_seen", T.LongType()),
            T.StructField("mean_value", T.DoubleType()),
            T.StructField("n_anomalies", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("mean", T.DoubleType()),
            T.StructField("m2", T.DoubleType()),
            T.StructField("n_anom", T.LongType()),
        ]
    )

    def update(key, pdf_iter, state: GroupState):
        (etype,) = key
        n, mean, m2, n_anom = state.get if state.exists else (0, 0.0, 0.0, 0)
        rows = []
        for pdf in pdf_iter:
            rows.extend(
                (int(t), int(e), float(v))
                for t, e, v in zip(pdf["t_us"], pdf["event_id"], pdf["value"])
            )
        rows.sort()
        for _, _, x in rows:
            if n >= warmup:
                sd = math.sqrt(m2 / (n - 1)) if n > 1 else 0.0
                if sd > 0 and abs(x - mean) > z_threshold * sd:
                    n_anom += 1
            n += 1
            delta = x - mean
            mean += delta / n
            m2 += delta * (x - mean)
        state.update((n, mean, m2, n_anom))
        yield pd.DataFrame(
            {
                "event_type": [etype],
                "n_seen": [n],
                "mean_value": [mean],
                "n_anomalies": [n_anom],
            }
        )

    prepared = events.select(
        "event_type", "event_id", F.unix_micros("ts").alias("t_us"), "value"
    )
    return prepared.groupBy("event_type").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def anomaly_batch_reference(
    spark_events_pdf,
    warmup: int = 30,
    z_threshold: float = 3.0,
) -> dict[str, tuple[int, float, int]]:
    """Driver-side reference implementation of :func:`anomaly_stream`'s
    fold (test harness only — O(n) python over a collected smoke slice):
    returns {event_type: (n_seen, mean, n_anomalies)} from the identical
    (t_us, event_id)-ordered Welford recurrence."""
    import math

    out: dict[str, list] = {}
    for etype, _t, _e, x in sorted(
        (
            (r["event_type"], int(r["t_us"]), int(r["event_id"]), float(r["value"]))
            for r in spark_events_pdf
        ),
        key=lambda r: (r[0], r[1], r[2]),
    ):
        n, mean, m2, n_anom = out.get(etype, [0, 0.0, 0.0, 0])
        if n >= warmup:
            sd = math.sqrt(m2 / (n - 1)) if n > 1 else 0.0
            if sd > 0 and abs(x - mean) > z_threshold * sd:
                n_anom += 1
        n += 1
        delta = x - mean
        mean += delta / n
        m2 += delta * (x - mean)
        out[etype] = [n, mean, m2, n_anom]
    return {k: (v[0], v[1], v[3]) for k, v in out.items()}


def topk_stream(
    events: DataFrame,
    k: int = 3,
    capacity: int = 8,
) -> DataFrame:
    """Streaming heavy hitters via ``applyInPandasWithState``: per
    event_type, a SpaceSaving summary (Metwally et al.) of ``capacity``
    counters maintains the top-``k`` users by event count with O(capacity)
    state — the bounded-memory complement of the CMS sink
    (streaming/sink.SketchRollupSink counts ALL keys approximately; this
    tracks the TOP keys with per-key error bounds).

    SpaceSaving invariants: a monitored user increments its counter; an
    unmonitored user REPLACES the minimum counter, inheriting its count
    as the error bound (est - err <= true <= est).  When capacity >=
    distinct users per key the summary is EXACT — the parity test pins
    that case against the batch groupBy; the bounded case asserts the
    error-bound contract instead.  Rows fold in (t_us, event_id) order
    within every batch, ties on the eviction minimum break toward the
    smallest user_id, so replays are byte-identical (the checkpointed-
    sink exactly-once story).  State per key: 3 parallel arrays of
    ``capacity`` scalars."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("event_type", T.StringType()),
            T.StructField("rank", T.IntegerType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("est_count", T.LongType()),
            T.StructField("max_err", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("ids", T.ArrayType(T.LongType())),
            T.StructField("counts", T.ArrayType(T.LongType())),
            T.StructField("errs", T.ArrayType(T.LongType())),
        ]
    )

    def update(key, pdf_iter, state: GroupState):
        (etype,) = key
        if state.exists:
            ids, counts, errs = (list(x) for x in state.get)
        else:
            ids, counts, errs = [], [], []
        slots = {u: i for i, u in enumerate(ids)}
        rows = []
        for pdf in pdf_iter:
            rows.extend(
                (int(t), int(e), int(u))
                for t, e, u in zip(pdf["t_us"], pdf["event_id"], pdf["user_id"])
            )
        rows.sort()
        for _, _, u in rows:
            if u in slots:
                counts[slots[u]] += 1
            elif len(ids) < capacity:
                slots[u] = len(ids)
                ids.append(u)
                counts.append(1)
                errs.append(0)
            else:
                # evict the minimum counter; ties -> smallest user_id
                j = min(range(len(ids)), key=lambda i: (counts[i], ids[i]))
                del slots[ids[j]]
                slots[u] = j
                errs[j] = counts[j]
                counts[j] += 1
                ids[j] = u
        state.update((ids, counts, errs))
        order = sorted(range(len(ids)), key=lambda i: (-counts[i], ids[i]))[:k]
        yield pd.DataFrame(
            {
                "event_type": [etype] * len(order),
                "rank": [r + 1 for r in range(len(order))],
                "user_id": [ids[i] for i in order],
                "est_count": [counts[i] for i in order],
                "max_err": [errs[i] for i in order],
            }
        )

    prepared = events.select(
        "event_type", "event_id", "user_id", F.unix_micros("ts").alias("t_us")
    )
    return prepared.groupBy("event_type").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


class Scd2EnrichSink(ExactlyOnceBatchSink):
    """Temporally-correct stream enrichment — ``enrich_stream`` answers
    'what is the dimension row NOW'; this answers 'what was it AT EVENT
    TIME': each micro-batch as-of joins (operators.joins.asof_join,
    backward) against an SCD2-style version table, so late-arriving
    events pick up the version that was valid when they HAPPENED, not
    the current one — the difference between a correct revenue
    restatement and silently repricing history.

    Stateless streaming-wise: the as-of's union-and-carry windows are
    not expressible on an unbounded stream, but each micro-batch IS a
    bounded frame, so the join runs per batch inside ``foreachBatch``
    and lands in ExactlyOnceBatchSink's idempotent per-batch overwrite
    dirs.  The dim re-resolves per batch, so new versions take effect
    without restarts."""

    def __init__(
        self,
        target: str,
        dim_provider,
        on: str,
        left_ts: str,
        right_ts: str,
        right_cols: list[str],
    ):
        super().__init__(target)
        self.dim_provider = dim_provider
        self.on, self.left_ts, self.right_ts = on, left_ts, right_ts
        self.right_cols = right_cols

    def _land(self, batch_df: DataFrame, batch_id: int, lease) -> None:
        from bigquack_spark.operators.joins import asof_join

        dim = self.dim_provider(batch_df.sparkSession)
        enriched = asof_join(
            batch_df, dim, on=self.on,
            left_ts=self.left_ts, right_ts=self.right_ts,
            right_cols=self.right_cols,
        )
        super()._land(enriched, batch_id, lease)
