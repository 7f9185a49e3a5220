"""Structured Streaming extension tests (SURVEY §2.8): stream/batch parity
for the windowed aggregate, and the custom stateful sessionizer vs the batch
window implementation (q22)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigquack_spark.queries import QUERIES
from bigquack_spark.streaming.events import (
    hourly_counts,
    read_events_stream,
    run_available_now,
    sessionize_stateful,
)
from tests.conftest import SF_SMOKE


def test_stream_hourly_matches_batch(spark):
    stream = read_events_stream(spark, SF_SMOKE)
    result = run_available_now(hourly_counts(stream), "hourly_test")
    got = {
        (r.hour_key, r.event_type): (r.n_events, round(r.total_value, 6))
        for r in result.collect()
    }
    from bigquack_spark.sources.parquet import load_table

    batch = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias("hour_key"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("total_value"))
    )
    want = {
        (r.hour_key, r.event_type): (r.n_events, round(r.total_value, 6))
        for r in batch.collect()
    }
    assert got == want


def test_stateful_sessionize_matches_batch(spark):
    stream = read_events_stream(spark, SF_SMOKE)
    result = run_available_now(sessionize_stateful(stream, 30), "sessionize_test")
    got = {r.user_id: (r.n_sessions, r.n_events) for r in result.collect()}
    batch = QUERIES["q22_sessionize"].fn(spark, SF_SMOKE)
    want = {r.user_id: (r.n_sessions, r.n_events) for r in batch.collect()}
    assert got == want


def test_exactly_once_sink(spark, tmp_path):
    """bigquery_write.go:448-460 offset semantics in streaming: replayed
    batch ids are no-ops, committed offset survives 'restart'."""
    import os

    from bigquack_spark.streaming.sink import ExactlyOnceBatchSink

    target = str(tmp_path / "sink_out")
    os.makedirs(target)
    ckpt = str(tmp_path / "ckpt")
    sink = ExactlyOnceBatchSink(target)
    stream = read_events_stream(spark, SF_SMOKE).select("event_id", "user_id", "value")
    (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    n = spark.read.parquet(target).count()
    assert n == 1000  # all events landed exactly once
    committed = sink.next_batch_id
    assert committed >= 1

    # simulate a restart replaying the same batches: fresh sink instance
    # reloads the durable offset and must skip them all
    replay = ExactlyOnceBatchSink(target)
    assert replay.next_batch_id == committed
    batch = spark.read.parquet(f"{SF_SMOKE}/events.parquet").limit(10)
    replay(batch, batch_id=0)  # replayed offset -> no-op
    assert spark.read.parquet(target).count() == n
    replay(batch, batch_id=committed)  # next offset -> appends
    assert spark.read.parquet(target).count() == n + 10


def test_exactly_once_sink_crash_between_write_and_persist(spark, tmp_path):
    """r2-verdict crash window: a process death AFTER the batch's data write
    but BEFORE the offset persist must not duplicate rows on replay.  The
    per-batch overwrite directory makes the replayed write idempotent."""
    import os

    from bigquack_spark.streaming.sink import ExactlyOnceBatchSink

    target = str(tmp_path / "crash_sink")
    os.makedirs(target)
    batch = spark.read.parquet(f"{SF_SMOKE}/events.parquet").limit(25)

    sink = ExactlyOnceBatchSink(target)
    sink(batch, batch_id=0)
    assert spark.read.parquet(target).count() == 25

    # simulate the crash: data for batch 1 lands, offset persist never runs
    # (write through the sink's own path, then roll the durable offset back
    # to what a crash would have left on disk)
    sink(batch, batch_id=1)
    import json as _json

    with open(os.path.join(target, "_COMMITTED_BATCH"), "w") as fh:
        _json.dump({"next_batch_id": 1}, fh)
    assert spark.read.parquet(target).count() == 50

    # restart: fresh sink loads the stale offset and REPLAYS batch 1
    replay = ExactlyOnceBatchSink(target)
    assert replay.next_batch_id == 1
    replay(batch, batch_id=1)
    assert spark.read.parquet(target).count() == 50  # converged, no dupes
    assert replay.next_batch_id == 2


def _sketch_depth_totals(spark, sink):
    return [
        r.n
        for r in spark.read.parquet(sink.table)
        .groupBy("j").agg(F.sum("cnt").alias("n")).orderBy("j").collect()
    ]


def test_sketch_rollup_sink_crash_mid_swap_recovers(spark, tmp_path):
    """A crash after the publish marker commits, before the swap: the next
    landing rolls the swap forward, then adds its own batch — the
    accumulated counters are neither lost nor reset to one batch's
    partial."""
    import os

    from bigquack_spark.operators import maintenance
    from bigquack_spark.streaming.sink import SketchRollupSink

    target = str(tmp_path / "cms_crash")
    os.makedirs(target)
    batch = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select("event_type").limit(100)

    sink = SketchRollupSink(target, key_col="event_type", depth=4, width=64)
    sink(batch, batch_id=0)
    assert _sketch_depth_totals(spark, sink) == [100] * 4

    class Boom(RuntimeError):
        pass

    real = maintenance._finish_swap
    state = {"crashed": False}

    def crash_once(*a, **kw):
        if not state["crashed"]:
            state["crashed"] = True
            raise Boom()
        return real(*a, **kw)

    maintenance._finish_swap = crash_once
    try:
        with pytest.raises(Boom):
            sink(batch, batch_id=1)
    finally:
        maintenance._finish_swap = real
    # the unpersisted-offset replay of batch 1 (offset says next=1, so it runs)
    sink(batch, batch_id=1)
    assert _sketch_depth_totals(spark, sink) == [200] * 4
    assert not os.path.exists(os.path.join(sink.table, maintenance.STAGING_DIR))


def test_sketch_rollup_sink_replay_adds_nothing(spark, tmp_path):
    """A crash between the landing and the offset commit: the replayed
    batch finds its own generation live and is not counted twice."""
    import json as _json
    import os

    from bigquack_spark.streaming.sink import SketchRollupSink

    target = str(tmp_path / "cms_replay")
    os.makedirs(target)
    batch = spark.range(100).selectExpr("id % 7 AS k")
    SketchRollupSink(target, key_col="k", depth=2, width=64)(batch, batch_id=0)
    with open(os.path.join(target, "_COMMITTED_BATCH"), "w") as fh:
        _json.dump({"next_batch_id": 0}, fh)  # the state the crash leaves
    replay = SketchRollupSink(target, key_col="k", depth=2, width=64)
    replay(batch, batch_id=0)
    assert _sketch_depth_totals(spark, replay) == [100, 100]
    assert replay.next_batch_id == 1


def test_exactly_once_sink_corrupt_offset_file(spark, tmp_path):
    """A damaged offset file must degrade to offset 0 (reprocess), never
    crash the stream."""
    import os

    from bigquack_spark.streaming.sink import ExactlyOnceBatchSink

    target = str(tmp_path / "corrupt_sink")
    os.makedirs(target)
    with open(os.path.join(target, "_COMMITTED_BATCH"), "w") as fh:
        fh.write("{not json")
    sink = ExactlyOnceBatchSink(target)
    assert sink.next_batch_id == 0
    batch = spark.read.parquet(f"{SF_SMOKE}/events.parquet").limit(5)
    sink(batch, batch_id=0)
    assert spark.read.parquet(target).count() == 5


def test_watermark_drops_late_data(spark, tmp_path):
    """Real watermark semantics: after the watermark passes a window's end
    (append mode), a late-arriving event for that window is dropped, not
    re-emitted.  Driven as two availableNow passes over a growing directory
    with one checkpoint."""
    import os
    import shutil

    from pyspark.sql import functions as F

    src = str(tmp_path / "stream_src")
    os.makedirs(src)
    ckpt = str(tmp_path / "wm_ckpt")

    def write_batch(name, rows):
        spark.createDataFrame(rows, "event_id bigint, ts timestamp, value double") \
            .coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        part = [f for f in os.listdir(str(tmp_path / name)) if f.endswith(".parquet")][0]
        shutil.copy(os.path.join(str(tmp_path / name), part), os.path.join(src, f"{name}.parquet"))

    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    # batch 1: events in hour 0 and hour 3 -> watermark advances to 3:00-10min
    write_batch("b1", [(1, t0, 1.0), (2, t0.replace(hour=3), 1.0)])

    schema = spark.read.parquet(src).schema
    agg = (
        spark.readStream.schema(schema).parquet(src)
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.date_format("w.start", "yyyy-MM-dd HH:mm").alias("wstart"), "n")
    )

    out_dir = str(tmp_path / "wm_out")

    def drain(_qname):
        # durable sink (memory sink cannot resume from a checkpoint): each
        # pass appends only newly-finalized windows
        def write_batch_out(batch_df, _bid):
            if batch_df.count():
                batch_df.write.mode("append").parquet(out_dir)

        before = (
            {r.wstart: r.n for r in spark.read.parquet(out_dir).collect()}
            if os.path.exists(out_dir) and os.listdir(out_dir)
            else {}
        )
        q = (
            agg.writeStream.foreachBatch(write_batch_out)
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        after = {r.wstart: r.n for r in spark.read.parquet(out_dir).collect()}
        return {k: v for k, v in after.items() if k not in before}

    first = drain("wm_pass1")
    # hour-0 window finalized (watermark = 02:50 > 01:00 end); hour-3 still open
    assert first.get("2024-01-01 00:00") == 1
    assert "2024-01-01 03:00" not in first

    # batch 2: one LATE event for hour 0 (behind the watermark) and one new
    # event far ahead (hour 6) to advance the watermark past hour 3
    write_batch("b2", [(3, t0.replace(minute=30), 9.0), (4, t0.replace(hour=6), 1.0)])
    second = drain("wm_pass2")
    # late hour-0 event DROPPED: the finalized window is never re-emitted
    assert "2024-01-01 00:00" not in second
    # hour-3 window finalized now, count excludes nothing (it had 1 event)
    assert second.get("2024-01-01 03:00") == 1


def test_stream_dedup_within_watermark(spark):
    """Planted duplicate event_ids collapse to one survivor per key; the
    dedup state is watermark-bounded (the operator accepts an unbounded
    stream where plain dropDuplicates would not)."""
    from bigquack_spark.streaming.events import dedup_stream

    stream = read_events_stream(spark, SF_SMOKE)
    # the events table has unique event_ids: dedup on a coarser synthetic
    # key (user_id, minute bucket) so real collapses happen
    keyed = stream.withColumn("minute_key", F.date_trunc("minute", "ts"))
    result = run_available_now(
        dedup_stream(keyed, keys=["user_id", "minute_key"]), "dedup_test"
    )
    got = result.groupBy("user_id", "minute_key").count().collect()
    assert got and all(r["count"] == 1 for r in got)

    from bigquack_spark.sources.parquet import load_table

    batch = (
        load_table(spark, SF_SMOKE, "events")
        .withColumn("minute_key", F.date_trunc("minute", "ts"))
        .dropDuplicates(["user_id", "minute_key"])
    )
    assert result.count() == batch.count()


def test_stream_sliding_matches_batch(spark):
    """Sliding windows: each event lands in exactly window/slide buckets;
    stream result equals the batch explode-to-buckets equivalent."""
    from bigquack_spark.streaming.events import sliding_counts

    stream = read_events_stream(spark, SF_SMOKE)
    result = run_available_now(sliding_counts(stream), "sliding_test")
    got = {
        (r.window_start, r.event_type): r.n_events for r in result.collect()
    }

    from bigquack_spark.sources.parquet import load_table

    batch = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
            "event_type",
            "n_events",
        )
    )
    want = {(r.window_start, r.event_type): r.n_events for r in batch.collect()}
    assert got == want
    # every event contributes to 4 buckets (1h window / 15m slide)
    n_events = load_table(spark, SF_SMOKE, "events").count()
    assert sum(got.values()) == 4 * n_events


def test_stream_stream_join_matches_batch(spark):
    """Interval join parity: the watermarked stream-stream join yields the
    same (click, purchase) pairs as the batch non-equi join."""
    from bigquack_spark.streaming.events import click_to_purchase

    stream = read_events_stream(spark, SF_SMOKE)
    result = run_available_now(
        click_to_purchase(stream), "ssjoin_test", output_mode="append"
    )
    got = {(r.click_id, r.purchase_id) for r in result.collect()}

    from bigquack_spark.sources.parquet import load_table

    ev = load_table(spark, SF_SMOKE, "events")
    c = ev.filter("event_type = 'click'").selectExpr(
        "user_id cu", "event_id click_id", "ts cts"
    )
    p = ev.filter("event_type = 'purchase'").selectExpr(
        "user_id pu", "event_id purchase_id", "ts pts"
    )
    want = {
        (r.click_id, r.purchase_id)
        for r in c.join(
            p,
            (F.col("cu") == F.col("pu"))
            & (F.col("pts") > F.col("cts"))
            & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 60 MINUTES")),
        ).collect()
    }
    assert got == want and got


def test_continuous_rollup_cascade_matches_batch_and_replays(spark, tmp_path):
    """Streaming twin of q116: hourly tier maintained from the stream, daily
    tier derived from hourly state.  The drained daily table must equal the
    batch day-rollup of the same events, and a full re-run of the stream
    into the same sink must converge (idempotent merges, no double count)."""
    import pyspark.sql.functions as F2

    from bigquack_spark.sources.parquet import load_table
    from bigquack_spark.streaming.sink import ContinuousRollupSink

    base = str(tmp_path / "rollup")
    sink = ContinuousRollupSink(base)

    def drain():
        import tempfile

        stream = hourly_counts(read_events_stream(spark, SF_SMOKE))
        (
            stream.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="rollup_ckpt_"))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    drain()
    batch_daily = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy(
            F2.date_format(F2.date_trunc("day", "ts"), "yyyy-MM-dd").alias("day_key"),
            "event_type",
        )
        .agg(F2.count(F2.lit(1)).alias("n_events"), F2.sum("value").alias("total_value"))
    )
    want = {
        (r.day_key, r.event_type): (r.n_events, round(r.total_value, 6))
        for r in batch_daily.collect()
    }
    got = {
        (r.day_key, r.event_type): (r.n_events, round(r.total_value, 6))
        for r in spark.read.parquet(sink.daily).collect()
    }
    assert got == want

    # replay the whole stream (fresh checkpoint, same tables): must converge
    drain()
    again = {
        (r.day_key, r.event_type): (r.n_events, round(r.total_value, 6))
        for r in spark.read.parquet(sink.daily).collect()
    }
    assert again == want


def test_stream_static_enrichment_matches_batch(spark):
    """Stream-static broadcast join: drained stream output must equal the
    batch join of the same inputs."""
    from bigquack_spark.sources.parquet import load_table
    from bigquack_spark.streaming.events import enrich_stream

    dim = (
        load_table(spark, SF_SMOKE, "customer")
        .selectExpr("c_custkey AS user_id", "c_mktsegment")
    )
    stream = read_events_stream(spark, SF_SMOKE).select("event_id", "user_id")
    got = run_available_now(
        enrich_stream(stream, dim), "enrich_test", output_mode="append"
    )
    want = (
        load_table(spark, SF_SMOKE, "events")
        .select("event_id", "user_id")
        .join(dim, "user_id", "left")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_streaming_dedup_against_history_matches_batch(spark):
    """Streaming continuous-ingestion dedup == the batch incremental_dedup
    'novel' set: fingerprints already in the static history are anti-joined
    away per micro-batch, in-stream repeats are dropped by watermark-bounded
    state.  Watermark is set past the bounded fixture's span, so the stream
    dedups globally and the parity is exact."""
    from bigquack_spark.operators.dedup import incremental_dedup
    from bigquack_spark.sources.parquet import load_table
    from bigquack_spark.streaming.events import dedup_against_history, read_events_stream

    fp = F.md5((F.col("user_id") % 50).cast("string")).alias("fingerprint")
    history = (
        load_table(spark, SF_SMOKE, "events")
        .select(F.md5((F.col("user_id") % 50).cast("string")).alias("fingerprint"))
        .filter(F.col("user_id") % 50 < 10)
        .distinct()
    )

    stream = read_events_stream(spark, SF_SMOKE).select("event_id", "user_id", "ts", fp)
    got = run_available_now(
        dedup_against_history(stream, history, watermark="30 days"),
        "dedup_hist_test",
        output_mode="append",
    )
    got_fps = {r.fingerprint for r in got.collect()}

    batch = load_table(spark, SF_SMOKE, "events").select(
        F.col("event_id").alias("doc_id"), fp
    )
    novel = (
        incremental_dedup(batch, history, id_col="doc_id")
        .filter(F.col("status") == "novel")
    )
    want_fps = {r.fingerprint for r in novel.collect()}
    assert got_fps == want_fps and len(got_fps) > 0
    # exactly one surviving row per novel fingerprint
    assert got.count() == len(got_fps)


def test_progress_capture_records_batch_metrics(spark):
    """The listener observes every completed micro-batch: row counts sum to
    the source size, durations are positive, and the capture converts to a
    writable DataFrame."""
    import time

    from bigquack_spark.sources.parquet import load_table
    from bigquack_spark.streaming.events import hourly_counts, read_events_stream, run_available_now
    from bigquack_spark.streaming.metrics import ProgressCapture

    cap = ProgressCapture.attach(spark)
    try:
        stream = read_events_stream(spark, SF_SMOKE)
        run_available_now(hourly_counts(stream), "metrics_probe")
        # listener callbacks are async; wait until delivery is STABLE
        # (two consecutive polls equal and non-empty) before snapshotting
        deadline = time.monotonic() + 30
        prev = None
        while time.monotonic() < deadline:
            cur = cap.metrics()
            if cur and cur == prev and any(m["num_input_rows"] > 0 for m in cur):
                break
            prev = cur
            time.sleep(0.5)
    finally:
        cap.detach()
    rows = cap.metrics()
    assert rows, "no progress events captured"
    total_in = sum(m["num_input_rows"] for m in rows)
    expected = load_table(spark, SF_SMOKE, "events").count()
    assert total_in == expected
    assert all(m["duration_ms"] >= 0 for m in rows)
    df = cap.to_df(spark)
    assert df.count() >= len(rows)
    assert "process_rate" in df.columns


def test_stub_stream_source_offsets_and_resume(spark, tmp_path):
    """The connector's streaming half (SURVEY S7 at the source-API level):
    files landing in the transport directory are consumed exactly once per
    checkpoint — a restart with the same checkpoint resumes from the
    committed offset and reads ONLY files that landed since."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigquack_spark.sources.connector import register_stream

    register_stream(spark)
    landing = tmp_path / "landing"
    sink = tmp_path / "sink"
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)

    def land(name, lo, hi):
        pq.write_table(
            pa.table({"k": pa.array(range(lo, hi), pa.int64())}),
            str(landing / name),
        )

    def drain():
        q = (
            spark.readStream.format("bigquery_stub_stream")
            .schema("k bigint")
            .option("path", str(landing))
            .load()
            .writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    land("a.parquet", 0, 100)
    land("b.parquet", 100, 200)
    drain()
    first = spark.read.parquet(str(sink))
    assert first.count() == 200

    land("c.parquet", 200, 250)
    drain()  # same checkpoint: resume, read ONLY c
    final = spark.read.parquet(str(sink))
    assert final.count() == 250
    assert sorted(r.k for r in final.collect()) == list(range(250))


def test_continuous_ingestion_pipeline_end_to_end(spark, tmp_path):
    """Capstone integration: the full continuous-ingestion dedup pipeline —
    connector stream source (explicit offsets) -> fingerprint projection ->
    dedup vs static history + in-stream watermark dedup -> exactly-once
    batch sink.  Files land, duplicates (vs history AND within/between
    batches up to the watermark) are dropped, a second drain with the same
    checkpoint ingests only new files, and the sink never double-writes."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from bigquack_spark.sources.connector import register_stream
    from bigquack_spark.streaming.events import dedup_against_history
    from bigquack_spark.streaming.sink import ExactlyOnceBatchSink

    register_stream(spark)
    landing = tmp_path / "landing"
    target = str(tmp_path / "corpus")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(landing)
    os.makedirs(target)

    def land(name, rows):
        pq.write_table(
            pa.table(
                {
                    "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                    "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
                    "text": pa.array([r[2] for r in rows], pa.string()),
                }
            ),
            str(landing / name),
        )

    import datetime as dt

    t0 = dt.datetime(2026, 1, 1)
    history = spark.createDataFrame(
        [("known-doc",)], "text string"
    ).select(F.md5("text").alias("fingerprint"))

    def drain():
        stream = (
            spark.readStream.format("bigquery_stub_stream")
            .schema("doc_id bigint, ts timestamp, text string")
            .option("path", str(landing))
            .load()
            .withColumn("fingerprint", F.md5("text"))
        )
        deduped = dedup_against_history(stream, history, watermark="30 days")
        sink = ExactlyOnceBatchSink(target)
        (
            deduped.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    land("b0.parquet", [(1, t0, "fresh-one"), (2, t0, "known-doc"), (3, t0, "fresh-one")])
    drain()
    out1 = spark.read.parquet(target)
    assert sorted(r.doc_id for r in out1.collect()) == [1]  # hist dup + in-batch dup dropped

    land("b1.parquet", [(4, t0, "fresh-one"), (5, t0, "fresh-two")])
    drain()  # same checkpoint: only b1 read; doc 4 is a cross-batch dup
    out2 = spark.read.parquet(target)
    assert sorted(r.doc_id for r in out2.collect()) == [1, 5]


def test_anomaly_stream_matches_reference_fold(spark):
    """Streaming Welford anomaly detector == the driver-side reference
    fold over the identically-ordered smoke slice (stream/batch parity
    for the custom stateful op)."""
    from bigquack_spark.sources.parquet import load_table
    from bigquack_spark.streaming.events import anomaly_batch_reference, anomaly_stream

    stream = read_events_stream(spark, SF_SMOKE)
    result = run_available_now(anomaly_stream(stream, warmup=30), "anomaly_test")
    got = {
        r.event_type: (r.n_seen, round(r.mean_value, 9), r.n_anomalies)
        for r in result.collect()
    }
    rows = (
        load_table(spark, SF_SMOKE, "events")
        .select("event_type", "event_id", F.unix_micros("ts").alias("t_us"), "value")
        .collect()
    )
    want = {
        k: (n, round(m, 9), a)
        for k, (n, m, a) in anomaly_batch_reference(rows, warmup=30).items()
    }
    assert got == want
    assert sum(n for n, _, _ in got.values()) == len(rows)  # every event folded


def test_sketch_rollup_sink_matches_batch_and_replays_once(spark, tmp_path):
    """Streaming CMS rollup: after draining the stream, the persisted
    sketch's point estimates must (a) upper-bound the exact counts (CMS
    never undercounts) and (b) EQUAL a batch-built CMS with the same
    depth/width/buckets — merging per-batch partials by addition is
    lossless for a counting sketch.  Replaying the same stream against
    the same sink state must be a no-op (batch-id offset gate)."""
    import os

    from pyspark.sql import functions as F

    from bigquack_spark.streaming.sink import SketchRollupSink

    target = str(tmp_path / "cms")
    os.makedirs(target)
    sink = SketchRollupSink(target, key_col="event_type", depth=4, width=256)
    stream = read_events_stream(spark, SF_SMOKE).select("event_type")
    (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck1"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    batch = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select("event_type")
    keys = batch.select("event_type").distinct()
    est = {r.event_type: r.est for r in sink.estimate(spark, keys, "event_type").collect()}
    exact = {
        r.event_type: r.n
        for r in batch.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    assert set(est) == set(exact)
    for k, n in exact.items():
        assert est[k] >= n  # CMS upper bound
    # batch-built sketch with identical construction must equal the merged one
    batch_partial = sink._partial(batch)
    merged = spark.read.parquet(sink.table)
    diff = batch_partial.alias("a").join(
        merged.alias("b"), ["j", "bucket"], "full"
    ).filter(
        F.coalesce(F.col("a.cnt"), F.lit(-1)) != F.coalesce(F.col("b.cnt"), F.lit(-1))
    )
    assert diff.count() == 0
    # replay: same data, fresh checkpoint => same batch ids => gate skips
    before = sorted(map(tuple, merged.collect()))
    (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck2"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    after = sorted(map(tuple, spark.read.parquet(sink.table).collect()))
    assert after == before


def test_near_dup_ingest_sink_classifies_and_replays_once(spark, tmp_path):
    """Streaming near-dup ingestion: micro-batch 1 seeds history; micro-
    batch 2 of the SAME query must classify exact copies as exact_dup,
    small edits of history docs as near_dup, fresh text as novel — and a
    full replay of the source under the same sink state must add nothing
    (batch-id offset gate)."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from bigquack_spark.streaming.documents import NearDupIngestSink

    base = (
        "the quick brown fox jumps over the lazy dog while the cat watches "
        "from the warm windowsill and the birds sing in the garden outside "
        "as rain falls softly on the quiet empty street below the window"
    )
    wave1 = [(i, base + f" tail marker {i}") for i in range(5)]
    wave2 = (
        [(100, wave1[0][1])]                                   # exact copy
        + [(101, wave1[1][1].replace("lazy", "sleepy"))]       # near dup
        + [(102, "completely different text about query planners and shuffle "
                 "partitions in distributed analytical database engines today")]
    )
    src = str(tmp_path / "src"); os.makedirs(src)

    def add_wave(rows, name):
        stage = str(tmp_path / ("stage_" + name))
        spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(1) \
            .write.parquet(stage)
        part = glob.glob(stage + "/part-*.parquet")[0]
        shutil.copy(part, os.path.join(src, name + ".parquet"))

    add_wave(wave1, "wave1")
    add_wave(wave2, "wave2")
    target = str(tmp_path / "ingest"); os.makedirs(target)
    sink = NearDupIngestSink(target)
    schema = "doc_id bigint, text string"

    def run(ck):
        (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("latestFirst", "false")
            .parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / ck))
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )

    run("ck1")
    allv = {r.doc_id: r.verdict for r in spark.read.parquet(sink.verdicts_dir).collect()}
    assert {k: v for k, v in allv.items() if k < 100} == {i: "novel" for i in range(5)}
    assert {k: v for k, v in allv.items() if k >= 100} == {
        100: "exact_dup", 101: "near_dup", 102: "novel"
    }
    # history grew by exactly the novel docs
    hist = sorted(r.doc_id for r in spark.read.parquet(sink.docs_dir).collect())
    assert hist == [0, 1, 2, 3, 4, 102]
    # full replay with a fresh checkpoint: same batch ids => offset gate
    n_before = spark.read.parquet(sink.verdicts_dir).count()
    run("ck2")
    assert spark.read.parquet(sink.verdicts_dir).count() == n_before


def test_near_dup_ingest_sink_replay_lands_once(spark, tmp_path):
    """A crash between the landing and the offset commit: the replayed
    batch overwrites its own verdicts and does not meet its first landing
    in the history (it would read as exact dups of itself)."""
    import json as _json
    import os

    from bigquack_spark.streaming.documents import NearDupIngestSink

    target = str(tmp_path / "nd_replay")
    os.makedirs(target)
    batch = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon"), (2, "query planner shuffle join")],
        "doc_id bigint, text string",
    )
    NearDupIngestSink(target)(batch, 0)
    with open(os.path.join(target, "_COMMITTED_BATCH"), "w") as fh:
        _json.dump({"next_batch_id": 0}, fh)  # the state the crash leaves
    replay = NearDupIngestSink(target)
    replay(batch, 0)
    verdicts = [r.verdict for r in spark.read.parquet(replay.verdicts_dir).collect()]
    assert verdicts == ["novel", "novel"]


def test_topk_stream_exact_at_capacity(spark):
    """SpaceSaving with capacity >= distinct keys is exact: the streamed
    top-3 users per event type must equal the batch groupBy answer
    (count desc, user_id tiebreak), with zero error bounds."""
    from bigquack_spark.streaming.events import topk_stream

    stream = read_events_stream(spark, SF_SMOKE)
    n_users = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .select("user_id").distinct().count()
    )
    result = run_available_now(
        topk_stream(stream, k=3, capacity=n_users + 1), "topk_exact"
    )
    got = {
        (r.event_type, r.rank): (r.user_id, r.est_count, r.max_err)
        for r in result.collect()
    }
    batch = (
        spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type").orderBy(F.desc("n"), "user_id")
    want = {
        (r.event_type, r.rk): (r.user_id, r.n, 0)
        for r in batch.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .collect()
    }
    assert got == want


def test_topk_stream_bounded_capacity_error_contract(spark):
    """With tight capacity the SpaceSaving bound must hold: for every
    reported user, est - err <= true count <= est."""
    from bigquack_spark.streaming.events import topk_stream

    stream = read_events_stream(spark, SF_SMOKE)
    result = run_available_now(topk_stream(stream, k=3, capacity=4), "topk_tight")
    true_counts = {
        (r.event_type, r.user_id): r.n
        for r in spark.read.parquet(f"{SF_SMOKE}/events.parquet")
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    rows = result.collect()
    assert rows
    for r in rows:
        true = true_counts.get((r.event_type, r.user_id), 0)
        assert r.est_count - r.max_err <= true <= r.est_count, r


def test_scd2_enrich_stream_matches_batch_asof(spark, tmp_path):
    """Streaming SCD2 enrichment parity: per-event dimension version
    attached by the foreachBatch as-of must equal the batch as-of join
    over the same events — temporally correct, not current-version."""
    import os

    from bigquack_spark.operators.joins import asof_join
    from bigquack_spark.streaming.events import Scd2EnrichSink

    events = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select(
        "event_id", "user_id", F.unix_micros("ts").alias("t_us")
    )
    lo, hi = events.agg(F.min("t_us"), F.max("t_us")).first()
    mid = (lo + hi) // 2
    # SCD2 dim: every user has version 1 from the epoch start, version 2
    # from the midpoint — events before mid must enrich as v1, after as v2
    users = events.select("user_id").distinct()
    dim = users.select("user_id", F.lit(lo).alias("valid_from_us"), F.lit(1).alias("version")).unionByName(
        users.select("user_id", F.lit(mid).alias("valid_from_us"), F.lit(2).alias("version"))
    )
    dim_pdf = dim.toPandas()

    def provider(s):
        return s.createDataFrame(dim_pdf)

    target = str(tmp_path / "scd2_out")
    os.makedirs(target)
    sink = Scd2EnrichSink(
        target, provider, on="user_id",
        left_ts="t_us", right_ts="valid_from_us", right_cols=["version"],
    )
    stream = (
        read_events_stream(spark, SF_SMOKE)
        .select("event_id", "user_id", F.unix_micros("ts").alias("t_us"))
    )
    (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    got = {
        r.event_id: r.version
        for r in spark.read.parquet(target).select("event_id", "version").collect()
    }
    want = {
        r.event_id: r.version
        for r in asof_join(
            events, provider(spark), on="user_id",
            left_ts="t_us", right_ts="valid_from_us", right_cols=["version"],
        ).collect()
    }
    assert got == want
    assert 1 in got.values() and 2 in got.values()  # both eras actually hit


def test_join_view_sink_interleaved_parity_and_replay(spark, tmp_path):
    """JoinViewSink (streaming twin of q250): with orders and lineitem
    deltas arriving interleaved, the maintained view must equal the full
    join recompute over everything ingested so far AFTER EVERY UPDATE;
    replayed stream batch ids are no-ops; a crash between the snapshot
    write and the state persist converges on replay."""
    import os

    from bigquack_spark.streaming.sink import JoinViewSink
    from tests.conftest import SF_SMOKE

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").select(
        "o_orderkey", "o_orderpriority"
    )
    lines = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o1 = orders.filter(F.col("o_orderkey") % 3 == 0)
    o2 = orders.filter(F.col("o_orderkey") % 3 != 0)
    l1 = lines.filter(F.col("l_orderkey") % 2 == 0)
    l2 = lines.filter(F.col("l_orderkey") % 2 != 0)

    def full_recompute(o_acc, l_acc):
        cents = F.round(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
        ).cast("bigint")
        return sorted(
            (r.o_orderpriority, r.n_items, r.revenue_cents)
            for r in l_acc.join(o_acc, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_items"),
                F.sum(cents).cast("long").alias("revenue_cents"),
            )
            .collect()
        )

    def view_rows(sink):
        return sorted(
            (r.o_orderpriority, r.n_items, r.revenue_cents)
            for r in sink.view(spark).collect()
        )

    base = str(tmp_path / "jv")
    sink = JoinViewSink(base)
    sink.add_orders(o1)                      # orders first: view still empty join
    sink(l1, batch_id=0)                     # O1 x L1
    assert view_rows(sink) == full_recompute(o1, l1)
    sink.add_orders(o2)                      # ΔO joins accumulated L1
    assert view_rows(sink) == full_recompute(orders, l1)
    sink(l2, batch_id=1)                     # ΔL joins accumulated O1+O2
    assert view_rows(sink) == full_recompute(orders, lines)

    # replayed stream batch: no-op
    before = view_rows(sink)
    sink(l2, batch_id=1)
    assert view_rows(sink) == before

    # crash window: snapshot for the next revision was written but the
    # state pointer never persisted — a fresh sink re-runs the revision
    # and OVERWRITES the same snapshot (event-sourced idempotence)
    l3 = lines.limit(50)
    rev_before = sink.rev
    recovered = JoinViewSink(base)
    assert recovered.rev == rev_before
    # simulate the half-done attempt: delta landed, view snapshot landed,
    # but _STATE still points at rev_before
    rev_dir = os.path.join(base, "lines", f"rev={sink.lines_rev + 1}")
    l3.write.mode("overwrite").parquet(rev_dir)
    spark.read.parquet(sink._view_path(rev_before)).write.mode("overwrite").parquet(
        sink._view_path(rev_before + 1)
    )  # a bogus half-written snapshot replay must overwrite
    recovered2 = JoinViewSink(base)
    recovered2(l3, batch_id=2)
    want = full_recompute(orders, lines.unionByName(l3))
    assert view_rows(recovered2) == want


def test_join_view_sink_interleaved_recovery_no_double_count(spark, tmp_path):
    """The interleaved-recovery hazard the per-side revision counters
    close: an add_orders crashes AFTER writing its delta directory but
    BEFORE committing; a stream batch then lands FIRST during recovery.
    The uncommitted orders delta must not leak into the orders state that
    batch joins (it would be counted again when the orders update is
    retried) — the view must equal the full recompute at every step."""
    import os

    from bigquack_spark.streaming.sink import JoinViewSink
    from tests.conftest import SF_SMOKE

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").select(
        "o_orderkey", "o_orderpriority"
    )
    lines = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o1 = orders.filter(F.col("o_orderkey") % 2 == 0)
    o2 = orders.filter(F.col("o_orderkey") % 2 != 0)
    l1 = lines.filter(F.col("l_orderkey") % 2 == 0)
    l2 = lines.filter(F.col("l_orderkey") % 2 != 0)

    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")

    def full(o_acc, l_acc):
        return sorted(
            (r.o_orderpriority, r.n_items, r.revenue_cents)
            for r in l_acc.join(o_acc, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_items"),
                F.sum(cents).cast("long").alias("revenue_cents"),
            )
            .collect()
        )

    base = str(tmp_path / "jv2")
    sink = JoinViewSink(base)
    sink.add_orders(o1)
    sink(l1, batch_id=0)

    # crash during add_orders(o2): delta dir written, nothing committed
    stale = os.path.join(base, "orders", f"rev={sink.orders_rev + 1}")
    o2.write.mode("overwrite").parquet(stale)

    # recovery: a stream batch lands FIRST — must join o1 ONLY
    recovered = JoinViewSink(base)
    recovered(l2, batch_id=1)
    got = sorted(
        (r.o_orderpriority, r.n_items, r.revenue_cents)
        for r in recovered.view(spark).collect()
    )
    assert got == full(o1, lines)

    # the caller retries the orders update; counted exactly once
    recovered.add_orders(o2)
    got = sorted(
        (r.o_orderpriority, r.n_items, r.revenue_cents)
        for r in recovered.view(spark).collect()
    )
    assert got == full(orders, lines)


def test_join_view_sink_failed_update_keeps_committed_state(spark, tmp_path, monkeypatch):
    """r4 review finding: a failed update must leave BOTH the durable state
    and the sink object's in-memory counters at the last committed values —
    a prematurely bumped offset gate would silently skip the retried batch,
    and a prematurely bumped side counter would leak the uncommitted delta
    dir into the other side's accumulated state."""
    from bigquack_spark.streaming import sink as sink_mod
    from bigquack_spark.streaming.sink import JoinViewSink
    from tests.conftest import SF_SMOKE

    orders = spark.read.parquet(f"{SF_SMOKE}/orders.parquet").select(
        "o_orderkey", "o_orderpriority"
    )
    lines = spark.read.parquet(f"{SF_SMOKE}/lineitem.parquet").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    l1 = lines.filter(F.col("l_orderkey") % 2 == 0)
    l2 = lines.filter(F.col("l_orderkey") % 2 != 0)

    base = str(tmp_path / "jv3")
    sink = JoinViewSink(base)
    sink.add_orders(orders)
    sink(l1, batch_id=0)
    committed = (sink.rev, sink.orders_rev, sink.lines_rev, sink.next_stream_batch)

    real_write = sink_mod.fsops.write_atomic

    def exploding_write(*a, **k):
        raise OSError("disk full (injected)")

    monkeypatch.setattr(sink_mod.fsops, "write_atomic", exploding_write)
    import pytest as _pytest

    with _pytest.raises(OSError, match="injected"):
        sink(l2, batch_id=1)
    monkeypatch.setattr(sink_mod.fsops, "write_atomic", real_write)

    # in-memory AND durable state both still at the last commit
    assert (sink.rev, sink.orders_rev, sink.lines_rev, sink.next_stream_batch) == committed
    assert (
        JoinViewSink(base).rev,
        JoinViewSink(base).next_stream_batch,
    ) == (committed[0], committed[3])

    # the retried batch is NOT skipped and converges
    sink(l2, batch_id=1)
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("bigint")
    want = sorted(
        (r.o_orderpriority, r.n_items, r.revenue_cents)
        for r in lines.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.sum(cents).cast("long").alias("revenue_cents"),
        )
        .collect()
    )
    got = sorted(
        (r.o_orderpriority, r.n_items, r.revenue_cents)
        for r in sink.view(spark).collect()
    )
    assert got == want


def test_exactly_once_sink_leaves_foreign_parquet_untouched(spark, tmp_path):
    """r4 review finding: constructing the sink against a plain parquet
    dataset (no _COMMITTED_BATCH — never a legacy sink target) must not
    restructure it from a constructor side effect."""
    import os

    from bigquack_spark.streaming.sink import ExactlyOnceBatchSink

    target = str(tmp_path / "foreign")
    spark.read.parquet(f"{SF_SMOKE}/events.parquet").limit(20).write.parquet(target)
    before = sorted(os.listdir(target))
    ExactlyOnceBatchSink(target)
    assert sorted(os.listdir(target)) == before  # untouched
    assert spark.read.parquet(target).count() == 20


def test_progress_capture_records_watermark_drops_and_observed(spark, tmp_path):
    """r4 metrics extension: ProgressCapture surfaces (a) the late-data
    loss ledger (stateful operators' numRowsDroppedByWatermark summed per
    batch) and (b) df.observe custom metrics, serialized per batch — the
    two signals a pipeline owner alerts on before consumers see gaps."""
    import datetime as dt
    import json
    import os
    import shutil
    import time

    from bigquack_spark.streaming.metrics import ProgressCapture

    src = str(tmp_path / "pc_src")
    os.makedirs(src)
    ckpt = str(tmp_path / "pc_ckpt")

    def write_batch(name, rows):
        spark.createDataFrame(rows, "event_id bigint, ts timestamp, value double") \
            .coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        part = [f for f in os.listdir(str(tmp_path / name)) if f.endswith(".parquet")][0]
        shutil.copy(
            os.path.join(str(tmp_path / name), part), os.path.join(src, f"{name}.parquet")
        )

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    write_batch("b1", [(1, t0, 1.0), (2, t0.replace(hour=3), 1.0)])

    schema = spark.read.parquet(src).schema
    agg = (
        spark.readStream.schema(schema).parquet(src)
        .observe("ingest", F.count(F.lit(1)).alias("rows"), F.sum("value").alias("v"))
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
    )

    def drain():
        q = (
            agg.writeStream.format("noop")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    cap = ProgressCapture.attach(spark)
    try:
        drain()  # watermark advances to 02:50
        # late event behind the watermark -> dropped by the state operator
        write_batch("b2", [(3, t0.replace(minute=30), 9.0), (4, t0.replace(hour=6), 1.0)])
        drain()
        deadline = time.monotonic() + 30
        prev = None
        while time.monotonic() < deadline:
            cur = cap.metrics()
            if cur and cur == prev and sum(m["num_input_rows"] for m in cur) >= 4:
                break
            prev = cur
            time.sleep(0.5)
    finally:
        cap.detach()

    rows = cap.metrics()
    assert rows
    # the late hour-0 event was silently discarded — the ledger shows it
    assert sum(m["rows_dropped_by_watermark"] for m in rows) >= 1
    # df.observe custom metrics captured and JSON-decodable
    observed = [json.loads(m["observed"]) for m in rows if m.get("observed")]
    assert any("ingest" in o and o["ingest"].get("rows", 0) > 0 for o in observed)
    df = cap.to_df(spark)
    assert "rows_dropped_by_watermark" in df.columns and "observed" in df.columns


def test_join_view_sink_empty_before_first_update(spark, tmp_path):
    """r4 advice: view() before any update (rev=0) must return an empty
    frame with the view schema, not fail on a never-written view-0 path."""
    from bigquack_spark.streaming.sink import JoinViewSink

    sink = JoinViewSink(str(tmp_path / "jv_empty"))
    v = sink.view(spark)
    assert v.count() == 0
    assert v.columns == ["o_orderpriority", "n_items", "revenue_cents"]


def test_quarantine_ingest_sink_routes_and_replays_once(spark, tmp_path):
    """Streaming quarantine: micro-batches route bad rows to the
    quarantined partition with rule evidence, counts accumulate from the
    write pass, and a crash-replayed batch (offset rollback) is a no-op
    for both data and stats."""
    from bigquack_spark.sinks.quarantine import read_accepted, read_quarantined
    from bigquack_spark.streaming.sink import QuarantineIngestSink

    src = str(tmp_path / "src")
    target = str(tmp_path / "routed")
    ckpt = str(tmp_path / "ckpt")
    rules = [("v_nonneg", "v < 0"), ("k_enum", "k NOT IN ('a', 'b')")]

    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", -1.0), (3, "zz", 5.0)], "id bigint, k string, v double"
    ).write.parquet(src)
    schema = spark.read.parquet(src).schema

    def run():
        sink = QuarantineIngestSink(target, rules)
        q = (
            spark.readStream.schema(schema).parquet(src)
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return sink

    sink = run()
    assert sink.stats == {"n_rows": 3, "n_quarantined": 2}
    good = read_accepted(spark, target)
    assert [r.id for r in good.collect()] == [1]
    bad = {r.id: r.violated_rules for r in read_quarantined(spark, target).collect()}
    assert bad == {2: "v_nonneg", 3: "k_enum"}

    # crash window: offset file lost, same batch replays -> converges
    import os
    import shutil

    os.remove(os.path.join(target, "_COMMITTED_BATCH"))

    shutil.rmtree(ckpt)
    sink2 = run()
    assert sink2.stats == {"n_rows": 3, "n_quarantined": 2}
    assert read_accepted(spark, target).count() == 1
    assert read_quarantined(spark, target).count() == 2

    # committed replay: a second run with intact offsets is a pure no-op
    import pyspark.sql.functions as SF

    sink3 = QuarantineIngestSink(target, rules)
    df = spark.createDataFrame([(9, "a", 1.0)], "id bigint, k string, v double")
    sink3(df, batch_id=0)  # id 0 already committed
    assert sink3.stats == {"n_rows": 0, "n_quarantined": 0}
    assert read_accepted(spark, target).filter(SF.col("id") == 9).count() == 0


def test_streaming_quarantine_redrive_converges_and_survives_crash(spark, tmp_path):
    """r5 verdict #5, streaming layout: redrive() re-routes parked rows as
    the NEXT exactly-once batch, clears consumed partitions, and rolls
    forward from its snapshot after a mid-drive crash."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from bigquack_spark.sinks.quarantine import read_accepted, read_quarantined
    from bigquack_spark.streaming.sink import QuarantineIngestSink

    src = str(tmp_path / "src")
    target = str(tmp_path / "routed")
    ckpt = str(tmp_path / "ckpt")
    rules = [("v_nonneg", "v < 0"), ("k_enum", "k NOT IN ('a', 'b')")]
    spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", -1.0), (3, "zz", 5.0), (4, "a", -4.0)],
        "id bigint, k string, v double",
    ).write.parquet(src)
    schema = spark.read.parquet(src).schema
    sink = QuarantineIngestSink(target, rules)
    (
        spark.readStream.schema(schema).parquet(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    assert read_quarantined(spark, target).count() == 3

    class Boom(RuntimeError):
        pass

    def exploding(q):
        raise Boom()

    # crash mid-drive: snapshot durable, consumed partitions cleared
    with pytest.raises(Boom):
        sink.redrive(spark, exploding)
    assert any(n.startswith(".redrive-staging-") for n in os.listdir(target))

    def repair(q):  # fixes the negative-v rows, not the bad enum
        return q.withColumn("v", F.abs(F.col("v")))

    got = sink.redrive(spark, repair)
    assert got == {"n_redriven": 3, "n_repaired": 2, "n_still_quarantined": 1}
    assert sorted(r.id for r in read_accepted(spark, target).collect()) == [1, 2, 4]
    bad = {r.id: r.violated_rules for r in read_quarantined(spark, target).collect()}
    assert bad == {3: "k_enum"}
    assert not any(n.startswith(".redrive-staging-") for n in os.listdir(target))
    # redrive output lives in its OWN id namespace (batch_id=-2), so the
    # engine's foreachBatch sequence was not consumed...
    assert os.path.isdir(os.path.join(target, "batch_id=-2"))
    nb = sink.next_batch_id
    # ...a genuine engine replay is still a no-op...
    sink(spark.createDataFrame([(9, "a", 1.0)], schema), nb - 1)
    assert read_accepted(spark, target).count() == 3
    # ...and the engine's NEXT real micro-batch still lands (the r6 review
    # bug: publishing the redrive at next_batch_id dropped this one)
    sink(spark.createDataFrame([(10, "b", 2.0)], schema), nb)
    assert sorted(r.id for r in read_accepted(spark, target).collect()) == [1, 2, 4, 10]

    # a second drive over only-unrepairable rows converges (no dup, no loss)
    got2 = sink.redrive(spark, repair)
    assert got2 == {"n_redriven": 1, "n_repaired": 0, "n_still_quarantined": 1}
    assert read_accepted(spark, target).count() == 4
    assert read_quarantined(spark, target).count() == 1

    # schema gate: a type-changing repair is rejected before publishing
    import pytest as _pytest

    with _pytest.raises(ValueError, match="schema"):
        sink.redrive(spark, lambda q: q.withColumn("v", q.v.cast("string")))


def test_streaming_shred_then_quarantine_ingest_posture(spark, tmp_path):
    """r5 verdict #2, end to end in the streaming layout: the default
    events ingest posture is shred-at-landing (one from_json parse ->
    typed columns) composed with the exactly-once quarantine router —
    downstream reads typed columns, never raw JSON, and malformed JSON
    parks with evidence instead of poisoning the table."""
    from bigquack_spark.operators.jsonshred import shred_json
    from bigquack_spark.sinks.quarantine import read_accepted, read_quarantined
    from bigquack_spark.streaming.sink import QuarantineIngestSink

    src = str(tmp_path / "src")
    target = str(tmp_path / "landed")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [
            (1, '{"k": 7, "tag": "a"}'),
            (2, '{"k": -1, "tag": "b"}'),   # violates k_nonneg after shred
            (3, "not-json"),                 # parses to NULLs -> parked
        ],
        "id bigint, props string",
    ).write.parquet(src)
    schema = spark.read.parquet(src).schema
    # rules evaluate on the SHREDDED typed columns
    rules = [("k_nonneg", "k IS NULL OR k < 0")]
    sink = QuarantineIngestSink(target, rules)

    def handle(batch_df, batch_id):
        sink(shred_json(batch_df, "props", "k INT, tag STRING"), batch_id)

    (
        spark.readStream.schema(schema).parquet(src)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
        .awaitTermination(120)
    )
    good = read_accepted(spark, target)
    assert good.columns == ["id", "k", "tag", "batch_id"]  # typed, no raw props
    assert dict(good.dtypes)["k"] == "int"
    assert [(r.id, r.k, r.tag) for r in good.collect()] == [(1, 7, "a")]
    bad = {r.id: r.violated_rules for r in read_quarantined(spark, target).collect()}
    assert bad == {2: "k_nonneg", 3: "k_nonneg"}


def test_streaming_redrive_with_nothing_parked_is_noop(spark, tmp_path):
    import os

    from bigquack_spark.streaming.sink import QuarantineIngestSink

    target = str(tmp_path / "routed")
    rules = [("v_nonneg", "v < 0")]
    sink = QuarantineIngestSink(target, rules)
    sink(spark.createDataFrame([(1, 1.0)], "id bigint, v double"), 0)
    got = sink.redrive(spark, lambda q: q)
    assert got == {"n_redriven": 0, "n_repaired": 0, "n_still_quarantined": 0}
    # no redrive batch dir, no committed marker bump, no staging residue
    assert not os.path.isdir(os.path.join(target, "batch_id=-2"))
    assert not os.path.exists(os.path.join(target, "_REDRIVE_COMMITTED"))
    assert not any(n.startswith(".redrive-staging-") for n in os.listdir(target))
    assert sink.next_batch_id == 1


def test_stats_maintained_append_sink_folds_incrementally(spark, tmp_path):
    """r8 stats loop, streaming leg: each committed batch folds into the
    manifest without rescanning earlier batches — proven by garbaging
    batch 0's files (same sizes) before batch 1 lands."""
    import os

    from bigquack_spark.operators.maintenance import stats_are_fresh
    from bigquack_spark.operators.planner import load_fresh_stats
    from bigquack_spark.streaming.sink import StatsMaintainedAppendSink

    target = str(tmp_path / "stats_stream")
    sink = StatsMaintainedAppendSink(target)
    sink(spark.range(100).selectExpr("id", "CAST(id AS DOUBLE) AS v"), 0)
    assert stats_are_fresh(target)
    assert load_fresh_stats(target)["rows"] == 100

    # unreadable-but-same-size batch-0 files: a rescan would crash
    for dirpath, dirnames, filenames in os.walk(os.path.join(target, "batch_id=0")):
        for n in filenames:
            if n.endswith(".parquet"):
                p = os.path.join(dirpath, n)
                with open(p, "r+b") as fh:
                    fh.write(b"\x00" * os.path.getsize(p))

    sink(spark.range(100, 150).selectExpr("id", "CAST(id AS DOUBLE) AS v"), 1)
    assert stats_are_fresh(target)
    m = load_fresh_stats(target)
    assert m["rows"] == 150
    assert m["columns"]["id"]["ndv_approx"] == 150
    assert m["columns"]["v"]["max"] == 149.0

    # replayed batch id: durable no-op, stats untouched
    sink(spark.range(999).selectExpr("id", "CAST(id AS DOUBLE) AS v"), 0)
    assert load_fresh_stats(target)["rows"] == 150


def test_stats_maintained_sink_heals_stale_manifest_on_replay(spark, tmp_path):
    """r8 review pass 3: a crash between the offset persist and the stats
    fold leaves the manifest stale; the replayed batch must heal it
    instead of early-returning forever."""
    import os

    from bigquack_spark.operators.maintenance import STATS_FILE, stats_are_fresh
    from bigquack_spark.streaming.sink import StatsMaintainedAppendSink

    target = str(tmp_path / "heal")
    sink = StatsMaintainedAppendSink(target)
    df = spark.range(50).selectExpr("id")
    sink(df, 0)
    # simulate the crash window: offset persisted, fold lost
    os.remove(os.path.join(target, STATS_FILE))
    sink(df, 0)  # replayed batch id
    assert stats_are_fresh(target)


def test_ann_index_ingest_sink_exactly_once_and_drift(spark, tmp_path):
    """Streaming ANN ingest closes the index lifecycle: build once, stream
    embedding batches through AnnIndexIngestSink (exactly-once appends
    into the frozen-quantizer cells), probes see new vectors immediately,
    replayed batch ids are no-ops across 'restart', and drift monitoring
    surfaces the rebuild recommendation without acting on it."""
    import os

    from bigquack_spark.operators import simsearch as S
    from bigquack_spark.streaming.sink import AnnIndexIngestSink
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet")
    n_total = emb.count()
    base = emb.filter("vec_id < 400")
    late = emb.filter("vec_id >= 400")
    path = str(tmp_path / "ivf")
    assert S.build_ivf_index(base, path, n_lists=4, seed=42) == 4

    # stream the late vectors in as parquet micro-batches
    src = str(tmp_path / "incoming")
    late.write.parquet(src)
    sink = AnnIndexIngestSink(path, drift_check=True)
    (
        spark.readStream.schema(late.schema).parquet(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )
    n_late = late.count()
    assert sink.appended == n_late
    assert sink.last_drift is not None and "rebuild" in sink.last_drift
    idx = spark.read.parquet(f"{path}/index")
    assert idx.count() == n_total
    assert idx.select("id").distinct().count() == n_total

    # the probe serves appended vectors with exact brute-force parity
    queries = emb.filter(F.col("vec_id") < 3)
    served = S.probe_ivf_index(spark, path, queries, k=5, n_probes=4)
    brute = S.cosine_topk(emb, queries, k=5)
    assert sorted(map(tuple, served.collect())) == sorted(map(tuple, brute.collect()))

    # restart: a fresh sink reloads the durable offset; replayed ids no-op
    replay = AnnIndexIngestSink(path)
    committed = replay.next_batch_id
    assert committed >= 1
    replay(late.limit(7), batch_id=0)
    assert spark.read.parquet(f"{path}/index").count() == n_total  # no dupes
    assert replay.appended == 0
    # offset file lives at the index ROOT so a rebuild preserves it
    S.rebuild_ivf_index(spark, path)
    assert os.path.isfile(os.path.join(path, "_COMMITTED_BATCH"))
    assert AnnIndexIngestSink(path).next_batch_id == committed


def _offset_gated_sinks():
    """Constructor per offset-gated sink, keyed by class name."""
    from bigquack_spark.streaming.documents import NearDupIngestSink
    from bigquack_spark.streaming.events import Scd2EnrichSink
    from bigquack_spark.streaming.sink import (
        AnnIndexIngestSink,
        ExactlyOnceBatchSink,
        QuarantineIngestSink,
        SketchRollupSink,
        StatsMaintainedAppendSink,
    )

    return {
        "ExactlyOnceBatchSink": ExactlyOnceBatchSink,
        "SketchRollupSink": lambda root: SketchRollupSink(root, key_col="id"),
        "QuarantineIngestSink": lambda root: QuarantineIngestSink(root, [("neg", "id < 0")]),
        "StatsMaintainedAppendSink": StatsMaintainedAppendSink,
        "Scd2EnrichSink": lambda root: Scd2EnrichSink(
            root, lambda spark: None, on="id", left_ts="ts", right_ts="ts", right_cols=[]
        ),
        "AnnIndexIngestSink": AnnIndexIngestSink,
        "NearDupIngestSink": NearDupIngestSink,
    }


@pytest.mark.parametrize(
    "kind",
    [
        "ExactlyOnceBatchSink",
        "SketchRollupSink",
        "QuarantineIngestSink",
        "StatsMaintainedAppendSink",
        "Scd2EnrichSink",
        "AnnIndexIngestSink",
        "NearDupIngestSink",
    ],
)
def test_sink_detects_checkpoint_reset(spark, tmp_path, kind):
    """r11 advice: a fresh/relocated streaming checkpoint restarts batch
    ids at 0 while the target's _COMMITTED_BATCH keeps the old high-water
    mark — without a guard every new batch is silently dropped as a
    "replay" (data loss).  Every offset-gated sink must fail LOUDLY on a
    first-batch id far below the committed offset, while a genuine
    restart (replay of exactly the last in-flight batch) still no-ops
    quietly."""
    import json as _json
    import os as _os

    make = _offset_gated_sinks()[kind]
    root = str(tmp_path / "target")
    _os.makedirs(root)
    df = spark.range(3)
    if kind == "StatsMaintainedAppendSink":
        # a replay heals a stale manifest; give it a fresh one to keep
        from bigquack_spark.operators.maintenance import collect_table_stats

        df.write.parquet(_os.path.join(root, "batch_id=6"))
        collect_table_stats(spark, root)
    with open(_os.path.join(root, "_COMMITTED_BATCH"), "w") as fh:
        _json.dump({"next_batch_id": 7}, fh)
    before = sorted(_os.listdir(root))

    # checkpoint reset: first batch id 0 against committed offset 7
    sink = make(root)
    with pytest.raises(RuntimeError, match="checkpoint"):
        sink(df, 0)

    # genuine restart: the one in-flight batch (id 6) replays as a no-op,
    # and earlier ids on SUBSEQUENT calls are plain replays, never a raise
    sink = make(root)
    sink(df, 6)
    sink(df, 3)  # later call: ordinary replay no-op
    assert sink.next_batch_id == 7
    assert sorted(_os.listdir(root)) == before


def test_join_view_sink_detects_checkpoint_reset(tmp_path):
    """JoinViewSink keeps its stream offset in _STATE and applies the same
    first-batch rule as the offset-gated sinks."""
    import json as _json
    import os as _os

    from bigquack_spark.streaming.sink import JoinViewSink

    base = str(tmp_path / "jv")
    _os.makedirs(base)
    with open(_os.path.join(base, "_STATE"), "w") as fh:
        _json.dump({"rev": 3, "orders_rev": 1, "lines_rev": 2, "next_stream_batch": 7}, fh)
    with pytest.raises(RuntimeError, match="checkpoint"):
        JoinViewSink(base)(None, 0)  # gate fires before the DataFrame is touched
    sink = JoinViewSink(base)
    sink(None, 6)
    sink(None, 3)
    assert (sink.rev, sink.next_stream_batch) == (3, 7)
