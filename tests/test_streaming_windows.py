"""Streaming windowed aggregations (SURVEY.md §2.9 T1/T2/T6/T9):
tumbling event-time windows with watermark, trigger sizing via
maxFilesPerTrigger, memory-sink drains."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from sync_spark.sources.cdc import read_event_stream, write_event_batch


def _ev(seq, ts, table="users"):
    return {
        "op": "insert",
        "seq": seq,
        "ts": ts,
        "source_table": table,
        "key_json": json.dumps({"id": seq}),
        "after_json": json.dumps({"id": seq}),
    }


def test_tumbling_window_with_watermark(spark, tmp_path):
    log = str(tmp_path / "ev")
    write_event_batch(
        log,
        [
            _ev(1, "2024-01-01T00:01:00Z"),
            _ev(2, "2024-01-01T00:04:00Z"),
            _ev(3, "2024-01-01T00:07:00Z"),
            _ev(4, "2024-01-01T01:02:00Z"),
        ],
        1,
    )
    stream = read_event_stream(spark, log)
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "source_table")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("winout")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql(
        "SELECT date_format(w.start, 'HH:mm') AS s, n FROM winout ORDER BY s"
    ).collect()
    assert [(r.s, r.n) for r in rows] == [("00:00", 2), ("00:05", 1), ("01:00", 1)]


def test_streaming_session_window(spark, tmp_path):
    """Native session_window in streaming (T9 extension): events gap
    > 10 min split sessions per table."""
    log = str(tmp_path / "sev")
    write_event_batch(
        log,
        [
            _ev(1, "2024-01-01T00:00:00Z"),
            _ev(2, "2024-01-01T00:05:00Z"),  # same session (gap 5m)
            _ev(3, "2024-01-01T00:30:00Z"),  # new session (gap 25m)
        ],
        1,
    )
    stream = read_event_stream(spark, log)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "10 minutes").alias("w"), "source_table")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sessout")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql(
        "SELECT date_format(w.start, 'HH:mm') AS s, n FROM sessout ORDER BY s"
    ).collect()
    assert [(r.s, r.n) for r in rows] == [("00:00", 2), ("00:30", 1)]


def test_max_files_per_trigger_batches(spark, tmp_path):
    log = str(tmp_path / "ev2")
    for b in range(3):
        write_event_batch(log, [_ev(b * 10 + i, "2024-01-01T00:00:00Z") for i in range(2)], b)
    stream = read_event_stream(spark, log, max_files_per_trigger=1)
    seen_batches = []

    def sink(df, bid):
        seen_batches.append((bid, df.count()))

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # T1/T2: one file per micro-batch → 3 batches of 2 events
    assert sorted(n for _, n in seen_batches) == [2, 2, 2]
    assert len(seen_batches) == 3


def _vev(seq, ts, value, table="users"):
    return {
        "op": "insert",
        "seq": seq,
        "ts": ts,
        "source_table": table,
        "key_json": json.dumps({"id": seq}),
        "after_json": json.dumps({"id": seq, "value": value}),
    }


def test_jst_daily_watermark_replay(spark, tmp_path):
    """T9 harness (monitor.go:961-1155 parity): deterministic event
    log replayed one file per micro-batch, with out-of-order and late
    arrivals. Checks the three watermark behaviors exactly:
    - out-of-order events while the JST day is still open are counted;
    - the day finalizes (append-mode emit) when the watermark passes
      its end;
    - a straggler arriving after finalization is dropped, not merged.

    JST day 2024-01-10 = UTC [2024-01-09T15:00, 2024-01-10T15:00).
    Watermark delay = 2 hours on the JST-shifted clock.
    """
    from sync_spark.streaming.windows import jst_daily_window_stats

    import os
    import time

    log = str(tmp_path / "wmev")
    base = time.time() - 100

    def _pin_order(fname, n):
        # FileStreamSource orders by mtime; same-millisecond writes
        # would make the replay order nondeterministic
        os.utime(fname, (base + n, base + n))

    # batch 0: two day-1 events, in order
    _pin_order(
        write_event_batch(
            log,
            [
                _vev(1, "2024-01-09T20:00:00Z", 10.0),
                _vev(2, "2024-01-10T02:00:00Z", 20.0),
            ],
            0,
        ),
        0,
    )
    # batch 1: e3 is OUT OF ORDER (earlier than everything seen) but
    # day 1 is still open -> must be counted; e4 moves the watermark
    # past day 1's end (01-10T15:00 UTC + 2h delay), closing day 1
    _pin_order(
        write_event_batch(
            log,
            [
                _vev(3, "2024-01-09T16:00:00Z", 30.0),
                _vev(4, "2024-01-10T20:00:00Z", 40.0),
            ],
            1,
        ),
        1,
    )
    # batch 2: normal day-2 event; during this batch the watermark
    # from batch 1 (01-11T03:00 JST) passes day 1's end -> day 1 is
    # FINALIZED and emitted as (3, 60.0)
    _pin_order(write_event_batch(log, [_vev(6, "2024-01-10T22:00:00Z", 60.0)], 2), 2)
    # batch 3: e5 is TOO LATE (day 1 already finalized; Spark's
    # late-record filter applies the watermark one batch after
    # eviction, hence the spacer above) -> dropped, day 1 is NOT
    # re-opened and no second day-1 row may appear
    _pin_order(write_event_batch(log, [_vev(5, "2024-01-10T05:00:00Z", 999.0)], 3), 3)
    # batch 4: sentinel far in the future advances the watermark past
    # day 2's end so its final row is emitted (its own window stays
    # open and must NOT appear)
    _pin_order(write_event_batch(log, [_vev(7, "2024-01-20T00:00:00Z", 0.0)], 4), 4)

    stream = read_event_stream(spark, log, max_files_per_trigger=1)
    agg = jst_daily_window_stats(stream, watermark="2 hours")
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("jstwm")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql(
        "SELECT CAST(jst_day AS STRING) AS d, n_events, total FROM jstwm ORDER BY d"
    ).collect()
    assert [(r.d, r.n_events, r.total) for r in rows] == [
        ("2024-01-10", 3, 60.0),  # 10+20+30: out-of-order e3 counted, late e5 dropped
        ("2024-01-11", 2, 100.0),  # 40+60
    ]


def test_dedup_within_watermark_protects_window_counts(spark, tmp_path):
    """At-least-once redelivery: the same (key, seq) arriving twice
    must not double-count in a downstream windowed aggregation.
    dropDuplicatesWithinWatermark absorbs the replay in-stream."""
    from sync_spark.streaming.windows import dedup_events_within_watermark

    log = str(tmp_path / "dev")
    write_event_batch(
        log,
        [
            _ev(1, "2024-01-01T00:01:00Z"),
            _ev(2, "2024-01-01T00:04:00Z"),
        ],
        1,
    )
    # simulated reconnect: seq 2 redelivered in a later file, plus a
    # genuinely new event
    write_event_batch(
        log,
        [
            _ev(2, "2024-01-01T00:04:00Z"),
            _ev(3, "2024-01-01T00:07:00Z"),
        ],
        2,
    )
    stream = dedup_events_within_watermark(read_event_stream(spark, log), watermark="30 minutes")
    agg = stream.groupBy(F.window("ts", "5 minutes").alias("w"), "source_table").agg(
        F.count(F.lit(1)).alias("n")
    )
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("dedupout")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql(
        "SELECT date_format(w.start, 'HH:mm') AS s, n FROM dedupout ORDER BY s"
    ).collect()
    # without dedup this would read [("00:00", 3), ("00:05", 1)]
    assert [(r.s, r.n) for r in rows] == [("00:00", 2), ("00:05", 1)]
