"""T9: event-time tumbling JST-day windows over the change stream.

The reference's daily counters are mutable rows reset on a JST
schedule (pkg/utils/monitor.go:961-1155); the engine-native
re-expression is a watermarked event-time window: out-of-order events
within the watermark still land in their JST day, a day is FINALIZED
(emitted, state evicted) once the watermark passes its end, and
later-than-watermark stragglers are dropped instead of corrupting a
closed day — the exact semantics the reference approximates with
"reset at midnight JST, hope the stream is on time".

JST has no DST, so "+9 hours then 1-day tumbling window" is exactly
the JST calendar day (same trick as tz.jst_day_range for batch).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def jst_daily_window_stats(
    stream: DataFrame,
    ts_col: str = "ts",
    value: Column | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Per-(JST day, source_table) event count + value sum with
    late-data handling delegated to the watermark. Works on the CDC
    envelope (value defaults to ``after_json.$.value``) and on any
    frame with an event-time column.

    Output (append mode): one FINAL row per closed window — the
    streaming analog of the batch `a_daily_window_jst` query.
    """
    if value is None:
        value = F.get_json_object("after_json", "$.value").cast("double")
    shifted = stream.withColumn("ts_jst", F.col(ts_col) + F.expr("INTERVAL 9 HOURS"))
    return (
        shifted.withWatermark("ts_jst", watermark)
        .groupBy(F.window("ts_jst", "1 day").alias("w"), "source_table")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum(value).alias("total"))
        .select(
            F.to_date("w.start").alias("jst_day"),
            "source_table",
            "n_events",
            "total",
        )
    )


def dedup_events_within_watermark(
    stream: DataFrame,
    key_cols: list[str] | None = None,
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """At-least-once delivery dedup: drop redelivered change events
    (same key + seq) inside the watermark horizon.

    The reference's sources redeliver on reconnect (resume tokens /
    binlog positions replay from the last checkpoint, e.g. the Mongo
    resume path pkg/syncer/mongodb/mongodb.go:1561-1638 — cited for
    parity) and rely on idempotent APPLY to absorb duplicates. That
    absorbs them at the sink; this operator absorbs them IN-STREAM,
    which matters when the consumer is an aggregation (a window count
    would double-count a redelivered event — the sink MERGE can't help
    there).

    ``dropDuplicatesWithinWatermark`` keys state eviction to the
    watermark: state is O(events inside the horizon), not O(all keys
    ever seen) — the property that makes this safe on an unbounded
    100 TB stream where plain dropDuplicates would grow state forever.
    """
    keys = key_cols if key_cols is not None else ["source_table", "key_json", "seq"]
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)
