"""Kafka transport for the change envelope (sources/cdc.py
kafka_envelope / read_event_stream(format="kafka")): the wire-path
twin of the JSONL file source. Contract-tested OFFLINE by synthesizing
raw frames in the Kafka source's public schema — no broker, no
spark-sql-kafka jar: the transform and the downstream pipeline
(projection, compaction) must be transport-agnostic.

Reference behavior being re-expressed: the change-stream watcher
tails a live feed over the network (mongodb.go:527-610); here a
Debezium-style connector publishes to a topic and this adapter maps
key/value/offset onto the envelope (seq = offset).
"""

from __future__ import annotations

import datetime
import json

import pytest
from pyspark.sql import functions as F

from sync_spark.operators.merge import compact_latest_per_key
from sync_spark.sources.cdc import (
    ENVELOPE_SCHEMA,
    KAFKA_RAW_SCHEMA,
    kafka_envelope,
    read_event_stream,
    write_event_batch,
)

_EVENTS = [
    {
        "op": "insert",
        "seq": 1,
        "ts": "2024-01-05T00:00:01.000Z",
        "source_table": "users",
        "key_json": '{"id": 1}',
        "after_json": '{"id": 1, "name": "a"}',
        "before_key_json": None,
        "secured": False,
    },
    {
        "op": "update",
        "seq": 2,
        "ts": "2024-01-05T00:00:02.000Z",
        "source_table": "users",
        "key_json": '{"id": 1}',
        "after_json": '{"id": 1, "name": "b"}',
        "before_key_json": None,
        "secured": False,
    },
    {
        "op": "delete",
        "seq": 3,
        "ts": "2024-01-05T00:00:03.000Z",
        "source_table": "users",
        "key_json": '{"id": 2}',
        "after_json": None,
        "before_key_json": None,
        "secured": None,
    },
]


def _kafka_raw(spark, events, *, drop_payload_key=(), drop_payload_ts=()):
    """Synthesize the Kafka source's output frame for the same events:
    value = envelope payload JSON (no seq), key = key_json bytes,
    offset = seq, timestamp = broker receive time (event ts here)."""
    rows = []
    for e in events:
        payload = {k: v for k, v in e.items() if k != "seq"}
        if e["seq"] in drop_payload_key:
            payload.pop("key_json")
        if e["seq"] in drop_payload_ts:
            payload.pop("ts")
        ts = datetime.datetime.strptime(
            e["ts"], "%Y-%m-%dT%H:%M:%S.%fZ"
        )
        rows.append(
            (
                e["key_json"].encode(),
                json.dumps(payload).encode(),
                "cdc.users",
                0,
                int(e["seq"]),
                ts,
                0,
            )
        )
    return spark.createDataFrame(rows, KAFKA_RAW_SCHEMA)


def test_kafka_envelope_schema_contract(spark):
    env = kafka_envelope(_kafka_raw(spark, _EVENTS))
    assert [(f.name, f.dataType) for f in env.schema.fields] == [
        (f.name, f.dataType) for f in ENVELOPE_SCHEMA.fields
    ]


def test_kafka_and_file_transports_agree(spark, tmp_path):
    log = str(tmp_path / "ev")
    write_event_batch(log, _EVENTS, 0)
    file_env = spark.read.schema(ENVELOPE_SCHEMA).json(log)
    kafka_env = kafka_envelope(_kafka_raw(spark, _EVENTS))
    cols = [f.name for f in ENVELOPE_SCHEMA.fields]
    as_set = lambda df: {tuple(str(r[c]) for c in cols) for r in df.collect()}
    assert as_set(kafka_env) == as_set(file_env)
    # same compaction result through the shared merge primitive
    k = compact_latest_per_key(kafka_env, ["key_json"])
    f_ = compact_latest_per_key(file_env, ["key_json"])
    assert as_set(k) == as_set(f_)
    assert {(r.key_json, r.op) for r in k.collect()} == {
        ('{"id": 1}', "update"),
        ('{"id": 2}', "delete"),
    }


def test_kafka_fallbacks_key_from_message_key_ts_from_broker(spark):
    """Debezium layout: the key struct rides the MESSAGE KEY and the
    payload may omit key_json/ts — both fall back (key bytes, broker
    timestamp)."""
    env = kafka_envelope(
        _kafka_raw(spark, _EVENTS, drop_payload_key={2}, drop_payload_ts={2})
    ).orderBy("seq")
    rows = env.collect()
    assert rows[1].key_json == '{"id": 1}'  # from message key bytes
    assert rows[1].ts == rows[0].ts.replace(second=2)  # broker timestamp


def test_kafka_stream_branch_validates_options(spark, tmp_path):
    with pytest.raises(ValueError, match="bootstrap"):
        read_event_stream(spark, "topic", format="kafka")
    with pytest.raises(ValueError, match="unknown event-stream format"):
        read_event_stream(spark, str(tmp_path), format="pulsar")


def test_kafka_per_key_seq_monotonicity_is_what_compaction_needs(spark):
    """seq = offset is monotonic per partition; a key-partitioned
    producer therefore gives per-key monotone seq. Adversarial check:
    shuffle the frame, compact, and the latest offset still wins per
    key — no reliance on arrival order."""
    env = kafka_envelope(_kafka_raw(spark, _EVENTS)).repartition(7)
    out = compact_latest_per_key(env, ["key_json"])
    got = {(r.key_json, r.seq) for r in out.collect()}
    assert got == {('{"id": 1}', 2), ('{"id": 2}', 3)}
