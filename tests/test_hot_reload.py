"""T10 config hot-reload through the CLI's ``run --watch`` loop: a spec
file change rebuilds the task with the new behavior from the same
checkpoint; an unchanged cycle is a no-op."""

from __future__ import annotations

import json
import types

from pyspark.sql import Row
from pyspark.sql import types as T

import sync_spark.__main__ as cli
from sync_spark.sources.bucketed import read_target
from sync_spark.sources.cdc import write_event_batch

SCHEMA = T.StructType([T.StructField("id", T.LongType()), T.StructField("v", T.StringType())])

SPEC_PLAIN = json.dumps(
    {"taskId": 1, "type": "parquet",
     "mappings": [{"tables": [{"sourceTable": "users"}]}],
     "pkColumns": {"users": ["id"]}}
)
SPEC_MASKED = json.dumps(
    {"taskId": 1, "type": "parquet",
     "mappings": [{"tables": [{"sourceTable": "users"}]}],
     "fieldSecurity": {"users": [{"field": "v", "securityType": "masked"}]},
     "pkColumns": {"users": ["id"]}}
)


def _event(seq, v):
    return {
        "op": "insert",
        "seq": seq,
        "ts": "2024-01-01T00:00:00Z",
        "source_table": "users",
        "key_json": json.dumps({"id": seq}),
        "after_json": json.dumps({"id": seq, "v": v}),
    }


def test_hot_reload_switches_behavior(spark, tmp_path, monkeypatch, capsys):
    src, tgt_root, ev = tmp_path / "src", tmp_path / "tgt", str(tmp_path / "ev")
    spark.createDataFrame([Row(id=0, v="base")], SCHEMA).write.parquet(
        str(src / "users.parquet")
    )
    tgt = str(tgt_root / "users")
    spec_file = tmp_path / "spec.json"
    spec_file.write_text(SPEC_PLAIN)
    write_event_batch(ev, [_event(1, "plain")], 1)

    def read():
        return {r.id: r.v for r in read_target(spark, tgt).collect()}

    sleeps = []

    def between_cycles(seconds):
        # the first cycle ran the task it started with: event 1 is plain
        assert read()[1] == "plain"
        # flip the spec to masked; the next cycle rebuilds with new rules
        spec_file.write_text(SPEC_MASKED)
        write_event_batch(ev, [_event(2, "secret")], 2)
        sleeps.append(seconds)

    # only the CLI's own clock: py4j's threads sleep on the real one
    monkeypatch.setattr(cli, "time", types.SimpleNamespace(sleep=between_cycles))
    assert cli.main([
        "run", "--spec", str(spec_file), "--source-dir", str(src),
        "--target-root", str(tgt_root), "--event-log", ev,
        "--checkpoint", str(tmp_path / "ck"),
        "--watch", "--max-cycles", "2", "--poll-seconds", "0",
    ]) == 0
    assert sleeps == [0.0]
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    # one reload in two cycles: the unchanged first cycle reloaded nothing
    assert out["cycles"] == 2 and out["reloads"] == 1
    got = read()
    assert got[0] == "base"
    assert got[1] == "plain"  # pre-reload rows untouched
    assert got[2] == "******"  # new rules applied after reload
