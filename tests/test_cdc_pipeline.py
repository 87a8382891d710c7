"""End-to-end CDC pipeline tests: snapshot gating, streaming MERGE
apply, latest-per-key under shuffled event order, checkpoint resume,
ignoreDeleteOps, DLQ quarantine, masking-on-stream.

Oracle: a driver-side Python fold of the same event log (strict
sequence order), mirroring the reference's compareDataConsistency
(pkg/syncer/test/common_test.go:36-40)."""

from __future__ import annotations

import glob
import json
import os
import random

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sync_spark.sources.cdc import write_event_batch
from sync_spark.spec import FieldSecurity, SyncSpec
from sync_spark.streaming.pipeline import CdcPipeline, TableTarget, snapshot_if_empty

ROW_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("balance", T.DoubleType()),
    ]
)


def _event(op, seq, table, key, after=None):
    return {
        "op": op,
        "seq": seq,
        "ts": "2024-01-01T00:00:00Z",
        "source_table": table,
        "key_json": json.dumps(key),
        "after_json": json.dumps(after) if after is not None else None,
    }


def _fold(initial: dict, events) -> dict:
    """Strict-order oracle fold: the semantics the reference gets from
    single-threaded ordered apply."""
    state = dict(initial)
    for e in sorted(events, key=lambda e: e["seq"]):
        key = json.loads(e["key_json"])["id"]
        if e["op"] == "delete":
            state.pop(key, None)
        else:
            state[key] = json.loads(e["after_json"])
    return state


def _read_target(spark, path):
    return {
        r.id: {"id": r.id, "name": r.name, "balance": r.balance}
        for r in spark.read.parquet(path).collect()
    }


@pytest.fixture
def pipeline_dirs(tmp_path):
    return {
        "events": str(tmp_path / "events"),
        "target": str(tmp_path / "target"),
        "ckpt": str(tmp_path / "ckpt"),
        "dlq": str(tmp_path / "dlq"),
    }


def _mk_pipeline(spark, dirs, spec=None, ignore_deletes=False, key=""):
    spec = spec or SyncSpec(task_id=1, type="parquet")
    tables = [
        TableTarget(
            source_table="users",
            target_path=dirs["target"],
            row_schema=ROW_SCHEMA,
            key_cols=["id"],
            ignore_deletes=ignore_deletes,
        )
    ]
    return CdcPipeline(
        spark,
        spec,
        tables,
        event_log_dir=dirs["events"],
        checkpoint_dir=dirs["ckpt"],
        dlq_path=dirs["dlq"],
        security_key=key,
    )


def _snapshot(spark, dirs, rows):
    src = spark.createDataFrame(rows, ROW_SCHEMA)
    assert snapshot_if_empty(spark, src, dirs["target"]) is True
    # second call is a no-op (target non-empty)
    assert snapshot_if_empty(spark, src, dirs["target"]) is False


def test_snapshot_then_cdc_merge(spark, pipeline_dirs):
    initial = [Row(id=1, name="a", balance=10.0), Row(id=2, name="b", balance=20.0)]
    _snapshot(spark, pipeline_dirs, initial)

    events = [
        _event("update", 1, "users", {"id": 1}, {"id": 1, "name": "a2", "balance": 11.0}),
        _event("insert", 2, "users", {"id": 3}, {"id": 3, "name": "c", "balance": 30.0}),
        _event("delete", 3, "users", {"id": 2}),
        _event("update", 4, "users", {"id": 3}, {"id": 3, "name": "c2", "balance": 31.0}),
        _event("insert", 5, "users", {"id": 2}, {"id": 2, "name": "b-re", "balance": 22.0}),
    ]
    # adversarially shuffled within one batch: seq, not arrival order,
    # must decide (SURVEY §7 risk register #2)
    shuffled = list(events)
    random.Random(7).shuffle(shuffled)
    write_event_batch(pipeline_dirs["events"], shuffled, 1)

    _mk_pipeline(spark, pipeline_dirs).run_available()

    expected = _fold({1: {"id": 1, "name": "a", "balance": 10.0}, 2: {"id": 2, "name": "b", "balance": 20.0}}, events)
    assert _read_target(spark, pipeline_dirs["target"]) == expected


def test_checkpoint_resume_processes_only_new(spark, pipeline_dirs):
    _snapshot(spark, pipeline_dirs, [Row(id=1, name="a", balance=1.0)])
    batch1 = [_event("update", 1, "users", {"id": 1}, {"id": 1, "name": "x", "balance": 2.0})]
    write_event_batch(pipeline_dirs["events"], batch1, 1)
    p = _mk_pipeline(spark, pipeline_dirs)
    p.run_available()
    assert _read_target(spark, pipeline_dirs["target"])[1]["name"] == "x"

    # second run with NEW events only — checkpoint must skip batch1
    batch2 = [
        _event("update", 2, "users", {"id": 1}, {"id": 1, "name": "y", "balance": 3.0}),
        _event("insert", 3, "users", {"id": 9}, {"id": 9, "name": "n", "balance": 9.0}),
    ]
    write_event_batch(pipeline_dirs["events"], batch2, 2)
    p2 = _mk_pipeline(spark, pipeline_dirs)
    p2.run_available()
    state = _read_target(spark, pipeline_dirs["target"])
    assert state[1]["name"] == "y"
    assert state[9]["balance"] == 9.0


def test_reapply_is_idempotent(spark, pipeline_dirs):
    """Replaying the same batch (fresh checkpoint = simulated crash
    before checkpoint commit) converges to the same state."""
    _snapshot(spark, pipeline_dirs, [Row(id=1, name="a", balance=1.0)])
    events = [
        _event("update", 1, "users", {"id": 1}, {"id": 1, "name": "z", "balance": 5.0}),
        _event("delete", 2, "users", {"id": 1}),
        _event("insert", 3, "users", {"id": 1}, {"id": 1, "name": "z2", "balance": 6.0}),
    ]
    write_event_batch(pipeline_dirs["events"], events, 1)
    _mk_pipeline(spark, pipeline_dirs).run_available()
    first = _read_target(spark, pipeline_dirs["target"])

    # wipe the checkpoint, replay everything
    import shutil

    shutil.rmtree(pipeline_dirs["ckpt"])
    _mk_pipeline(spark, pipeline_dirs).run_available()
    assert _read_target(spark, pipeline_dirs["target"]) == first


def test_ignore_delete_ops(spark, pipeline_dirs):
    _snapshot(spark, pipeline_dirs, [Row(id=1, name="a", balance=1.0)])
    write_event_batch(pipeline_dirs["events"], [_event("delete", 1, "users", {"id": 1})], 1)
    _mk_pipeline(spark, pipeline_dirs, ignore_deletes=True).run_available()
    assert 1 in _read_target(spark, pipeline_dirs["target"])


def test_dlq_quarantines_null_keys(spark, pipeline_dirs):
    _snapshot(spark, pipeline_dirs, [Row(id=1, name="a", balance=1.0)])
    events = [
        _event("insert", 1, "users", {"id": None}, {"id": None, "name": "bad", "balance": 0.0}),
        _event("update", 2, "users", {"id": 1}, {"id": 1, "name": "ok", "balance": 2.0}),
    ]
    write_event_batch(pipeline_dirs["events"], events, 1)
    _mk_pipeline(spark, pipeline_dirs).run_available()
    state = _read_target(spark, pipeline_dirs["target"])
    assert state[1]["name"] == "ok" and len(state) == 1
    dlq = spark.read.parquet(pipeline_dirs["dlq"]).collect()
    assert len(dlq) == 1 and dlq[0].reason == "null_key" and dlq[0].seq == 1


def test_masking_on_stream(spark, pipeline_dirs):
    spec = SyncSpec(
        task_id=1,
        type="parquet",
        field_security={"users": [FieldSecurity(field="name", security_type="masked")]},
    )
    _snapshot(spark, pipeline_dirs, [Row(id=1, name="a", balance=1.0)])
    write_event_batch(
        pipeline_dirs["events"],
        [_event("insert", 1, "users", {"id": 2}, {"id": 2, "name": "secret", "balance": 2.0})],
        1,
    )
    _mk_pipeline(spark, pipeline_dirs, spec=spec).run_available()
    state = _read_target(spark, pipeline_dirs["target"])
    assert state[2]["name"] == "******"
    assert state[1]["name"] == "a"  # pre-existing rows untouched


def test_dlq_payload_honors_field_security(spark, pipeline_dirs):
    """The DLQ is a retained, replayable copy — a rule-masked field
    must not appear in it in plaintext (review finding)."""
    spec = SyncSpec(
        task_id=1,
        type="parquet",
        field_security={"users": [FieldSecurity(field="name", security_type="masked")]},
    )
    _snapshot(spark, pipeline_dirs, [Row(id=1, name="a", balance=1.0)])
    write_event_batch(
        pipeline_dirs["events"],
        [_event("insert", 1, "users", {"id": None},
                {"id": None, "name": "topsecret", "balance": 0.0})],
        1,
    )
    _mk_pipeline(spark, pipeline_dirs, spec=spec).run_available()
    dlq = spark.read.parquet(pipeline_dirs["dlq"]).collect()
    assert len(dlq) == 1
    assert "topsecret" not in dlq[0].payload


def test_security_rule_on_key_column_refused(spark, pipeline_dirs):
    spec = SyncSpec(
        task_id=1,
        type="parquet",
        field_security={"users": [FieldSecurity(field="id", security_type="encrypted")]},
    )
    with pytest.raises(ValueError, match="key columns"):
        _mk_pipeline(spark, pipeline_dirs, spec=spec, key="k" * 16)


def test_events_bootstrap_missing_target(spark, pipeline_dirs):
    """First CDC events for a never-snapshotted table must create the
    target instead of wedging the stream on PATH_NOT_FOUND."""
    events = [
        _event("insert", 1, "users", {"id": 5}, {"id": 5, "name": "new", "balance": 9.0}),
    ]
    write_event_batch(pipeline_dirs["events"], events, 1)
    _mk_pipeline(spark, pipeline_dirs).run_available()
    state = _read_target(spark, pipeline_dirs["target"])
    assert state == {5: {"name": "new", "balance": 9.0}} or state[5]["name"] == "new"


# ---------------------------------------------------------------------------
# PK-changing updates (before_key_json) — the reference's
# UPDATE ... SET new WHERE old_pk (mysql.go:600-616)
# ---------------------------------------------------------------------------


def _pk_event(seq, old_id, new_row):
    e = _event("update", seq, "users", {"id": new_row["id"]}, new_row)
    e["before_key_json"] = json.dumps({"id": old_id})
    return e


def test_changes_for_table_synthesizes_old_key_delete(spark):
    from sync_spark.sources.cdc import changes_for_table

    ev = spark.createDataFrame(
        [
            _pk_event(1, 1, {"id": 99, "name": "moved", "balance": 5.0}),
            # before_key equal to the after key: NO synthetic delete
            {**_event("update", 2, "users", {"id": 2},
                      {"id": 2, "name": "same", "balance": 6.0}),
             "before_key_json": json.dumps({"id": 2})},
            # no before_key at all
            _event("update", 3, "users", {"id": 3},
                   {"id": 3, "name": "plain", "balance": 7.0}),
        ]
    )
    out = changes_for_table(ev, "users", ROW_SCHEMA, ["id"]).collect()
    by_op = {}
    for r in out:
        by_op.setdefault(r.op, []).append(r)
    assert len(out) == 4
    assert [d.id for d in by_op["delete"]] == [1]  # old key, synthesized
    assert by_op["delete"][0].seq == 1
    assert sorted(u.id for u in by_op["update"]) == [2, 3, 99]


def test_pipeline_pk_change_moves_row(spark, pipeline_dirs):
    initial = [Row(id=i, name=f"n{i}", balance=float(i)) for i in range(1, 9)]
    _snapshot(spark, pipeline_dirs, initial)
    write_event_batch(
        pipeline_dirs["events"],
        [_pk_event(1, 3, {"id": 97, "name": "moved", "balance": 33.0})],
        1,
    )
    _mk_pipeline(spark, pipeline_dirs).run_available()
    tgt = _read_target(spark, pipeline_dirs["target"])
    assert 3 not in tgt  # old key gone (bucket of the OLD key was touched)
    assert tgt[97] == {"id": 97, "name": "moved", "balance": 33.0}
    assert len(tgt) == len(initial)


def test_pk_change_applies_even_with_ignore_deletes(spark, pipeline_dirs):
    """The synthesized old-key delete is part of an UPDATE, not a user
    delete: ignoreDeleteOps must drop source deletes but still move
    the row (the reference's UPDATE runs regardless of the flag)."""
    _snapshot(
        spark, pipeline_dirs,
        [Row(id=1, name="a", balance=1.0), Row(id=2, name="b", balance=2.0)],
    )
    write_event_batch(
        pipeline_dirs["events"],
        [
            _pk_event(1, 1, {"id": 50, "name": "moved", "balance": 10.0}),
            _event("delete", 2, "users", {"id": 2}),  # user delete: ignored
        ],
        1,
    )
    _mk_pipeline(spark, pipeline_dirs, ignore_deletes=True).run_available()
    tgt = _read_target(spark, pipeline_dirs["target"])
    assert 1 not in tgt and 50 in tgt  # moved despite ignore_deletes
    assert 2 in tgt  # user delete ignored


# ---------------------------------------------------------------------------
# DLQ replay (reference: processDeadLetterQueue, mongodb.go:1836-1950)
# ---------------------------------------------------------------------------


def test_dlq_replay_with_fix(spark, pipeline_dirs):
    from sync_spark.streaming.pipeline import replay_dlq

    _snapshot(spark, pipeline_dirs, [Row(id=1, name="a", balance=1.0)])
    # event with a NULL key → quarantined, target untouched
    bad = _event("insert", 5, "users", {"id": None},
                 {"id": None, "name": "lost", "balance": 42.0})
    good = _event("update", 6, "users", {"id": 1},
                  {"id": 1, "name": "a2", "balance": 11.0})
    write_event_batch(pipeline_dirs["events"], [bad, good], 1)
    pipe = _mk_pipeline(spark, pipeline_dirs)
    pipe.run_available()
    tgt = _read_target(spark, pipeline_dirs["target"])
    assert "lost" not in {v["name"] for v in tgt.values()}

    # repair: assign the missing key, then replay through the SAME
    # pipeline (no side-door writes)
    def fix(df):
        return df.withColumn("id", F.coalesce(F.col("id"), F.lit(777)))

    replayed, remaining = replay_dlq(
        spark, pipeline_dirs["dlq"], pipeline_dirs["events"],
        "users", ROW_SCHEMA, ["id"], fix=fix,
    )
    assert (replayed, remaining) == (1, 0)
    pipe.run_available()
    tgt = _read_target(spark, pipeline_dirs["target"])
    assert tgt[777]["name"] == "lost" and tgt[777]["balance"] == 42.0


def test_dlq_replay_without_fix_parks_with_retry_count(spark, pipeline_dirs):
    from sync_spark.streaming.pipeline import replay_dlq

    _snapshot(spark, pipeline_dirs, [Row(id=1, name="a", balance=1.0)])
    bad = _event("insert", 5, "users", {"id": None},
                 {"id": None, "name": "x", "balance": 1.0})
    write_event_batch(pipeline_dirs["events"], [bad], 1)
    _mk_pipeline(spark, pipeline_dirs).run_available()

    # blind retries can never fix a null key: row stays, retries tick
    for i in range(3):
        replayed, remaining = replay_dlq(
            spark, pipeline_dirs["dlq"], pipeline_dirs["events"],
            "users", ROW_SCHEMA, ["id"],
        )
        assert (replayed, remaining) == (0, 1)
    rows = spark.read.parquet(pipeline_dirs["dlq"] + "/table=users").collect()
    assert rows[0].retry_count == 3
    assert rows[0].reason == "retries_exhausted"


def test_malformed_before_key_synthesizes_nothing(spark):
    """A field-incomplete / unparseable before key behaves as if the
    producer sent none: no NULL-key delete (which the pipeline's
    good-row filter would silently discard without a DLQ trace)."""
    from sync_spark.sources.cdc import changes_for_table

    events = [
        {**_event("update", 1, "users", {"id": 9},
                  {"id": 9, "name": "x", "balance": 1.0}),
         "before_key_json": "{}"},
        {**_event("update", 2, "users", {"id": 10},
                  {"id": 10, "name": "y", "balance": 2.0}),
         "before_key_json": "not json at all"},
    ]
    out = changes_for_table(spark.createDataFrame(events), "users", ROW_SCHEMA, ["id"])
    rows = out.collect()
    assert len(rows) == 2 and all(r.op == "update" for r in rows)


def test_dlq_replay_merges_mixed_schemas(spark, pipeline_dirs):
    """Pre-upgrade quarantine batches (no retry_count) and replay
    rewrites (with it) coexist: mergeSchema + null-coalesce keep every
    row's count correct instead of resetting or crashing."""
    import shutil as _sh

    from sync_spark.streaming.pipeline import replay_dlq

    table_dir = pipeline_dirs["dlq"] + "/table=users"
    # legacy batch WITHOUT retry_count
    spark.createDataFrame(
        [("insert", 1, "null_key", json.dumps({"id": None, "name": "old", "balance": 1.0}))],
        "op string, seq long, reason string, payload string",
    ).write.parquet(table_dir + "/batch_id=1")
    # modern batch WITH retry_count=2
    spark.createDataFrame(
        [("insert", 2, "null_key", json.dumps({"id": None, "name": "new", "balance": 2.0}), 2)],
        "op string, seq long, reason string, payload string, retry_count int",
    ).write.parquet(table_dir + "/batch_id=2")

    replayed, remaining = replay_dlq(
        spark, pipeline_dirs["dlq"], pipeline_dirs["events"],
        "users", ROW_SCHEMA, ["id"], max_retry=3,
    )
    assert (replayed, remaining) == (0, 2)
    rows = {r.seq: r for r in spark.read.parquet(table_dir).collect()}
    assert rows[1].retry_count == 1   # legacy row: 0 -> 1, not reset/crash
    assert rows[2].retry_count == 3   # modern row: 2 -> 3
    assert rows[2].reason == "retries_exhausted"
    _sh.rmtree(table_dir, ignore_errors=True)


def test_dlq_replay_does_not_double_encrypt(spark, pipeline_dirs):
    """DLQ payloads already passed fieldSecurity; a replay must NOT
    re-encrypt them (ciphertext-of-ciphertext never decrypts back).
    The replayed event carries secured=True and the pipeline passes
    it through the rules untouched."""
    from sync_spark.functions.security import decrypt_value
    from sync_spark.streaming.pipeline import replay_dlq

    KEY = "k" * 16
    spec = SyncSpec(
        task_id=1,
        type="parquet",
        field_security={"users": [FieldSecurity(field="name", security_type="encrypted")]},
    )
    _snapshot(spark, pipeline_dirs, [Row(id=1, name="seed", balance=1.0)])
    bad = _event("insert", 5, "users", {"id": None},
                 {"id": None, "name": "secret-name", "balance": 42.0})
    write_event_batch(pipeline_dirs["events"], [bad], 1)
    pipe = _mk_pipeline(spark, pipeline_dirs, spec=spec, key=KEY)
    pipe.run_available()

    def fix(df):
        return df.withColumn("id", F.coalesce(F.col("id"), F.lit(888)))

    replayed, remaining = replay_dlq(
        spark, pipeline_dirs["dlq"], pipeline_dirs["events"],
        "users", ROW_SCHEMA, ["id"], fix=fix,
    )
    assert (replayed, remaining) == (1, 0)
    pipe.run_available()
    row = (
        spark.read.parquet(pipeline_dirs["target"])
        .filter(F.col("id") == 888)
        .select(decrypt_value(F.col("name"), KEY).alias("plain"))
        .collect()[0]
    )
    # single decryption recovers the original => encrypted exactly once
    assert row.plain == "secret-name"


def test_prune_event_log_retention(spark, pipeline_dirs):
    """Pruning committed batches does not disturb a checkpointed
    pipeline: the stream continues from its checkpoint over the
    remaining files, and a fresh consumer sees only what's left."""
    import os as _os

    from sync_spark.sources.cdc import prune_event_log

    _snapshot(spark, pipeline_dirs, [Row(id=1, name="a", balance=1.0)])
    for i in (1, 2):
        write_event_batch(
            pipeline_dirs["events"],
            [_event("update", i, "users", {"id": 1},
                    {"id": 1, "name": f"v{i}", "balance": float(i)})],
            i,
        )
    pipe = _mk_pipeline(spark, pipeline_dirs)
    pipe.run_available()
    assert _read_target(spark, pipeline_dirs["target"])[1]["name"] == "v2"

    deleted = prune_event_log(pipeline_dirs["events"], before_batch_id=2)
    assert deleted == ["events-0000000001.jsonl"]
    remaining = sorted(_os.listdir(pipeline_dirs["events"]))
    assert "events-0000000002.jsonl" in remaining

    # the checkpointed pipeline keeps working on new batches
    write_event_batch(
        pipeline_dirs["events"],
        [_event("update", 3, "users", {"id": 1},
                {"id": 1, "name": "v3", "balance": 3.0})],
        3,
    )
    _mk_pipeline(spark, pipeline_dirs).run_available()
    assert _read_target(spark, pipeline_dirs["target"])[1]["name"] == "v3"


def test_export_exhausted_dlq_moves_terminal_rows_out(spark, pipeline_dirs, tmp_path):
    """Terminal DLQ lifecycle (round 5): after max_retry blind replays
    a null-key row is parked as retries_exhausted; export moves it to
    a parquet artifact and the live queue drops it, so replay loops
    stop re-reading rows that can never succeed. Re-export is a
    no-op."""
    from sync_spark.streaming.pipeline import export_exhausted_dlq, replay_dlq

    _snapshot(spark, pipeline_dirs, [Row(id=1, name="a", balance=1.0)])
    write_event_batch(
        pipeline_dirs["events"],
        [_event("insert", 5, "users", {"id": None},
                {"id": None, "name": "dead", "balance": 0.0}),
         _event("insert", 6, "users", {"id": None},
                {"id": None, "name": "fixable", "balance": 1.0})],
        1,
    )
    _mk_pipeline(spark, pipeline_dirs).run_available()
    for _ in range(3):  # exhaust blind retries
        replay_dlq(
            spark, pipeline_dirs["dlq"], pipeline_dirs["events"],
            "users", ROW_SCHEMA, ["id"],
        )
    out_dir = str(tmp_path / "dead_letters")
    exported, remaining = export_exhausted_dlq(
        spark, pipeline_dirs["dlq"], "users", out_dir
    )
    assert (exported, remaining) == (2, 0)
    art = spark.read.parquet(out_dir + "/table=users").collect()
    assert len(art) == 2
    assert {r.reason for r in art} == {"retries_exhausted"}
    assert all(r.retry_count == 3 for r in art)
    # queue is gone; another export is a clean no-op
    assert export_exhausted_dlq(spark, pipeline_dirs["dlq"], "users", out_dir) == (0, 0)
    # and a fresh quarantine after the purge starts a clean queue
    write_event_batch(
        pipeline_dirs["events"],
        [_event("insert", 7, "users", {"id": None},
                {"id": None, "name": "new-bad", "balance": 2.0})],
        2,
    )
    _mk_pipeline(spark, pipeline_dirs).run_available()
    dlq = spark.read.parquet(pipeline_dirs["dlq"] + "/table=users").collect()
    assert len(dlq) == 1 and dlq[0].reason == "null_key"


def test_export_exhausted_artifact_accumulates(spark, pipeline_dirs, tmp_path):
    """A later export must not destroy rows a previous export already
    moved out of the queue (their only remaining copy IS the
    artifact): the artifact accumulates across exports, deduped by
    seq, and a crash between artifact write and queue rewrite
    converges on re-run without duplicating rows."""
    import shutil

    from sync_spark.streaming.pipeline import export_exhausted_dlq, replay_dlq

    _snapshot(spark, pipeline_dirs, [Row(id=1, name="a", balance=1.0)])
    out_dir = str(tmp_path / "dead")

    def quarantine_and_exhaust(seq, batch):
        write_event_batch(
            pipeline_dirs["events"],
            [_event("insert", seq, "users", {"id": None},
                    {"id": None, "name": f"dead{seq}", "balance": 0.0})],
            batch,
        )
        _mk_pipeline(spark, pipeline_dirs).run_available()
        for _ in range(3):
            replay_dlq(spark, pipeline_dirs["dlq"], pipeline_dirs["events"],
                       "users", ROW_SCHEMA, ["id"])

    quarantine_and_exhaust(5, 1)
    assert export_exhausted_dlq(spark, pipeline_dirs["dlq"], "users", out_dir) == (1, 0)
    quarantine_and_exhaust(6, 2)
    # crash simulation: the export writes the artifact but dies before
    # the queue rewrite — the row sits in BOTH places; the re-run must
    # converge (same artifact, queue finally rewritten)
    queue = pipeline_dirs["dlq"] + "/table=users"
    saved = str(tmp_path / "queue_copy")
    shutil.copytree(queue, saved)
    assert export_exhausted_dlq(spark, pipeline_dirs["dlq"], "users", out_dir) == (1, 0)
    shutil.rmtree(queue, ignore_errors=True)  # export removed the drained queue
    shutil.copytree(saved, queue)  # the queue rewrite "never happened"
    assert export_exhausted_dlq(spark, pipeline_dirs["dlq"], "users", out_dir) == (1, 0)
    art = spark.read.parquet(out_dir + "/table=users").collect()
    # seq 5 NOT destroyed by the later export; seq 6 NOT duplicated by
    # the crash re-run
    assert sorted(r.seq for r in art) == [5, 6]
    assert all(r.reason == "retries_exhausted" for r in art)


def test_export_exhausted_keeps_live_queue_rows(spark, pipeline_dirs, tmp_path):
    """Mixed queue: one exhausted row is exported, a still-retryable
    null_key row SURVIVES the stage-then-swap rewrite."""
    from sync_spark.streaming.pipeline import export_exhausted_dlq, replay_dlq

    _snapshot(spark, pipeline_dirs, [Row(id=1, name="a", balance=1.0)])
    write_event_batch(
        pipeline_dirs["events"],
        [_event("insert", 5, "users", {"id": None},
                {"id": None, "name": "dead", "balance": 0.0})],
        1,
    )
    _mk_pipeline(spark, pipeline_dirs).run_available()
    for _ in range(3):
        replay_dlq(spark, pipeline_dirs["dlq"], pipeline_dirs["events"],
                   "users", ROW_SCHEMA, ["id"])
    # a SECOND bad event arrives after the first exhausted
    write_event_batch(
        pipeline_dirs["events"],
        [_event("insert", 6, "users", {"id": None},
                {"id": None, "name": "young", "balance": 1.0})],
        2,
    )
    _mk_pipeline(spark, pipeline_dirs).run_available()
    exported, remaining = export_exhausted_dlq(
        spark, pipeline_dirs["dlq"], "users", str(tmp_path / "dead")
    )
    assert (exported, remaining) == (1, 1)
    live = spark.read.parquet(pipeline_dirs["dlq"] + "/table=users").collect()
    assert len(live) == 1 and live[0].reason == "null_key"
    # the survivor is still repairable through the normal loop
    replayed, left = replay_dlq(
        spark, pipeline_dirs["dlq"], pipeline_dirs["events"],
        "users", ROW_SCHEMA, ["id"],
        fix=lambda df: df.withColumn("id", F.coalesce(F.col("id"), F.lit(99))),
    )
    assert (replayed, left) == (1, 0)
    _mk_pipeline(spark, pipeline_dirs).run_available()
    assert _read_target(spark, pipeline_dirs["target"])[99]["name"] == "young"


def test_masking_non_string_column_streams_cleanly(spark, pipeline_dirs):
    """fieldSecurity on a NON-string column (balance double) re-types
    it to string in the stored layout; the pipeline must pin bucket
    reads to the EFFECTIVE schema or the second batch wedges on a
    string-vs-double parquet read (r8 review finding)."""
    from sync_spark.functions.security import apply_security_rules

    rules = [FieldSecurity(field="balance", security_type="masked")]
    spec = SyncSpec(task_id=1, type="parquet", field_security={"users": rules})
    src = apply_security_rules(
        spark.createDataFrame([Row(id=1, name="a", balance=1.0)], ROW_SCHEMA), rules
    )
    assert snapshot_if_empty(spark, src, pipeline_dirs["target"]) is True
    write_event_batch(
        pipeline_dirs["events"],
        [_event("insert", 1, "users", {"id": 2}, {"id": 2, "name": "b", "balance": 2.5})],
        1,
    )
    _mk_pipeline(spark, pipeline_dirs, spec=spec).run_available()
    # batch 2 merges INTO buckets batch 1 wrote — the read that wedged
    write_event_batch(
        pipeline_dirs["events"],
        [_event("update", 2, "users", {"id": 2}, {"id": 2, "name": "b2", "balance": 9.9})],
        2,
    )
    _mk_pipeline(spark, pipeline_dirs, spec=spec).run_available()
    state = _read_target(spark, pipeline_dirs["target"])
    assert state[2]["name"] == "b2"
    assert state[2]["balance"] == "****"  # masked, stored as string
    assert state[1]["balance"] == "****"  # snapshot side masked too


def test_rule_added_after_snapshot_raises_migration_error(spark, pipeline_dirs):
    """Adding a re-typing rule over a target snapshotted WITHOUT it
    must fail with the migration message, not a reader exception."""
    _snapshot(spark, pipeline_dirs, [Row(id=1, name="a", balance=1.0)])  # balance DOUBLE
    rules = [FieldSecurity(field="balance", security_type="masked")]
    spec = SyncSpec(task_id=1, type="parquet", field_security={"users": rules})
    write_event_batch(
        pipeline_dirs["events"],
        [_event("update", 1, "users", {"id": 1}, {"id": 1, "name": "x", "balance": 3.0})],
        1,
    )
    import pytest

    with pytest.raises(Exception, match="re-types columns.*migration"):
        _mk_pipeline(spark, pipeline_dirs, spec=spec).run_available()


def test_null_op_event_quarantines_not_vanishes(spark, pipeline_dirs):
    """A malformed line whose op parsed as NULL must reach the DLQ
    (reason null_op), not pass both of apply_changes' op filters as
    false and vanish silently (r8 review finding)."""
    _snapshot(spark, pipeline_dirs, [Row(id=1, name="a", balance=1.0)])
    ev = _event("insert", 1, "users", {"id": 7}, {"id": 7, "name": "n", "balance": 7.0})
    ev["op"] = None
    good = _event("update", 2, "users", {"id": 1}, {"id": 1, "name": "x", "balance": 2.0})
    write_event_batch(pipeline_dirs["events"], [ev, good], 1)
    _mk_pipeline(spark, pipeline_dirs).run_available()
    state = _read_target(spark, pipeline_dirs["target"])
    assert state[1]["name"] == "x" and 7 not in state
    dlq = spark.read.parquet(pipeline_dirs["dlq"]).collect()
    assert len(dlq) == 1 and dlq[0].reason == "null_op" and dlq[0].seq == 1


def test_null_op_quarantines_even_with_ignore_deletes(spark, pipeline_dirs):
    """ignore_deletes' `op != 'delete'` filter is NULL for a null-op
    row — it must not silently drop the event before quarantine."""
    _snapshot(spark, pipeline_dirs, [Row(id=1, name="a", balance=1.0)])
    ev = _event("insert", 1, "users", {"id": 8}, {"id": 8, "name": "n", "balance": 8.0})
    ev["op"] = None
    write_event_batch(pipeline_dirs["events"], [ev], 1)
    _mk_pipeline(spark, pipeline_dirs, ignore_deletes=True).run_available()
    dlq = spark.read.parquet(pipeline_dirs["dlq"]).collect()
    assert len(dlq) == 1 and dlq[0].reason == "null_op"


def test_export_exhausted_preserves_distinct_null_seq_rows(spark, pipeline_dirs, tmp_path):
    """Distinct corrupt rows that all carry NULL seq must each survive
    into the audit artifact — dropDuplicates(['seq']) collapsed them
    to one while the queue rewrite destroyed the rest (r8 review)."""
    from sync_spark.streaming.pipeline import export_exhausted_dlq

    dlq_table = f"{pipeline_dirs['dlq']}/table=users"
    rows = [
        (None, None, "retries_exhausted", '{"id": null, "name": "c1"}', 3),
        (None, None, "retries_exhausted", '{"id": null, "name": "c2"}', 3),
        (None, None, "retries_exhausted", '{"id": null, "name": "c3"}', 3),
    ]
    spark.createDataFrame(
        rows, "op string, seq long, reason string, payload string, retry_count int"
    ).write.mode("overwrite").parquet(f"{dlq_table}/batch_id=1")
    out_dir = str(tmp_path / "exhausted")
    n_ex, n_keep = export_exhausted_dlq(
        spark, pipeline_dirs["dlq"], "users", out_dir
    )
    assert (n_ex, n_keep) == (3, 0)
    art = spark.read.parquet(f"{out_dir}/table=users")
    assert art.count() == 3
    # idempotent re-export: same rows again, still 3 (full-row dedup)
    spark.createDataFrame(
        rows, "op string, seq long, reason string, payload string, retry_count int"
    ).write.mode("overwrite").parquet(f"{dlq_table}/batch_id=1")
    export_exhausted_dlq(spark, pipeline_dirs["dlq"], "users", out_dir)
    assert spark.read.parquet(f"{out_dir}/table=users").count() == 3


def test_reserved_envelope_names_rejected(spark):
    """r9 (ADVICE r8): a source schema carrying op/seq/secured would be
    silently shadowed by the envelope bookkeeping columns (and never
    schema-evolve into the target) — changes_for_table must refuse
    loudly instead."""
    import pyspark.sql.types as T

    import pytest as _pytest

    from sync_spark.sources.cdc import ENVELOPE_SCHEMA, changes_for_table

    env = spark.createDataFrame([], ENVELOPE_SCHEMA)
    bad = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("secured", T.BooleanType())]
    )
    with _pytest.raises(ValueError, match="reserved envelope column"):
        changes_for_table(env, "t", bad, ["id"])


def test_ignored_delete_with_null_key_not_counted_bad(spark, pipeline_dirs):
    _snapshot(spark, pipeline_dirs, [Row(id=1, name="a", balance=1.0)])
    events = [
        # null-key DELETE under ignore_deletes: dropped at the
        # envelope level, so it must NOT trip the DLQ write path
        _event("delete", 1, "users", {"id": None}),
        _event("update", 2, "users", {"id": 1},
               {"id": 1, "name": "ok", "balance": 2.0}),
    ]
    write_event_batch(pipeline_dirs["events"], events, 1)
    _mk_pipeline(spark, pipeline_dirs, ignore_deletes=True).run_available()
    assert _read_target(spark, pipeline_dirs["target"])[1]["name"] == "ok"
    # no DLQ batch dir at all — previously an EMPTY batch was written
    # (bad_n=1 but the quarantine frame had already dropped the event)
    assert not glob.glob(os.path.join(pipeline_dirs["dlq"], "table=*", "batch_id=*"))
    # a null-key INSERT must still quarantine under ignore_deletes
    write_event_batch(
        pipeline_dirs["events"],
        [_event("insert", 3, "users", {"id": None},
                {"id": None, "name": "bad", "balance": 0.0})],
        2,
    )
    _mk_pipeline(spark, pipeline_dirs, ignore_deletes=True).run_available()
    dlq = spark.read.parquet(pipeline_dirs["dlq"] + "/table=users").collect()
    assert len(dlq) == 1 and dlq[0].reason == "null_key"


def test_replay_restamps_seq_above_log_max_replay_wins(spark, pipeline_dirs):
    from sync_spark.streaming.pipeline import replay_dlq

    _snapshot(spark, pipeline_dirs, [Row(id=1, name="a", balance=1.0)])
    write_event_batch(
        pipeline_dirs["events"],
        [_event("insert", 5, "users", {"id": None},
                {"id": None, "name": "repaired", "balance": 42.0})],
        1,
    )
    pipe = _mk_pipeline(spark, pipeline_dirs)
    pipe.run_available()

    # a NEWER live update for the same key the repair will assign,
    # still unconsumed when the replay lands → both files drain in ONE
    # availableNow micro-batch, so per-key compaction (max seq) is the
    # tiebreak. Without re-stamping, seq=100 beats the replayed seq=5
    # and the operator's repair silently loses.
    write_event_batch(
        pipeline_dirs["events"],
        [_event("update", 100, "users", {"id": 1},
                {"id": 1, "name": "stale-live", "balance": 0.0})],
        2,
    )

    def fix(df):
        return df.withColumn("id", F.coalesce(F.col("id"), F.lit(1)))

    replayed, remaining = replay_dlq(
        spark, pipeline_dirs["dlq"], pipeline_dirs["events"],
        "users", ROW_SCHEMA, ["id"], fix=fix,
    )
    assert (replayed, remaining) == (1, 0)
    # the appended replay file carries a fresh seq above the log max
    replay_files = glob.glob(os.path.join(pipeline_dirs["events"], "events-9*.jsonl"))
    assert replay_files
    seqs = [json.loads(line)["seq"]
            for p in replay_files for line in open(p) if line.strip()]
    assert min(seqs) > 100
    pipe.run_available()
    tgt = _read_target(spark, pipeline_dirs["target"])
    assert tgt[1]["name"] == "repaired" and tgt[1]["balance"] == 42.0
