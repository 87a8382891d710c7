"""Snapshot / time-travel layer over the bucketed CDC store
(sources/snapshots.py): snapshots are versions of a Delta log at
``<store>/.snapshots`` that survive later bucket swaps, as-of reads
reproduce the frozen state exactly, rollback is itself undoable and
restores the bucket layout, untouched buckets share inodes with the
live table, and retention only drops unreferenced versions."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from sync_spark.operators.merge import apply_changes
from sync_spark.sources.bucketed import (
    BUCKET_COL,
    bucket_expr,
    bucketize_in_place,
    lookup_keys,
    overwrite_buckets,
    read_meta,
    read_target,
    write_bucketed,
)
from sync_spark.sources.snapshots import (
    expire_snapshots,
    read_snapshot,
    snapshot_create,
    snapshot_rollback,
    snapshot_versions,
    stray_entries,
)

SCHEMA = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
)
N_BUCKETS = 8


def _rows(spark, pairs):
    return spark.createDataFrame([(i, v) for i, v in pairs], SCHEMA)


def _state(spark, path):
    return {(r.id, r.v) for r in read_target(spark, path).collect()}


def _merge(spark, path, changes_rows):
    """Latest-per-key merge of (id, v, op) rows into the live store,
    swapping only touched buckets — the pipeline's apply path."""
    ch = spark.createDataFrame(
        [(i, v, op, s) for s, (i, v, op) in enumerate(changes_rows, 1)],
        "id long, v string, op string, seq long",
    )
    target = read_target(spark, path)
    merged = apply_changes(target, ch, keys=["id"])
    touched = [
        r[0]
        for r in ch.select(bucket_expr(["id"], N_BUCKETS).alias("b")).distinct().collect()
    ]
    # restrict the swap to touched-bucket rows (pipeline contract)
    merged_touched = merged.filter(
        bucket_expr(["id"], N_BUCKETS).isin([int(b) for b in touched])
    )
    overwrite_buckets(merged_touched, path, ["id"], N_BUCKETS, touched)


def test_snapshot_read_survives_later_merges(spark, tmp_path):
    tgt = str(tmp_path / "t")
    base = [(i, f"v{i}") for i in range(20)]
    write_bucketed(_rows(spark, base), tgt, ["id"], N_BUCKETS)
    v1 = snapshot_create(spark, tgt, note="initial")
    assert v1 == 0 and snapshot_versions(tgt)[-1]["version"] == 0
    # an unchanged store commits nothing: the latest version comes back
    assert snapshot_create(spark, tgt) == 0

    _merge(spark, tgt, [(3, "CHANGED", "upsert"), (7, None, "delete"), (99, "NEW", "upsert")])
    v2 = snapshot_create(spark, tgt)
    assert v2 == 1

    # live reflects the merge
    live = _state(spark, tgt)
    assert (3, "CHANGED") in live and (99, "NEW") in live
    assert all(i != 7 for i, _ in live)
    # v1 is the PRE-merge world, byte-for-byte, even though the
    # touched buckets' live dirs were deleted by the swap
    asof1 = {(r.id, r.v) for r in read_snapshot(spark, tgt, v1).collect()}
    assert asof1 == set(base)
    asof2 = {(r.id, r.v) for r in read_snapshot(spark, tgt, v2).collect()}
    assert asof2 == live


def test_untouched_buckets_share_inodes(spark, tmp_path):
    """A snapshot is metadata-only and links each file once: files of
    buckets untouched since a version are the SAME inode in the live
    tree and in `.snapshots/`, which holds one link per file however
    many versions name it; a touched bucket's old files stay pinned
    only by `.snapshots/`."""
    tgt = str(tmp_path / "t")
    write_bucketed(_rows(spark, [(i, f"v{i}") for i in range(20)]), tgt, ["id"], N_BUCKETS)
    snapshot_create(spark, tgt)
    # find the bucket id 3 hashes to, pick a DIFFERENT live bucket
    b3 = spark.createDataFrame([(3,)], "id long").select(
        bucket_expr(["id"], N_BUCKETS).alias("b")
    ).collect()[0].b
    _merge(spark, tgt, [(3, "CHANGED", "upsert")])
    snapshot_create(spark, tgt)

    def inodes(d):
        return {f: os.stat(os.path.join(d, f)).st_ino for f in os.listdir(d) if f.endswith(".parquet")}

    snap = os.path.join(tgt, ".snapshots")
    checked = 0
    for entry in os.listdir(tgt):
        if not entry.startswith(f"{BUCKET_COL}="):
            continue
        live, frozen = inodes(os.path.join(tgt, entry)), inodes(os.path.join(snap, entry))
        if int(entry.split("=", 1)[1]) == b3:
            # touched bucket: the new file is linked beside the old one,
            # which no longer shares with live
            old = {f: i for f, i in frozen.items() if f not in live}
            assert old and set(old.values()).isdisjoint(live.values())
            assert all(frozen[f] == i for f, i in live.items())
            continue
        checked += 1
        assert frozen == live  # same names, same inodes, one link each
    assert checked > 0


def test_rollback_restores_and_is_undoable(spark, tmp_path):
    tgt = str(tmp_path / "t")
    base = [(i, f"v{i}") for i in range(12)]
    write_bucketed(_rows(spark, base), tgt, ["id"], N_BUCKETS)
    v = snapshot_create(spark, tgt)
    _merge(spark, tgt, [(1, "BROKEN", "upsert"), (50, "OOPS", "upsert")])
    broken = _state(spark, tgt)
    assert (1, "BROKEN") in broken

    safety = snapshot_rollback(spark, tgt, v)
    assert _state(spark, tgt) == set(base)
    # rollback is undoable: the safety version holds the broken state
    assert {(r.id, r.v) for r in read_snapshot(spark, tgt, safety).collect()} == broken
    # store stays mergeable after rollback
    _merge(spark, tgt, [(2, "AGAIN", "upsert")])
    assert (2, "AGAIN") in _state(spark, tgt)


def test_expire_keeps_recent_versions(spark, tmp_path):
    tgt = str(tmp_path / "t")
    write_bucketed(_rows(spark, [(i, "x") for i in range(8)]), tgt, ["id"], N_BUCKETS)
    for k in range(4):
        _merge(spark, tgt, [(k, f"gen{k}", "upsert")])
        snapshot_create(spark, tgt, note=f"gen{k}")
    expired = expire_snapshots(tgt, keep_last=2)
    assert expired == [0, 1]
    vs = snapshot_versions(tgt)
    assert [v["version"] for v in vs] == [2, 3]
    # the collapsed base version keeps its own note
    assert [v["note"] for v in vs] == ["gen2", "gen3"]
    # remaining versions still readable; expired ones are gone
    assert read_snapshot(spark, tgt, 2).count() == 8
    with pytest.raises(ValueError, match="unknown snapshot version"):
        read_snapshot(spark, tgt, 0)
    # the log always keeps its latest version
    with pytest.raises(ValueError, match="keep_versions must be >= 1"):
        expire_snapshots(tgt, keep_last=0)
    assert snapshot_versions(tgt)[-1]["version"] == 3


def test_unknown_version_errors(spark, tmp_path):
    tgt = str(tmp_path / "t")
    write_bucketed(_rows(spark, [(1, "a")]), tgt, ["id"], N_BUCKETS)
    with pytest.raises(ValueError, match="unknown snapshot version"):
        read_snapshot(spark, tgt, 1)
    with pytest.raises(ValueError, match="unknown snapshot version"):
        snapshot_rollback(spark, tgt, 1)


def test_pipeline_snapshot_after_batch(spark, tmp_path):
    """Opt-in streaming integration: each applied micro-batch freezes
    a version tagged with its batch id; as-of reads reproduce the
    state between batches."""
    import json as _json

    from pyspark.sql import Row
    from sync_spark.sources.cdc import write_event_batch
    from sync_spark.spec import SyncSpec
    from sync_spark.streaming.pipeline import CdcPipeline, TableTarget, snapshot_if_empty

    ROW_SCHEMA = T.StructType(
        [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
    )

    def ev(op, seq, key, after=None):
        return {
            "op": op, "seq": seq, "ts": "2024-01-01T00:00:00Z",
            "source_table": "users", "key_json": _json.dumps(key),
            "after_json": _json.dumps(after) if after is not None else None,
        }

    dirs = {k: str(tmp_path / k) for k in ("events", "target", "ckpt")}
    src = spark.createDataFrame([Row(id=1, name="a"), Row(id=2, name="b")], ROW_SCHEMA)
    assert snapshot_if_empty(spark, src, dirs["target"])
    pipe = CdcPipeline(
        spark,
        SyncSpec(task_id=1, type="parquet"),
        [TableTarget("users", dirs["target"], ROW_SCHEMA, ["id"])],
        event_log_dir=dirs["events"],
        checkpoint_dir=dirs["ckpt"],
        max_files_per_trigger=1,
        snapshot_after_batch=True,
    )
    write_event_batch(dirs["events"], [ev("update", 1, {"id": 1}, {"id": 1, "name": "a2"})], 1)
    pipe.run_available()
    write_event_batch(dirs["events"], [ev("delete", 2, {"id": 2})], 2)
    pipe.run_available()

    vs = snapshot_versions(dirs["target"])
    assert len(vs) == 2
    assert all(v["note"].startswith("batch=") for v in vs)
    v1 = {(r.id, r.name) for r in read_snapshot(spark, dirs["target"], vs[0]["version"]).collect()}
    v2 = {(r.id, r.name) for r in read_snapshot(spark, dirs["target"], vs[1]["version"]).collect()}
    assert v1 == {(1, "a2"), (2, "b")}
    assert v2 == {(1, "a2")}
    live = {(r.id, r.name) for r in read_target(spark, dirs["target"]).collect()}
    assert live == v2


def test_snapshot_diff(spark, tmp_path):
    from sync_spark.sources.snapshots import snapshot_diff

    tgt = str(tmp_path / "t")
    write_bucketed(
        _rows(spark, [(i, f"v{i}") for i in range(6)]), tgt, ["id"], N_BUCKETS
    )
    va = snapshot_create(spark, tgt)
    _merge(spark, tgt, [
        (2, "CHANGED", "upsert"),   # changed
        (5, None, "delete"),        # removed
        (9, "NEW", "upsert"),       # added
    ])
    vb = snapshot_create(spark, tgt)
    diff = {
        (r.id, r.change)
        for r in snapshot_diff(spark, tgt, va, vb, ["id"]).collect()
    }
    assert diff == {(2, "changed"), (5, "removed"), (9, "added")}
    # reverse direction flips added/removed
    rev = {
        (r.id, r.change)
        for r in snapshot_diff(spark, tgt, vb, va, ["id"]).collect()
    }
    assert rev == {(2, "changed"), (5, "added"), (9, "removed")}


def test_snapshot_create_survives_orphan_version_dir(spark, tmp_path, monkeypatch):
    """Crash window of snapshot_create: the new files are linked into
    `.snapshots/` BEFORE the log commit, so a crash between the two
    leaves orphan links that no version names. No version becomes
    visible, and the next create commits the store state exactly under
    the next free version."""
    import sync_spark.sources.delta_export as D

    tgt = str(tmp_path / "t")
    write_bucketed(_rows(spark, [(1, "a"), (2, "b")]), tgt, ["id"], N_BUCKETS)
    assert snapshot_create(spark, tgt) == 0
    _merge(spark, tgt, [(3, "c", "upsert")])

    def crash(*_a, **_k):
        raise RuntimeError("crash before commit")

    monkeypatch.setattr(D, "write_commit", crash)
    with pytest.raises(RuntimeError, match="crash before commit"):
        snapshot_create(spark, tgt)
    monkeypatch.undo()

    linked = {
        f"{b}/{f}"
        for b in os.listdir(os.path.join(tgt, ".snapshots"))
        if b.startswith(f"{BUCKET_COL}=")
        for f in os.listdir(os.path.join(tgt, ".snapshots", b))
    }
    assert linked - set(D.replay_with_checkpoint(os.path.join(tgt, ".snapshots"))["files"])
    assert [v["version"] for v in snapshot_versions(tgt)] == [0]
    assert {(r.id, r.v) for r in read_snapshot(spark, tgt, 0).collect()} == {(1, "a"), (2, "b")}

    assert snapshot_create(spark, tgt) == 1
    assert {(r.id, r.v) for r in read_snapshot(spark, tgt, 1).collect()} == _state(spark, tgt)


def test_rollback_restores_bucket_layout(spark, tmp_path):
    """A version carries the bucket layout (`.sync_meta.json` in the
    log's metaData.configuration): snapshot under 8 buckets,
    re-bucketize the store to 4 — a full rewrite that keeps the
    snapshot log —, roll back, and the layout is 8 again, so point
    lookups hash into the right buckets."""
    tgt = str(tmp_path / "t")
    base = [(i, f"v{i}") for i in range(40)]
    write_bucketed(_rows(spark, base), tgt, ["id"], N_BUCKETS)
    v = snapshot_create(spark, tgt)

    bucketize_in_place(spark, tgt, ["id"], 4)
    assert read_meta(tgt)["n_buckets"] == 4
    assert snapshot_versions(tgt)[-1]["version"] == v  # the rewrite kept the log

    snapshot_rollback(spark, tgt, v)
    assert read_meta(tgt) == {"n_buckets": N_BUCKETS, "key_cols": ["id"]}
    got = lookup_keys(spark, tgt, [(i,) for i, _ in base])
    assert {(r.id, r.v) for r in got.collect()} == set(base)


def test_rollback_after_expiry_keeps_version_layout(spark, tmp_path):
    """Expiry checkpoints the oldest retained version; that version
    must keep its OWN bucket layout, not the latest one. Two versions under 8 buckets, re-bucketize to 4, a
    third version, expire to 2, roll back to the oldest retained: the
    layout is 8 and point lookups find every key."""
    tgt = str(tmp_path / "t")
    base = [(i, f"v{i}") for i in range(40)]
    write_bucketed(_rows(spark, base), tgt, ["id"], N_BUCKETS)
    assert snapshot_create(spark, tgt) == 0
    _merge(spark, tgt, [(3, "changed", "upsert"), (50, "new", "upsert")])
    assert snapshot_create(spark, tgt) == 1
    frozen = _state(spark, tgt)

    bucketize_in_place(spark, tgt, ["id"], 4)
    assert snapshot_create(spark, tgt) == 2
    assert expire_snapshots(tgt, keep_last=2) == [0]

    snapshot_rollback(spark, tgt, 1)
    assert read_meta(tgt) == {"n_buckets": N_BUCKETS, "key_cols": ["id"]}
    got = lookup_keys(spark, tgt, [(i,) for i, _ in frozen])
    assert {(r.id, r.v) for r in got.collect()} == frozen


def test_stray_snapshot_entries_are_reported(spark, tmp_path):
    """Entries under `.snapshots/` outside the Delta log (an earlier
    format's per-version trees) are no version; listing them as nothing
    would hide the bytes they pin, so they are reported."""
    tgt = str(tmp_path / "t")
    write_bucketed(_rows(spark, [(1, "a")]), tgt, ["id"], N_BUCKETS)
    assert stray_entries(tgt) == []
    os.makedirs(os.path.join(tgt, ".snapshots", "v0"))
    open(os.path.join(tgt, ".snapshots", "manifest.json"), "w").close()
    assert stray_entries(tgt) == ["manifest.json", "v0"]
    with pytest.warns(UserWarning, match="outside its Delta log"):
        assert snapshot_versions(tgt) == []
    assert snapshot_create(spark, tgt) == 0
    assert stray_entries(tgt) == ["manifest.json", "v0"]
    with pytest.warns(UserWarning, match="outside its Delta log"):
        assert [v["version"] for v in snapshot_versions(tgt)] == [0]


def test_rollback_parks_extra_buckets_and_heals_leaks(spark, tmp_path):
    n = 8
    path = str(tmp_path / "store")
    base = spark.createDataFrame([Row(id=1, v="v1")], "id long, v string")
    write_bucketed(base, path, ["id"], n)
    v1 = snapshot_create(spark, path, note="base")
    before = {e for e in os.listdir(path) if e.startswith(f"{BUCKET_COL}=")}
    # grow the keyspace: live gains bucket dirs the snapshot lacks
    grown = spark.createDataFrame(
        [Row(id=i, v="new") for i in range(2, 40)], "id long, v string"
    )
    touched = [
        r[0]
        for r in grown.select(bucket_expr(["id"], n).alias("b")).distinct().collect()
    ]
    overwrite_buckets(grown, path, ["id"], n, touched)
    after = {e for e in os.listdir(path) if e.startswith(f"{BUCKET_COL}=")}
    assert after - before, "fixture must create buckets absent from the snapshot"
    # plant a leaked parked dir from a simulated crash mid-delete
    leaked = os.path.join(path, ".rbstage_doomed_deadbeef")
    os.makedirs(leaked)
    snapshot_rollback(spark, path, v1)
    # rollback restored v1 exactly; no half-deleted bucket visible
    got = {(r.id, r.v) for r in read_target(spark, path).collect()}
    assert got == {(1, "v1")}
    # neither the planted leak nor any new parking dir survives entry
    assert not [e for e in os.listdir(path) if e.startswith(".rbstage_")]
