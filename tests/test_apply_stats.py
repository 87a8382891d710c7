"""Per-batch apply counters emitted by the CDC pipeline (A6 loop) +
replay idempotence of the stats path."""

from __future__ import annotations

import json
import shutil

from pyspark.sql import Row
from pyspark.sql import types as T

from sync_spark.operators.monitor import apply_stats_totals
from sync_spark.sources.cdc import write_event_batch
from sync_spark.spec import SyncSpec
from sync_spark.streaming.pipeline import CdcPipeline, TableTarget, snapshot_if_empty

SCHEMA = T.StructType([T.StructField("id", T.LongType()), T.StructField("v", T.StringType())])


def _ev(seq, op, vid):
    return {
        "op": op,
        "seq": seq,
        "ts": "2024-01-01T00:00:00Z",
        "source_table": "users",
        "key_json": json.dumps({"id": vid}),
        "after_json": json.dumps({"id": vid, "v": "x"}) if op != "delete" else None,
    }


def test_apply_stats_and_replay(spark, tmp_path):
    tgt = str(tmp_path / "t")
    snapshot_if_empty(spark, spark.createDataFrame([Row(id=1, v="a")], SCHEMA), tgt)
    write_event_batch(
        str(tmp_path / "ev"),
        [_ev(1, "insert", 2), _ev(2, "insert", 3), _ev(3, "update", 1), _ev(4, "delete", 3)],
        1,
    )

    def run():
        CdcPipeline(
            spark,
            SyncSpec(task_id=1, type="parquet"),
            [TableTarget("users", tgt, SCHEMA, ["id"])],
            event_log_dir=str(tmp_path / "ev"),
            checkpoint_dir=str(tmp_path / "ck"),
            stats_path=str(tmp_path / "stats"),
        ).run_available()

    run()
    totals = {(r.table, r.op): (r.total, r.n_batches) for r in apply_stats_totals(spark, str(tmp_path / "stats")).collect()}
    assert totals[("users", "insert")] == (2, 1)
    assert totals[("users", "update")] == (1, 1)
    assert totals[("users", "delete")] == (1, 1)

    # crash-replay: same batch re-applied must not double-count
    shutil.rmtree(str(tmp_path / "ck"))
    run()
    totals2 = {(r.table, r.op): (r.total, r.n_batches) for r in apply_stats_totals(spark, str(tmp_path / "stats")).collect()}
    assert totals2 == totals


def test_stats_exclude_ignored_deletes(spark, tmp_path):
    """ignoreDeleteOps tables must not count deletes as executed."""
    tgt = str(tmp_path / "t")
    snapshot_if_empty(spark, spark.createDataFrame([Row(id=1, v="a")], SCHEMA), tgt)
    write_event_batch(str(tmp_path / "ev"), [_ev(1, "insert", 2), _ev(2, "delete", 1)], 1)
    CdcPipeline(
        spark,
        SyncSpec(task_id=1, type="parquet"),
        [TableTarget("users", tgt, SCHEMA, ["id"], ignore_deletes=True)],
        event_log_dir=str(tmp_path / "ev"),
        checkpoint_dir=str(tmp_path / "ck"),
        stats_path=str(tmp_path / "stats"),
    ).run_available()
    totals = {(r.table, r.op) for r in apply_stats_totals(spark, str(tmp_path / "stats")).collect()}
    assert totals == {("users", "insert")}  # delete never executed
    assert {r.id for r in spark.read.parquet(tgt).collect()} == {1, 2}


def test_compaction_preserves_totals_and_batch_counts(spark, tmp_path):
    """compact_apply_stats folds old batch dirs into one compacted dir
    per table; apply_stats_totals must be IDENTICAL before and after —
    totals and n_batches both — across repeated, widening compactions
    and a simulated crash that leaves a superseded dir behind."""
    import os
    import shutil

    from sync_spark.operators.monitor import apply_stats_totals, compact_apply_stats

    stats = str(tmp_path / "stats")
    # 6 batches, two tables, ops appearing in differing batch subsets
    rows_by_batch = {
        1: [("users", "insert", 5), ("users", "update", 2), ("orders", "insert", 7)],
        2: [("users", "insert", 3), ("orders", "delete", 1)],
        3: [("users", "delete", 4), ("orders", "insert", 2)],
        4: [("users", "insert", 1)],
        5: [("orders", "insert", 9), ("users", "update", 6)],
        6: [("users", "insert", 8)],
    }
    for b, rows in rows_by_batch.items():
        for table in {t for t, _, _ in rows}:
            spark.createDataFrame(
                [(op, n) for t, op, n in rows if t == table], "op string, n long"
            ).coalesce(1).write.mode("overwrite").parquet(
                f"{stats}/table={table}/batch_id={b}"
            )

    def snap():
        return {
            (r.table, r.op): (r.total, r.n_batches)
            for r in apply_stats_totals(spark, stats).collect()
        }

    # keep a faithful pre-compaction copy of a live batch dir for the
    # crash simulation below
    saved_b3 = str(tmp_path / "saved_b3")
    shutil.copytree(f"{stats}/table=users/batch_id=3", saved_b3)
    before = snap()
    folded = compact_apply_stats(spark, stats, below_batch_id=4)
    assert folded == {"orders": 3, "users": 3}
    assert snap() == before
    # keep a faithful copy of c4 for the crash simulation below
    stale_c4 = f"{stats}/table=users/batch_id=c0000000004"
    saved_c4 = str(tmp_path / "saved_c4")
    shutil.copytree(stale_c4, saved_c4)
    # widening compaction folds the previous compacted dir too
    folded = compact_apply_stats(spark, stats, below_batch_id=6)
    assert folded["users"] == 3  # c4 + batches 4,5
    assert snap() == before
    # crash simulation: resurrect the superseded c4 dir WITH ITS REAL
    # pre-widening content (saved above) — i.e. compact(6) crashed
    # after renaming c6 in but before deleting c4. The reader must
    # ignore it (newest-compacted-wins)...
    shutil.copytree(saved_c4, stale_c4)
    assert snap() == before
    # ...and re-running compaction DELETES it without re-folding it
    # (its content already lives inside c6 — folding would double)
    compact_apply_stats(spark, stats, below_batch_id=6)
    assert not os.path.isdir(stale_c4)
    assert snap() == before
    # crash simulation 2: a LIVE batch dir below the cut-off survived
    # (compact(6) renamed c6 in, died mid source-deletion). Its counts
    # already live inside c6 — a re-run must DELETE it, never re-fold
    # it into a fresh c6 (double-count), and totals must not move.
    live3 = f"{stats}/table=users/batch_id=3"
    shutil.copytree(saved_b3, live3)
    assert snap() == before  # reader ignores live dirs below the cut-off
    compact_apply_stats(spark, stats, below_batch_id=6)
    assert not os.path.isdir(live3)
    assert snap() == before
    # same-cutoff re-run with nothing new to fold: a pure self-fold is
    # a no-op (rewriting the target would open a crash window)
    assert compact_apply_stats(spark, stats, below_batch_id=6) == {
        "orders": 0,
        "users": 0,
    }
    assert snap() == before


def test_cli_compact_stats_verb(spark, tmp_path, capsys):
    """python -m sync_spark compact-stats: folds old batch dirs and
    prints the (unchanged) serving totals."""
    import json as _json
    import os

    from sync_spark.__main__ import main

    stats = str(tmp_path / "stats")
    for b in (1, 2, 3):
        spark.createDataFrame(
            [("insert", b)], "op string, n long"
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{stats}/table=users/batch_id={b}"
        )
    before = {
        (r.table, r.op): (r.total, r.n_batches)
        for r in apply_stats_totals(spark, stats).collect()
    }
    assert main(["compact-stats", "--stats", stats, "--below", "3"]) == 0
    payload = _json.loads(capsys.readouterr().out.strip())
    assert payload["folded_dirs"] == {"users": 2}
    assert {
        (t["table"], t["op"]): (t["total"], t["n_batches"])
        for t in payload["totals"]
    } == before == {("users", "insert"): (6, 3)}
    entries = sorted(os.listdir(f"{stats}/table=users"))
    assert entries == ["batch_id=3", "batch_id=c0000000003"]


def test_one_batch_job_budget_and_stats_readback(spark, tmp_path):
    """One 500-event micro-batch into one bucketed table, DLQ and stats
    on, runs at most 7 Spark jobs under the stream's job group (batch
    summary 3, DLQ write 1, the once-per-table schema check 1, MERGE
    shuffle + staged write 2; the stats write runs none), reports
    numInputRows == 500, and its stats rows read back equal to the
    summary's applied counts."""
    from sync_spark.sources.bucketed import read_target

    tgt = str(tmp_path / "t")
    snapshot_if_empty(
        spark,
        spark.createDataFrame([Row(id=i, v=f"s{i}") for i in range(2000)], SCHEMA),
        tgt,
        key_cols=["id"],
    )
    events, want = [], {}
    for seq in range(1, 501):
        key = None if seq % 50 == 7 else (seq * 7) % 3000  # 10 null-key events
        op = "delete" if seq % 5 == 0 else ("insert" if key is not None and key >= 2000 else "update")
        events.append(
            {
                "op": op,
                "seq": seq,
                "ts": "2024-01-01T00:00:00Z",
                "source_table": "users",
                "key_json": json.dumps({"id": key}),
                "after_json": None if op == "delete" else json.dumps({"id": key, "v": f"x{seq}"}),
            }
        )
        if key is not None:
            want[op] = want.get(op, 0) + 1
    write_event_batch(str(tmp_path / "ev"), events, 1)

    seen = {}

    class Recorded(CdcPipeline):
        def _batch_summary(self, batch):
            seen["summary"] = super()._batch_summary(batch)
            return seen["summary"]

        def _apply_batch(self, batch, batch_id):
            super()._apply_batch(batch, batch_id)
            seen["group"] = self.spark.sparkContext.getLocalProperty("spark.jobGroup.id")
            seen["batch_id"] = batch_id

    query = Recorded(
        spark,
        SyncSpec(task_id=1, type="parquet"),
        [TableTarget("users", tgt, SCHEMA, ["id"])],
        event_log_dir=str(tmp_path / "ev"),
        checkpoint_dir=str(tmp_path / "ck"),
        dlq_path=str(tmp_path / "dlq"),
        stats_path=str(tmp_path / "stats"),
    ).start(trigger_once=True)
    query.awaitTermination()

    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(seen["group"])
    assert 0 < len(jobs) <= 7, f"{len(jobs)} jobs in one micro-batch"
    progress = [p for p in query.recentProgress if p["numInputRows"]]
    assert [p["numInputRows"] for p in progress] == [500]

    summary = {r["op"]: r["n"] for r in seen["summary"] if not r["bad"]}
    assert summary == want
    stats = spark.read.parquet(
        str(tmp_path / "stats" / "table=users" / f"batch_id={seen['batch_id']}")
    )
    assert {r.op: r.n for r in stats.collect()} == summary
    assert spark.read.parquet(str(tmp_path / "dlq")).count() == 10
    state = {i: f"s{i}" for i in range(2000)}
    for e in events:
        key = json.loads(e["key_json"])["id"]
        if key is None:
            continue
        if e["op"] == "delete":
            state.pop(key, None)
        else:
            state[key] = f"x{e['seq']}"
    assert {r.id: r.v for r in read_target(spark, tgt).collect()} == state


def test_stats_rewrite_replaces_spark_written_dir(spark, tmp_path):
    """Re-writing a batch's stats dir with the driver-side writer — a
    crash replay over a dir an older Spark writer produced, whose part
    files are named differently — replaces the dir's content, so the
    totals never double-count."""
    from sync_spark.operators.monitor import write_apply_stats

    stats = str(tmp_path / "stats")
    batch_dir = f"{stats}/table=users/batch_id=0"
    spark.createDataFrame([("insert", 3), ("delete", 1)], "op string, n long").coalesce(
        1
    ).write.mode("overwrite").parquet(batch_dir)
    write_apply_stats(batch_dir, [("insert", 3), ("delete", 1)])
    totals = {
        (r.table, r.op): (r.total, r.n_batches)
        for r in apply_stats_totals(spark, stats).collect()
    }
    assert totals == {("users", "delete"): (1, 1), ("users", "insert"): (3, 1)}
