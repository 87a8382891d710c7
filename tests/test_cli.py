"""python -m sync_spark CLI (sync_spark/__main__.py): the reference's
binary surface as explicit scheduler-friendly subcommands."""

from __future__ import annotations

import json

from pyspark.sql import Row
from pyspark.sql import types as T

from sync_spark.__main__ import main

SPEC = {
    "taskId": 7,
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


def _setup(spark, tmp_path):
    dirs = {
        "src": tmp_path / "src",
        "tgt": tmp_path / "tgt",
        "ev": tmp_path / "ev",
        "ck": tmp_path / "ck",
    }
    for d in dirs.values():
        d.mkdir(exist_ok=True)
    spark.createDataFrame(
        [Row(id=1, name="a"), Row(id=2, name="b")],
        T.StructType([T.StructField("id", T.LongType()), T.StructField("name", T.StringType())]),
    ).write.mode("overwrite").parquet(str(dirs["src"] / "users.parquet"))
    spec_path = tmp_path / "spec.json"
    spec_path.write_text(json.dumps(SPEC))
    return dirs, spec_path


def _task_args(dirs, spec_path):
    return [
        "--spec", str(spec_path),
        "--source-dir", str(dirs["src"]),
        "--target-root", str(dirs["tgt"]),
        "--event-log", str(dirs["ev"]),
        "--checkpoint", str(dirs["ck"]),
    ]


def test_cli_run_execute_snapshot(spark, tmp_path, capsys):
    from sync_spark.sources.cdc import write_event_batch

    dirs, spec_path = _setup(spark, tmp_path)
    # run once: snapshot + (empty) drain
    assert main(["run", *_task_args(dirs, spec_path)]) == 0
    out = capsys.readouterr().out
    assert '"snapshot": {"users": true}' in out and '"cdc": "drained"' in out

    # events then a second drain picks them up
    write_event_batch(
        str(dirs["ev"]),
        [{
            "op": "insert", "seq": 1, "ts": "2024-01-01T00:00:00Z",
            "source_table": "users", "key_json": json.dumps({"id": 3}),
            "after_json": json.dumps({"id": 3, "name": "c"}),
        }],
        1,
    )
    assert main(["run", *_task_args(dirs, spec_path)]) == 0
    capsys.readouterr()

    # execute: SQL over the mapped target view
    assert main([
        "execute", *_task_args(dirs, spec_path),
        "--query", "SELECT COUNT(*) AS n FROM users_t",
    ]) == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[0])
    assert payload["kind"] == "sql" and payload["rows"][0]["n"] == 3

    # execute: Mongo dialect through the same dispatch
    assert main([
        "execute", *_task_args(dirs, spec_path),
        "--query", "db.users.find({id: {$gte: 2}}).sort({id: 1})",
    ]) == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[0])
    assert payload["kind"] == "mongo_find" and [r["id"] for r in payload["rows"]] == [2, 3]

    # execute --apply: a MERGE statement persists onto the target
    assert main([
        "execute", *_task_args(dirs, spec_path), "--apply",
        "--query", (
            "MERGE INTO users_t AS t USING (SELECT 7 AS id, 'g' AS name) s "
            "ON t.id = s.id WHEN NOT MATCHED THEN INSERT *"
        ),
    ]) == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[0])
    assert payload["kind"] == "merge" and payload["applied"].endswith("users_t")
    assert main([
        "execute", *_task_args(dirs, spec_path),
        "--query", "SELECT COUNT(*) AS n FROM users_t",
    ]) == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[0])
    assert payload["rows"][0]["n"] == 4
    # put the table back for the snapshot/monitor expectations below
    assert main([
        "execute", *_task_args(dirs, spec_path), "--apply",
        "--query", "db.users_t.deleteMany({id: 7})",
    ]) == 0
    capsys.readouterr()

    # snapshot create + list + diff
    tgt = str(dirs["tgt"] / "users_t")
    assert main(["snapshot", "create", "--target", tgt]) == 0
    capsys.readouterr()
    write_event_batch(
        str(dirs["ev"]),
        [{
            "op": "delete", "seq": 2, "ts": "2024-01-01T00:00:01Z",
            "source_table": "users", "key_json": json.dumps({"id": 1}),
            "after_json": None,
        }],
        2,
    )
    assert main(["run", *_task_args(dirs, spec_path)]) == 0
    capsys.readouterr()
    assert main(["snapshot", "create", "--target", tgt]) == 0
    capsys.readouterr()
    assert main([
        "snapshot", "diff", "--target", tgt, "--version", "0", "--version-b", "1",
        "--keys", "id",
    ]) == 0
    payload = json.loads(capsys.readouterr().out.strip())
    assert payload["diff"] == [{"id": 1, "change": "removed"}]

    # monitor tick prints counts
    assert main(["monitor", *_task_args(dirs, spec_path)]) == 0
    payload = json.loads(capsys.readouterr().out.strip())
    assert payload["monitor"][0]["tgt_count"] == 2


def test_cli_backup_verb(spark, tmp_path, capsys):
    """`python -m sync_spark backup --spec ...` produces the export
    artifact (round-5 task 6: run_backup_task had no CLI entry; the
    reference drives it cron->HTTP, cronjob.go)."""
    import gzip

    dirs, _ = _setup(spark, tmp_path)
    bspec = tmp_path / "backup.json"
    bspec.write_text(json.dumps({
        "name": "nightly",
        "tables": ["users"],
        "fields": {"users": ["id", "name"]},
        "format": "jsonl",
        "compression": "gzip",
        "fileNamePattern": "{table}_{YYYY}-{MM}-{DD}",
    }))
    out_dir = tmp_path / "backups"
    assert main([
        "backup", "--spec", str(bspec),
        "--source-dir", str(dirs["src"]),
        "--out-dir", str(out_dir),
        "--run-day", "2024-03-05",
    ]) == 0
    payload = json.loads(capsys.readouterr().out.strip())
    assert payload["backup"] == "nightly" and len(payload["artifacts"]) == 1
    art = payload["artifacts"][0]
    assert "users_2024-03-05" in art
    rows = []
    import glob as _glob
    import os as _os
    files = [art] if _os.path.isfile(art) else _glob.glob(_os.path.join(art, "*.gz"))
    for f in files:
        with gzip.open(f, "rt") as fh:
            rows += [json.loads(ln) for ln in fh if ln.strip()]
    assert sorted(r["id"] for r in rows) == [1, 2]


def test_cli_run_export_delta_and_checkpoint(spark, tmp_path, capsys):
    """run --export-delta publishes every bucketed target as a Delta
    table post-drain; the export-delta verb then publishes a change
    and vacuums to the latest version, and the export truncated behind
    its checkpoint still reads back the full table."""
    from sync_spark.sources.delta_export import (
        checkpoint_versions,
        log_versions,
        read_export,
    )

    dirs, spec_path = _setup(spark, tmp_path)
    exp = tmp_path / "delta"
    assert main([
        "run", *_task_args(dirs, spec_path), "--export-delta", str(exp)
    ]) == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["delta_versions"] == {"users_t": 0}
    table = str(exp / "users_t")
    got = {(r.id, r.name) for r in read_export(spark, table).collect()}
    assert got == {(1, "a"), (2, "b")}

    # export-delta verb: a new version, then vacuum to keep only it
    assert main([
        "execute", *_task_args(dirs, spec_path), "--apply",
        "--query", (
            "MERGE INTO users_t AS t USING (SELECT 3 AS id, 'c' AS name) s "
            "ON t.id = s.id WHEN NOT MATCHED THEN INSERT *"
        ),
    ]) == 0
    capsys.readouterr()
    tgt = str(dirs["tgt"] / "users_t")
    assert main([
        "export-delta", "--target", tgt, "--out", table, "--vacuum-keep", "1",
    ]) == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["exported"] == 1
    assert payload["vacuum"]["dropped_versions"] == 1
    assert log_versions(table) == checkpoint_versions(table) == [1]
    got = {(r.id, r.name) for r in read_export(spark, table).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}
    # the report reads the checkpoint too: a replay of the JSON alone
    # would miss version 0's files
    assert main(["export-delta", "--target", tgt, "--out", table]) == 0
    payload = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert payload["exported"] is None and payload["latest"] == 1


def test_cli_query_verb(spark, sf_small, capsys):
    # --list enumerates the registry with check mode
    assert main(["query", "--list"]) == 0
    lines = [json.loads(x) for x in capsys.readouterr().out.strip().splitlines()]
    names = {r["query"] for r in lines}
    assert "q1_pricing_summary" in names and "t_ppl_buckets" in names
    assert {r["check"] for r in lines} == {"oracled", "rows-only"}
    # run one query against the fixture
    assert main(["query", "w_topk_per_group", "--sf-dir", sf_small, "--limit", "5"]) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["query"] == "w_topk_per_group" and 1 <= len(out["rows"]) <= 5
    # unknown name: exit 2, error on stderr
    assert main(["query", "no_such_query"]) == 2


def test_cli_maintain_verb(spark, tmp_path, capsys):
    """`maintain` = one scheduled retention pass: committed event
    files pruned, apply counters folded below the checkpoint-derived
    cut-off (totals preserved), snapshots expired to the keep window,
    and the delta export vacuumed — all in one idempotent invocation."""
    import os

    from sync_spark.sources.cdc import write_event_batch

    dirs, spec_path = _setup(spark, tmp_path)
    for b in (1, 2):
        write_event_batch(
            str(dirs["ev"]),
            [{
                "op": "insert", "seq": b, "ts": "2024-01-01T00:00:00Z",
                "source_table": "users", "key_json": json.dumps({"id": 10 + b}),
                "after_json": json.dumps({"id": 10 + b, "name": f"x{b}"}),
            }],
            b,
        )
    dl_root = tmp_path / "delta"
    assert main([
        "run", *_task_args(dirs, spec_path), "--export-delta", str(dl_root),
    ]) == 0
    capsys.readouterr()

    # per-batch apply counters, as CdcPipeline's stats_path lays them out
    stats = tmp_path / "stats"
    for b in (1, 2):
        spark.createDataFrame([("upsert", 1)], "op string, n long").write.parquet(
            str(stats / "table=users" / f"batch_id={b}")
        )

    # three snapshots of three store states (a create on an unchanged
    # store commits nothing); maintain keeps only the newest
    tgt = str(dirs["tgt"] / "users_t")
    for k in range(3):
        if k:
            assert main([
                "execute", *_task_args(dirs, spec_path), "--apply",
                "--query", (
                    f"MERGE INTO users_t AS t USING (SELECT {20 + k} AS id, 'm' AS name) s "
                    "ON t.id = s.id WHEN NOT MATCHED THEN INSERT *"
                ),
            ]) == 0
        assert main(["snapshot", "create", "--target", tgt]) == 0
        assert json.loads(capsys.readouterr().out.strip().splitlines()[-1])["created"] == k

    # an entry outside the snapshot log (an earlier format's tree) is
    # reported, not silently skipped
    os.makedirs(os.path.join(tgt, ".snapshots", "v9"))
    assert main([
        "maintain", *_task_args(dirs, spec_path),
        "--stats", str(stats),
        "--keep-snapshots", "1",
        "--export-delta", str(dl_root),
    ]) == 0
    captured = capsys.readouterr()
    out = json.loads(captured.out.strip().splitlines()[-1])
    assert out["snapshots_stray"] == {"users_t": ["v9"]}
    assert "entries outside the snapshot log" in captured.err

    # both committed event files pruned
    assert out["pruned_event_files"] == 2
    assert not [f for f in os.listdir(dirs["ev"]) if f.startswith("events-0")]
    # stats folded below max committed batch id + 1, totals preserved
    assert out["stats_cutoff"] == 3
    assert out["stats_folded"] == {"users": 2}
    from sync_spark.operators.monitor import apply_stats_totals

    totals = {
        (r["table"], r["op"]): (r["total"], r["n_batches"])
        for r in apply_stats_totals(spark, str(stats)).collect()
    }
    assert totals[("users", "upsert")] == (2, 2)
    # snapshots expired down to 1
    assert out["snapshots_expired"]["users_t"] == [0, 1]
    # delta vacuum ran per published table (nothing to drop at 1 version)
    assert out["delta_vacuum"]["users_t"]["deleted_files"] == 0

    # idempotent second pass: nothing left to prune/fold/expire
    assert main([
        "maintain", *_task_args(dirs, spec_path),
        "--stats", str(stats),
        "--keep-snapshots", "1",
        "--export-delta", str(dl_root),
    ]) == 0
    out2 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out2["pruned_event_files"] == 0
    assert out2["snapshots_expired"].get("users_t", []) == []


def test_cli_keep_windows_below_one_exit_2(capsys):
    """A retention window below 1 is refused before any work: a Delta
    log always keeps its latest version (vacuum_export raises too)."""
    import pytest

    task = ["--spec", "s", "--source-dir", "a", "--target-root", "b",
            "--event-log", "c", "--checkpoint", "d"]
    for argv in (
        ["snapshot", "expire", "--target", "t", "--keep-last", "0"],
        ["export-delta", "--target", "t", "--out", "o", "--vacuum-keep", "0"],
        ["maintain", *task, "--keep-snapshots", "0"],
        ["maintain", *task, "--vacuum-keep", "-1"],
    ):
        with pytest.raises(SystemExit) as exc:
            main(argv)
        assert exc.value.code == 2
        assert "must be >= 1" in capsys.readouterr().err
