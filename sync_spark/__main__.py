"""``python -m sync_spark`` — the engine's CLI, mirroring the
reference's binary surface (cmd/sync/main.go:91-179: load config, run
sync tasks, poll for config changes, row-count monitoring — cited for
parity, not ported). Each subcommand is one of the engine's explicit
entry points, so a scheduler (cron, Airflow, Databricks jobs) can call
exactly what it needs instead of adopting a long-running daemon:

  run         snapshot-if-empty + drain the CDC event log once; with
              --watch, poll the spec file and hot-reload on change
              (T10 — the reference's 10s config reload loop)
  monitor     append one row-count monitoring tick (T11)
  execute     one /sql/execute-style statement (ANSI SQL, MERGE INTO,
              Mongo-JS, aggregate; Redis needs a KV frame and is
              API-only); --apply persists a write verb's new state
              onto the mapped target (stage-then-swap, layout kept)
  query       run one registry query (any SURVEY.md §2 operator or
              LLM-pipeline report) against a testdata-layout dir and
              print rows as JSON; --list enumerates the registry
  replay-dlq  re-inject quarantined events (schemas inferred from the
              live target footers)
  compact-stats  fold per-batch apply-counter dirs below a cut-off
              into one compacted dir per table (serving totals and
              batch counts exactly preserved)
  snapshot    create / list / rollback / diff / expire time-travel
              versions on a bucketed target
  backup      run one BackupSpec export (§3.2 expand→group→prune→
              export; the reference schedules this cron→HTTP,
              cronjob.go — a scheduler calls the verb directly here)

Row schemas for ``run`` are inferred from the SOURCE parquet files
(the spec names tables; parquet footers carry their types) — the same
contract `snapshot_if_empty` pins them to.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _spark(app: str):
    from sync_spark.session import get_spark

    return get_spark(app)


def _task(args, spark):
    from sync_spark.engine import SyncTask
    from sync_spark.spec import SyncSpec

    with open(args.spec) as fh:
        spec = SyncSpec.from_json(fh.read())

    def load_source(table: str):
        return spark.read.parquet(os.path.join(args.source_dir, f"{table}.parquet"))

    row_schemas = {}
    for m in spec.mappings:
        for t in m.tables:
            row_schemas[t.source_table] = load_source(t.source_table).schema
    return SyncTask(
        spark,
        spec,
        source_loader=load_source,
        row_schemas=row_schemas,
        target_root=args.target_root,
        event_log_dir=args.event_log,
        checkpoint_root=args.checkpoint,
        security_key=args.security_key,
    )


def cmd_run(args) -> int:
    spark = _spark("sync_cli_run")
    task = _task(args, spark)
    ran = task.snapshot()
    print(json.dumps({"snapshot": ran}))
    if not args.watch:
        task.run_cdc_available()
        out = {"cdc": "drained"}
        if args.retain_committed:
            out["pruned_files"] = len(task.prune_committed_events())
        if args.export_delta:
            out["delta_versions"] = _export_all_targets(spark, task, args.export_delta)
        print(json.dumps(out))
        return 0
    # hot-reload loop: rebuild the task on spec change, drain on each
    # poll (the reference reloads config every 10s; --max-cycles keeps
    # the CLI testable / cron-friendly instead of running forever)
    import hashlib

    def _digest() -> str | None:
        try:
            with open(args.spec, "rb") as fh:
                return hashlib.sha256(fh.read()).hexdigest()
        except OSError:
            return None

    # prime with the digest of the spec ALREADY loaded above — the
    # first cycle must not re-build/re-snapshot an unchanged task
    current, cycles, reloads, pruned = _digest(), 0, 0, 0
    for _ in range(args.max_cycles):
        # a torn/invalid spec write mid-poll must not kill the watch
        # loop: keep the running task, retry next cycle
        try:
            d = _digest()
            if d is not None and d != current:
                task = _task(args, spark)
                task.snapshot()
                current, reloads = d, reloads + 1
        except Exception as exc:  # bad spec: keep the old task
            print(json.dumps({"reload_error": str(exc)[:200]}), file=sys.stderr)
        task.run_cdc_available()
        if args.retain_committed:
            # unattended loops must not grow the log forever: drop
            # exactly what the checkpoint has committed (path-precise;
            # an unprocessed file can never match)
            pruned += len(task.prune_committed_events())
        cycles += 1
        if cycles < args.max_cycles:
            time.sleep(args.poll_seconds)
    out = {"cdc": "drained", "cycles": cycles, "reloads": reloads}
    if args.retain_committed:
        out["pruned_files"] = pruned
    if args.export_delta:
        out["delta_versions"] = _export_all_targets(spark, task, args.export_delta)
    print(json.dumps(out))
    return 0


def _export_all_targets(spark, task, export_root: str) -> dict:
    """Publish every mapped bucketed target as a Delta-protocol table
    under ``export_root/<target_table>`` (post-drain, so the export is
    a consistent committed state). Non-bucketed (legacy flat) targets
    are skipped — the export's incremental diff is defined on the
    bucketed layout."""
    import os

    from sync_spark.sources import delta_export as D
    from sync_spark.sources.bucketed import is_bucketed

    versions: dict[str, int | None] = {}
    for t in task._targets():
        if not is_bucketed(t.target_path):
            continue
        name = os.path.basename(t.target_path.rstrip("/"))
        versions[name] = D.export_delta(
            spark, t.target_path, os.path.join(export_root, name)
        )
    return versions


def cmd_monitor(args) -> int:
    spark = _spark("sync_cli_monitor")
    task = _task(args, spark)
    df = task.monitor()
    rows = df.collect() if args.metrics is None else None
    if args.metrics is not None:
        df.write.mode("append").parquet(args.metrics)
        print(json.dumps({"monitor": "appended", "path": args.metrics}))
    else:
        print(json.dumps({"monitor": [r.asDict() for r in rows]}, default=str))
    return 0


def cmd_execute(args) -> int:
    spark = _spark("sync_cli_execute")
    task = _task(args, spark)
    if args.apply:
        kind, result, applied = task.execute_apply(args.query)
        rows = [r.asDict() for r in result.limit(args.limit).collect()]
        out = {"kind": kind, "rows": rows}
        if applied is not None:
            out["applied"] = applied
        print(json.dumps(out, default=str))
        return 0
    kind, result, new_state = task.execute(args.query)
    rows = [r.asDict() for r in result.limit(args.limit).collect()]
    print(json.dumps({"kind": kind, "rows": rows}, default=str))
    if new_state is not None:
        print(
            json.dumps({"note": "write verbs return new state; re-run with --apply to persist"}),
            file=sys.stderr,
        )
    return 0


def cmd_query(args) -> int:
    """Run one registry query (the SURVEY.md §2 / LLM-pipeline
    surface) against a testdata-layout directory and print rows as
    JSON — the CLI twin of ``__spark_entry__.queries()[name]``, so a
    scheduler or a shell user can run any operator without writing a
    driver script."""
    from sync_spark.registry import all_queries

    specs = all_queries()
    if args.list:
        for name in sorted(specs):
            oracle = "oracled" if specs[name].oracle else "rows-only"
            print(json.dumps({"query": name, "check": oracle}))
        return 0
    if args.name is None or args.name not in specs:
        known = ", ".join(sorted(specs))
        print(
            json.dumps({"error": f"unknown query {args.name!r}", "known": known}),
            file=sys.stderr,
        )
        return 2
    spark = _spark("sync_cli_query")
    df = specs[args.name].spark_fn(spark, args.sf_dir)
    rows = [r.asDict() for r in df.limit(args.limit).collect()]
    print(json.dumps({"query": args.name, "rows": rows}, default=str))
    return 0


def cmd_replay_dlq(args) -> int:
    from sync_spark.sources.bucketed import read_target
    from sync_spark.streaming.pipeline import export_exhausted_dlq, replay_dlq

    spark = _spark("sync_cli_replay")
    row_schema = read_target(spark, os.path.join(args.target_root, args.table)).schema
    replayed, remaining = replay_dlq(
        spark,
        args.dlq,
        args.event_log,
        args.table,
        row_schema,
        args.keys.split(","),
    )
    out = {"replayed": replayed, "remaining": remaining}
    if args.export_exhausted_dir:
        exported, left = export_exhausted_dlq(
            spark, args.dlq, args.table, args.export_exhausted_dir
        )
        out.update({"exhausted_exported": exported, "remaining": left})
    print(json.dumps(out))
    return 0


def cmd_compact_stats(args) -> int:
    """Fold per-batch apply-counter dirs below a cut-off into one
    compacted dir per table (totals and batch counts exactly
    preserved — monitor.compact_apply_stats); the serving rollup
    stops costing O(batches) directory listings on long-running
    tasks."""
    from sync_spark.operators.monitor import apply_stats_totals, compact_apply_stats

    spark = _spark("sync_cli_compact_stats")
    folded = compact_apply_stats(args.stats, args.below)
    totals = [
        r.asDict() for r in apply_stats_totals(spark, args.stats).collect()
    ]
    print(json.dumps({"folded_dirs": folded, "totals": totals}, default=str))
    return 0


def cmd_backup(args) -> int:
    """The reference drives backups cron→HTTP (pkg/cronjob/cronjob.go
    scheduling backup.Executor runs — cited for parity, not ported);
    here a scheduler calls this verb directly. The spec is a
    BackupSpec JSON (tables/regexes, per-table projections, date
    window, jsonl|csv, gzip); sources are the parquet tables under
    --source-dir; artifacts land in --out-dir and their paths are
    printed as JSON."""
    from datetime import date as _date

    from sync_spark.engine import run_backup_task
    from sync_spark.spec import BackupSpec

    spark = _spark("sync_cli_backup")
    with open(args.spec) as fh:
        spec = BackupSpec.from_json(fh.read())
    catalog = sorted(
        f[: -len(".parquet")]
        for f in os.listdir(args.source_dir)
        if f.endswith(".parquet")
    )

    def load_table(name: str):
        return spark.read.parquet(os.path.join(args.source_dir, f"{name}.parquet"))

    run_day = _date.fromisoformat(args.run_day) if args.run_day else None
    paths = run_backup_task(
        spark,
        spec,
        catalog=catalog,
        load_table=load_table,
        out_dir=args.out_dir,
        run_day=run_day,
        ts_col=args.ts_col,
    )
    print(json.dumps({"backup": spec.name, "artifacts": paths}))
    return 0


def cmd_snapshot(args) -> int:
    from sync_spark.sources import snapshots as S

    if args.action in ("rollback", "diff") and args.version is None:
        print("error: --version is required for rollback/diff", file=sys.stderr)
        return 2
    if args.action == "diff" and args.version_b is None:
        print("error: --version-b is required for diff", file=sys.stderr)
        return 2
    spark = _spark("sync_cli_snapshot")
    if args.action == "create":
        v = S.snapshot_create(spark, args.target, note=args.note)
        print(json.dumps({"created": v}))
    elif args.action == "list":
        print(json.dumps({"versions": S.snapshot_versions(args.target)}))
    elif args.action == "rollback":
        safety = S.snapshot_rollback(spark, args.target, args.version)
        print(json.dumps({"rolled_back_to": args.version, "safety_version": safety}))
    elif args.action == "diff":
        rows = S.snapshot_diff(
            spark, args.target, args.version, args.version_b, args.keys.split(",")
        ).collect()
        print(json.dumps({"diff": [r.asDict() for r in rows]}, default=str))
    elif args.action == "expire":
        expired = S.expire_snapshots(args.target, keep_last=args.keep_last)
        print(json.dumps({"expired": expired}))
    return 0


def cmd_maintain(args) -> int:
    """ONE scheduled maintenance pass over a task's artifacts — the
    reference runs retention/compaction as a single monitor loop
    (pkg/utils/monitor.go:164-222 — cited for parity, not ported);
    here a cron calls this verb. In one invocation:

    - event-log retention: checkpoint-aware ``auto_prune_event_log``
      (deletes exactly the committed files, never replay-range ones);
    - apply-counter compaction (``--stats``): the cut-off is DERIVED
      from the same checkpoint WAL — fold counters for every normal
      batch the stream has committed (max committed batch id + 1;
      replay-range 9e9 ids excluded, mirroring the pruner);
    - snapshot expiry: ``expire_snapshots --keep-snapshots`` per
      mapped target that has a snapshot log; ``.snapshots`` entries
      outside the log are reported (``snapshots_stray``), not skipped;
    - optional delta-export upkeep (``--export-delta`` root):
      ``vacuum_export --vacuum-keep`` per published table.

    Prints one JSON audit line; every step is idempotent, so a crashed
    or doubled cron tick is harmless."""
    from sync_spark.operators.monitor import compact_apply_stats
    from sync_spark.sources import delta_export as D
    from sync_spark.sources import snapshots as S
    from sync_spark.sources.cdc import auto_prune_event_log, committed_event_files

    spark = _spark("sync_cli_maintain")
    task = _task(args, spark)
    # the task's streaming checkpoint lives under a per-task subdir of
    # --checkpoint (engine.py); prune + cut-off must read THAT WAL
    ckpt = os.path.join(args.checkpoint, f"task-{task.spec.task_id}")
    out: dict = {
        "pruned_event_files": len(auto_prune_event_log(args.event_log, ckpt))
    }
    if args.stats:
        below = 0
        for p in committed_event_files(ckpt):
            base = os.path.basename(p)
            if base.startswith("events-") and base.endswith(".jsonl"):
                try:
                    bid = int(base[len("events-"):-len(".jsonl")])
                except ValueError:
                    continue
                if bid < 9_000_000_000:
                    below = max(below, bid + 1)
        out["stats_cutoff"] = below
        out["stats_folded"] = (
            compact_apply_stats(args.stats, below) if below else {}
        )
    expired, stray = {}, {}
    for t in task._targets():
        name = os.path.basename(t.target_path.rstrip("/"))
        if os.path.isdir(os.path.join(t.target_path, S.SNAP_DIR, D.LOG_DIR)):
            expired[name] = S.expire_snapshots(
                t.target_path, keep_last=args.keep_snapshots
            )
        leftover = S.stray_entries(t.target_path)
        if leftover:
            stray[name] = leftover
    out["snapshots_expired"] = expired
    if stray:  # e.g. an earlier snapshot format's trees, never expired
        out["snapshots_stray"] = stray
        print(f"warning: entries outside the snapshot log: {stray}", file=sys.stderr)
    if args.export_delta:
        vac = {}
        for t in task._targets():
            name = os.path.basename(t.target_path.rstrip("/"))
            dl = os.path.join(args.export_delta, name)
            if os.path.isdir(os.path.join(dl, D.LOG_DIR)):
                vac[name] = D.vacuum_export(dl, keep_versions=args.vacuum_keep)
        out["delta_vacuum"] = vac
    print(json.dumps(out, default=str))
    return 0


def cmd_export_delta(args) -> int:
    from sync_spark.sources import delta_export as D

    spark = _spark("sync_cli_export_delta")
    v = D.export_delta(spark, args.target, args.out, operation=args.operation)
    # checkpoint-aware: after a vacuum the log starts at a checkpoint
    state = D.replay_with_checkpoint(args.out)
    if v is None:
        out = {"exported": None, "reason": "no_changes", "latest": state["version"]}
    else:
        out = {"exported": v, "active_files": len(state["files"])}
    if args.vacuum_keep is not None:
        out["vacuum"] = D.vacuum_export(args.out, keep_versions=args.vacuum_keep)
    if args.checkpoint:
        out["checkpoint"] = D.write_checkpoint(args.out)
    print(json.dumps(out))
    return 0


def _keep_window(s: str) -> int:
    """argparse type of a retention window (``--keep-last``,
    ``--keep-snapshots``, ``--vacuum-keep``): an int >= 1, because a
    Delta log always keeps its latest version. A bad value exits 2."""
    n = int(s)
    if n < 1:
        raise argparse.ArgumentTypeError(f"must be >= 1, got {n}")
    return n


def _add_task_args(p) -> None:
    p.add_argument("--spec", required=True, help="SyncSpec JSON path")
    p.add_argument("--source-dir", required=True)
    p.add_argument("--target-root", required=True)
    p.add_argument("--event-log", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--security-key", default="")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(prog="sync_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("run", help="snapshot + drain the CDC log")
    _add_task_args(p)
    p.add_argument("--watch", action="store_true")
    p.add_argument("--poll-seconds", type=float, default=10.0)
    p.add_argument("--max-cycles", type=int, default=1)
    p.add_argument(
        "--retain-committed",
        action="store_true",
        help="after each drain, delete event files the checkpoint has "
        "committed (checkpoint-aware retention)",
    )
    p.add_argument(
        "--export-delta",
        default=None,
        metavar="DIR",
        help="after the drain, publish every bucketed target as a "
        "Delta-protocol table under DIR/<table>",
    )
    p.set_defaults(fn=cmd_run)

    p = sub.add_parser("monitor", help="one row-count tick")
    _add_task_args(p)
    p.add_argument("--metrics", default=None)
    p.set_defaults(fn=cmd_monitor)

    p = sub.add_parser("execute", help="one /sql/execute statement")
    _add_task_args(p)
    p.add_argument("--query", required=True)
    p.add_argument("--limit", type=int, default=100)
    p.add_argument(
        "--apply",
        action="store_true",
        help="persist a write verb's new collection state onto the mapped target",
    )
    p.set_defaults(fn=cmd_execute)

    p = sub.add_parser("query", help="run one registry query")
    p.add_argument("name", nargs="?", help="registry query name (see --list)")
    p.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    p.add_argument("--limit", type=int, default=100)
    p.add_argument("--list", action="store_true", help="list query names")
    p.set_defaults(fn=cmd_query)

    p = sub.add_parser("replay-dlq", help="re-inject quarantined events")
    p.add_argument("--dlq", required=True)
    p.add_argument("--event-log", required=True)
    p.add_argument("--target-root", required=True)
    p.add_argument("--table", required=True)
    p.add_argument("--keys", required=True, help="comma-separated key columns")
    p.add_argument(
        "--export-exhausted-dir",
        default=None,
        help="after the replay, move retries_exhausted rows out of the "
        "queue into a parquet artifact under this dir",
    )
    p.set_defaults(fn=cmd_replay_dlq)

    p = sub.add_parser("compact-stats", help="fold old apply-counter batch dirs")
    p.add_argument("--stats", required=True, help="stats_path root (table=*/batch_id=*)")
    p.add_argument("--below", type=int, required=True, help="fold batch ids < this")
    p.set_defaults(fn=cmd_compact_stats)

    p = sub.add_parser("backup", help="run one BackupSpec export")
    p.add_argument("--spec", required=True, help="BackupSpec JSON path")
    p.add_argument("--source-dir", required=True)
    p.add_argument("--out-dir", required=True)
    p.add_argument("--run-day", default=None, help="YYYY-MM-DD (default: today)")
    p.add_argument("--ts-col", default=None)
    p.set_defaults(fn=cmd_backup)

    p = sub.add_parser("snapshot", help="time-travel versions")
    p.add_argument("action", choices=["create", "list", "rollback", "diff", "expire"])
    p.add_argument("--target", required=True)
    p.add_argument("--version", type=int, default=None)
    p.add_argument("--version-b", type=int, default=None)
    p.add_argument("--keys", default="id")
    p.add_argument("--keep-last", type=_keep_window, default=5)
    p.add_argument("--note", default="")
    p.set_defaults(fn=cmd_snapshot)

    p = sub.add_parser(
        "export-delta", help="publish the bucketed store as a Delta-protocol table"
    )
    p.add_argument("--target", required=True, help="bucketed store path")
    p.add_argument("--out", required=True, help="Delta table directory")
    p.add_argument("--operation", default="MERGE")
    p.add_argument(
        "--vacuum-keep",
        type=_keep_window,
        default=None,
        metavar="N",
        help="after exporting, vacuum the export to the last N versions "
        "(checkpoints the oldest kept version, drops the log below it "
        "and the data files no kept version references)",
    )
    p.add_argument(
        "--checkpoint",
        action="store_true",
        help="after exporting, write the protocol checkpoint parquet "
        "(N.checkpoint.parquet + _last_checkpoint)",
    )
    p.set_defaults(fn=cmd_export_delta)

    p = sub.add_parser(
        "maintain",
        help="one retention/compaction pass: event log + apply stats "
        "+ snapshot expiry (+ optional delta-export vacuum)",
    )
    _add_task_args(p)
    p.add_argument("--stats", default=None, help="apply-counter root (CdcPipeline stats_path)")
    p.add_argument("--keep-snapshots", type=_keep_window, default=5, metavar="N")
    p.add_argument("--export-delta", default=None, metavar="ROOT",
                   help="delta-export root to vacuum per published table")
    p.add_argument("--vacuum-keep", type=_keep_window, default=2, metavar="N")
    p.set_defaults(fn=cmd_maintain)

    args = ap.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
