"""Snapshot / time-travel layer for the bucketed CDC store (SURVEY.md
§2.1 S12/S13 extension): reproducible as-of reads, version diffs and
operational rollback.

A store's snapshots are the versions of a Delta log at
``<store>/.snapshots/``: ``snapshot_create`` is ``export_delta``
(sources/delta_export.py) into that directory, so each live part file
is HARD-LINKED there once and each version is one JSON commit naming
its file set. Links are metadata-only and pin the inode: the store's
rename-aside swaps later delete the live *directory entries*, but the
links keep the bytes, and part files are immutable once written, so a
link IS a frozen copy. The note is the commit's ``operation``; the
bucket layout (``.sync_meta.json``) travels in
``metaData.configuration``, so rollback restores it. Crash safety,
retention (``expire_snapshots`` = ``vacuum_export``) and time travel
are the export's. Expiry writes a protocol checkpoint at the oldest
kept version and drops the commits below it; that version's commit,
and with it its note, stays. So any Delta reader can read every kept
snapshot.

Cost at 100 TB: one snapshot = O(#changed files) link syscalls + one
JSON commit + the export's footer-merge schema job (none when nothing
changed); untouched buckets share one inode across every version and
the live table.

The ``.snapshots`` root is dot-prefixed, so Spark's file listing on
the LIVE table never sees it (same discipline as the ``.old_*``
parking dirs and ``.sync_meta.json``); a full rewrite of the store
(``write_bucketed``) carries it across the root swap.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sync_spark.sources.bucketed import (
    BUCKET_COL,
    SNAP_DIR,
    _swap_dir,
    is_bucketed,
    write_meta,
)
from sync_spark.sources.delta_export import (
    LAYOUT_KEY,
    LOG_DIR,
    _link_file,
    _read_actions,
    export_delta,
    log_versions,
    read_export,
    replay_with_checkpoint,
    table_versions,
    vacuum_export,
)


def stray_entries(path: str) -> list[str]:
    """``.snapshots`` entries outside the Delta log (e.g. the earlier
    format's per-version trees): no version names them, so nothing
    lists or expires them while they pin old bytes."""
    snap = os.path.join(path, SNAP_DIR)
    entries = os.listdir(snap) if os.path.isdir(snap) else []
    return sorted(e for e in entries if e != LOG_DIR and not e.startswith(BUCKET_COL))


def snapshot_versions(path: str) -> list[dict]:
    """Committed snapshot descriptors {version, created_unix, note},
    oldest first, from the log's versions and their ``commitInfo``.
    Warns about ``stray_entries``."""
    snap = os.path.join(path, SNAP_DIR)
    stray = stray_entries(path)
    if stray:
        warnings.warn(f"{snap}: entries outside its Delta log: {stray}", stacklevel=2)
    json_versions = set(log_versions(snap))
    out = []
    for v in table_versions(snap):
        actions = _read_actions(snap, v) if v in json_versions else []
        info = next((a["commitInfo"] for a in actions if "commitInfo" in a), {})
        out.append(
            {
                "version": v,
                "created_unix": info.get("timestamp", 0) // 1000,
                "note": info.get("operation", ""),
            }
        )
    return out


def _clean_stale_stages(path: str) -> None:
    """Drop leaked rollback staging dirs (a crash between linking a
    bucket's stage and the swap leaves a `.rbstage_*` hard-link tree
    that pins old file bytes; recover_interrupted_swaps only knows the
    store's own parking names)."""
    if not os.path.isdir(path):
        return
    for e in os.listdir(path):
        if e.startswith(".rbstage_"):
            shutil.rmtree(os.path.join(path, e), ignore_errors=True)


def snapshot_create(spark: SparkSession, path: str, note: str = "") -> int:
    """Freeze the CURRENT live state as the next log version (the note
    becomes the commit's operation) and return it; on a store unchanged
    since the latest version, return that version and commit nothing."""
    if not is_bucketed(path):  # also heals interrupted swaps
        raise ValueError(f"nothing to snapshot: no {BUCKET_COL}= dirs under {path!r}")
    _clean_stale_stages(path)
    snap = os.path.join(path, SNAP_DIR)
    v = export_delta(spark, path, snap, operation=note or "SNAPSHOT")
    return table_versions(snap)[-1] if v is None else v


def read_snapshot(spark: SparkSession, path: str, version: int) -> DataFrame:
    """Time-travel read: the table exactly as of ``version``, bucket
    column dropped like the live reader. ``ValueError`` for a version
    the log does not hold."""
    return read_export(spark, os.path.join(path, SNAP_DIR), version)


def snapshot_rollback(spark: SparkSession, path: str, version: int) -> int:
    """Restore the live table to ``version``. The pre-rollback state
    is snapshotted FIRST, so a rollback is itself undoable (returns
    that safety version). Buckets are replaced wholesale from the
    version's file set: dirs present live but absent from the version
    are removed (a version is the full table state, not a delta), and
    the version's bucket layout is written back."""
    snap = os.path.join(path, SNAP_DIR)
    state = replay_with_checkpoint(snap, version)  # unknown version raises
    safety = snapshot_create(spark, path, note=f"pre-rollback-to-v{version}")
    by_bucket: dict[str, list[str]] = {}
    for p in state["files"]:
        b, f = p.split("/", 1)
        by_bucket.setdefault(b, []).append(f)
    live_buckets = {e for e in os.listdir(path) if e.startswith(f"{BUCKET_COL}=")}
    for b, files in sorted(by_bucket.items()):
        # dot-prefixed stage: a `<bucket>__stage_x` name would read as
        # a partition dir with a poisoned value; a crash pre-swap
        # leaks only an invisible dot-dir
        stage = os.path.join(path, f".rbstage_{uuid.uuid4().hex[:8]}")
        for f in files:
            _link_file(os.path.join(snap, b, f), os.path.join(stage, f))
        # the store's crash-safe swap (park live under .old_*, rename
        # stage in, drop parking): a crash at any point is healed by
        # recover_interrupted_swaps — a bare rmtree+rename window would
        # leave the bucket MISSING with nothing to recover from
        _swap_dir(stage, os.path.join(path, b))
    for b in sorted(live_buckets - set(by_bucket)):
        # park-then-delete (same discipline as _swap_dir): a crash
        # mid-rmtree on the live name would leave a partially-deleted
        # bucket visible to readers; renamed to a dot-prefixed parking
        # name first, the worst case is an invisible leaked dir that
        # _clean_stale_stages drops on the next snapshot entry
        doomed = os.path.join(path, f".rbstage_doomed_{uuid.uuid4().hex[:8]}")
        os.rename(os.path.join(path, b), doomed)
        shutil.rmtree(doomed, ignore_errors=True)
    layout = (state["metaData"] or {}).get("configuration", {}).get(LAYOUT_KEY)
    if layout:
        meta = json.loads(layout)
        write_meta(path, meta["key_cols"], meta["n_buckets"])
    return safety


def expire_snapshots(path: str, keep_last: int) -> list[int]:
    """Keep the newest ``keep_last`` (>= 1) versions, through
    ``vacuum_export``: files no retained version names are deleted
    (shared inodes mean bytes the live table still links stay), and
    the latest version always survives. Returns expired versions."""
    snap = os.path.join(path, SNAP_DIR)
    before = table_versions(snap)
    vacuum_export(snap, keep_versions=keep_last)
    after = set(table_versions(snap))
    return [v for v in before if v not in after]


def snapshot_diff(
    spark: SparkSession,
    path: str,
    version_a: int,
    version_b: int,
    key_cols: list,
) -> DataFrame:
    """What changed between two frozen versions: one row per key that
    was ADDED, REMOVED, or CHANGED from ``version_a`` to ``version_b``
    (unchanged keys are absent). The operational companion to
    time-travel reads — "what did batch N actually do" without replay.

    Shape: full outer join on the key columns + a null-safe
    any-column-differs predicate — one co-partitioned shuffle per
    side, no collect; the same j_src_tgt_diff discipline as the
    monitoring surface."""
    a = read_snapshot(spark, path, version_a)
    b = read_snapshot(spark, path, version_b)
    value_cols = [c for c in a.columns if c not in key_cols]
    aa = a.select(
        *[F.col(k).alias(f"__ka_{k}") for k in key_cols],
        *[F.col(c).alias(f"__va_{c}") for c in value_cols],
        F.lit(True).alias("__in_a"),
    )
    bb = b.select(
        *[F.col(k).alias(f"__kb_{k}") for k in key_cols],
        *[F.col(c).alias(f"__vb_{c}") for c in value_cols],
        F.lit(True).alias("__in_b"),
    )
    cond = None
    for k in key_cols:
        c = F.col(f"__ka_{k}").eqNullSafe(F.col(f"__kb_{k}"))
        cond = c if cond is None else (cond & c)
    j = aa.join(bb, cond, "full_outer")
    differs = F.lit(False)
    for c in value_cols:
        differs = differs | ~F.col(f"__va_{c}").eqNullSafe(F.col(f"__vb_{c}"))
    status = (
        F.when(F.col("__in_a").isNull(), F.lit("added"))
        .when(F.col("__in_b").isNull(), F.lit("removed"))
        .when(differs, F.lit("changed"))
    )
    out_keys = [
        F.coalesce(F.col(f"__ka_{k}"), F.col(f"__kb_{k}")).alias(k) for k in key_cols
    ]
    return (
        j.withColumn("change", status)
        .filter(F.col("change").isNotNull())
        .select(*out_keys, "change")
    )
