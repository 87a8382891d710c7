"""Delta-Lake-protocol export of the bucketed CDC store — closes the
table-format seam (SURVEY.md §2.1 S12; reference parity:
pkg/syncer/*'s targets are live databases, this engine's target is a
lakehouse table) from the WRITE side without the Delta jars: the
Delta transaction log is a PUBLIC, implementation-independent format
(delta.io PROTOCOL.md — JSON action files under ``_delta_log/`` next
to ordinary parquet), so the store can be *published* as a real Delta
table that any Delta reader (Spark+delta jar, delta-rs, DuckDB delta,
Trino, ...) consumes directly, even though this container cannot
itself read Delta back.

Mechanism per export:

1. hard-link every live parquet part file into the export dir,
   preserving the hive layout (``__bucket=K/part-*.parquet`` →
   Delta partition column ``__bucket``); links are metadata-only and
   pin inodes, so files the STORE later rewrites stay readable in the
   export — which is exactly Delta's tombstone/time-travel contract;
2. diff the live file set against the log replay of the previous
   version (add/remove applied in order — the same replay a Delta
   reader does) and append ONE new ``{version:020d}.json`` with
   `remove` actions for vanished files and `add` actions for new
   ones. No data change → no new version (idempotent);
3. version 0 additionally carries `protocol` (minReader 1 /
   minWriter 2) and `metaData` (stable table id, Spark schemaString,
   partitionColumns=[__bucket], and the store's bucket layout
   ``.sync_meta.json`` under ``configuration[LAYOUT_KEY]``); the
   metaData is re-emitted when the merged store schema evolves, which
   is Delta's own schema-evolution mechanism, or the store is
   re-bucketized.

Crash-safety follows the repo discipline: the JSON commit is staged
under a dot-tmp name and ``os.replace``d into place (Delta requires
put-if-absent per version; a single-writer local export gets that
from the atomic rename), and links happen BEFORE the commit so a
crash can only leak unreferenced files, never reference missing ones.

Scale: an export is O(#changed files) link syscalls + one JSON
append — the add/remove diff touches file NAMES only, no data scan.
At 100 TB with 4096 buckets and a few files per bucket the log stays
KB-sized per version; ``write_checkpoint`` compacts it into a Delta
checkpoint parquet when the version count grows. Readers seed from the
newest checkpoint at or below the version they read and replay only
the JSON commits after it, and ``vacuum_export`` truncates the log only
behind such a checkpoint (PROTOCOL.md's metadata cleanup), so a
vacuumed log stays readable by every Delta reader.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from typing import Optional

from pyspark.sql import SparkSession

from sync_spark.sources.bucketed import (
    BUCKET_COL,
    read_meta,
    read_target,
    recover_interrupted_swaps,
)

LOG_DIR = "_delta_log"
# metaData.configuration key carrying the store's ``.sync_meta.json``
# (n_buckets, key_cols), so every version records its bucket layout
LAYOUT_KEY = "sync_spark.layout"


def _log_path(delta_dir: str) -> str:
    return os.path.join(delta_dir, LOG_DIR)


def _version_file(delta_dir: str, version: int) -> str:
    return os.path.join(_log_path(delta_dir), f"{version:020d}.json")


def _listed(delta_dir: str, suffix: str) -> list[int]:
    lp = _log_path(delta_dir)
    names = os.listdir(lp) if os.path.isdir(lp) else []
    return sorted(
        int(e[: -len(suffix)])
        for e in names
        if e.endswith(suffix) and e[: -len(suffix)].isdigit()
    )


def log_versions(delta_dir: str) -> list[int]:
    """Committed JSON log versions, ascending (the reader's listing step)."""
    return _listed(delta_dir, ".json")


def checkpoint_versions(delta_dir: str) -> list[int]:
    """Versions with a ``{v:020d}.checkpoint.parquet``, ascending —
    found by listing the log as Delta readers do, so a checkpoint
    counts even before ``_last_checkpoint`` points at it."""
    return _listed(delta_dir, ".checkpoint.parquet")


def table_versions(delta_dir: str) -> list[int]:
    """Every version a reader can time-travel to, ascending: the JSON
    commits plus the checkpoints (after ``vacuum_export`` the lowest
    version may have its JSON commit only beside its checkpoint, or
    only the checkpoint)."""
    return sorted(set(log_versions(delta_dir)) | set(checkpoint_versions(delta_dir)))


def _read_actions(delta_dir: str, version: int) -> list[dict]:
    with open(_version_file(delta_dir, version)) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _staged(final: str) -> str:
    """A dot-tmp name beside ``final``: log listings skip it."""
    return os.path.join(
        os.path.dirname(final), f".tmp_{uuid.uuid4().hex[:8]}_{os.path.basename(final)}"
    )


def _replace_lines(final: str, actions: list[dict]) -> None:
    """Write ``actions`` as JSON lines to a ``_staged`` name, then
    ``os.replace`` it to ``final``: a crash leaves the old file (or
    none), never a torn one."""
    tmp = _staged(final)
    with open(tmp, "w") as fh:
        for action in actions:
            fh.write(json.dumps(action, separators=(",", ":")) + "\n")
    os.replace(tmp, final)


def write_commit(delta_dir: str, version: int, actions: list[dict]) -> None:
    """Append one log version atomically (``_replace_lines`` into the
    final ``{version:020d}.json``). Raises if the version already
    exists (single-writer put-if-absent — the local-FS stand-in for
    Delta's LogStore contract)."""
    os.makedirs(_log_path(delta_dir), exist_ok=True)
    final = _version_file(delta_dir, version)
    if os.path.exists(final):
        raise RuntimeError(
            f"delta commit conflict: version {version} already exists in "
            f"{delta_dir!r} (concurrent writer?)"
        )
    _replace_lines(final, actions)


def _live_files(store_path: str) -> dict[str, dict]:
    """Current store parquet files keyed by their export-relative path
    (``__bucket=K/part-*.parquet``) with size/mtime/partition value."""
    recover_interrupted_swaps(store_path)
    out: dict[str, dict] = {}
    for b in sorted(os.listdir(store_path)):
        if not b.startswith(f"{BUCKET_COL}="):
            continue
        bval = b.split("=", 1)[1]
        bdir = os.path.join(store_path, b)
        for f in sorted(os.listdir(bdir)):
            if not f.endswith(".parquet") or f.startswith((".", "_")):
                continue
            st = os.stat(os.path.join(bdir, f))
            out[f"{b}/{f}"] = {
                "src": os.path.join(bdir, f),
                "partitionValues": {BUCKET_COL: bval},
                "size": st.st_size,
                "modificationTime": int(st.st_mtime * 1000),
            }
    return out


def _schema_string(spark: SparkSession, store_path: str) -> str:
    """Spark-JSON schemaString of the logical table + the __bucket
    partition column (Delta schemas include partition columns)."""
    from pyspark.sql.types import IntegerType, StructField, StructType

    df = read_target(spark, store_path)
    fields = list(df.schema.fields) + [StructField(BUCKET_COL, IntegerType(), True)]
    return StructType(fields).json()


def _link_file(src: str, dst: str) -> None:
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    if os.path.exists(dst):
        return  # immutable part files: same name == same bytes
    try:
        os.link(src, dst)
    except OSError:
        shutil.copy2(src, dst)


def export_delta(
    spark: SparkSession, store_path: str, delta_dir: str, operation: str = "MERGE"
) -> Optional[int]:
    """Publish the store's CURRENT state as the next Delta log version
    under ``delta_dir``. Returns the committed version number, or None
    when nothing changed (no empty commits). Safe to call after every
    CdcPipeline batch; cost is proportional to the touched buckets.

    The previous-state diff is checkpoint-aware: after a vacuum the
    log starts at a checkpoint, and diffing against a JSON-only replay
    would re-add every live file under an already-used version number.

    ``metaData`` is (re-)emitted when the schema or the store's bucket
    layout (``.sync_meta.json`` → ``configuration[LAYOUT_KEY]``)
    differs from the previous version's."""
    state = replay_with_checkpoint(delta_dir)
    live = _live_files(store_path)

    adds = {p: a for p, a in live.items() if p not in state["files"]}
    removes = sorted(p for p in state["files"] if p not in live)
    layout = read_meta(store_path)
    conf = {LAYOUT_KEY: json.dumps(layout)} if layout else {}
    prior = state["metaData"] or {}
    prior_conf = prior.get("configuration") or {}
    if not adds and not removes and prior and prior_conf == conf:
        # an unchanged file set cannot change the schema: skip the
        # footer-merge job
        return None
    schema_string = _schema_string(spark, store_path)
    meta_changed = (prior.get("schemaString"), prior_conf) != (schema_string, conf)

    # link data files BEFORE committing the log entry: a crash here
    # leaks unreferenced links, never a log that points at nothing
    for p, a in sorted(adds.items()):
        _link_file(a["src"], os.path.join(delta_dir, p))

    version = state["version"] + 1
    now_ms = int(time.time() * 1000)
    actions: list[dict] = [
        {
            "commitInfo": {
                "timestamp": now_ms,
                "operation": operation,
                "operationParameters": {},
                "engineInfo": "sync_spark-delta-export",
            }
        }
    ]
    if version == 0:
        actions.append(
            {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
        )
    if meta_changed:
        actions.append(
            {
                "metaData": {
                    "id": prior.get("id") or uuid.uuid4().hex,
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": schema_string,
                    "partitionColumns": [BUCKET_COL],
                    "configuration": conf,
                    "createdTime": prior.get("createdTime", now_ms),
                }
            }
        )
    for p in removes:
        actions.append(
            {
                "remove": {
                    "path": p,
                    "deletionTimestamp": now_ms,
                    "dataChange": True,
                }
            }
        )
    for p, a in sorted(adds.items()):
        actions.append(
            {
                "add": {
                    "path": p,
                    "partitionValues": a["partitionValues"],
                    "size": a["size"],
                    "modificationTime": a["modificationTime"],
                    "dataChange": True,
                }
            }
        )

    write_commit(delta_dir, version, actions)
    return version


def read_export(spark: SparkSession, delta_dir: str, version: Optional[int] = None):
    """Read the exported table AS A DELTA READER WOULD — replay the
    log up to ``version`` (default: latest) — seeding from the newest
    checkpoint at or below it, exactly like a checkpoint-aware
    reader — and scan the active file set with
    partition values from the log, NOT from directory listing. This is the in-container verification path (no
    delta jar needed) and doubles as time travel over the export."""
    state = replay_with_checkpoint(delta_dir, version)
    version = state["version"]
    files = state["files"]
    if not files:
        raise ValueError(f"no active files at version {version} in {delta_dir!r}")
    paths = [os.path.join(delta_dir, p) for p in sorted(files)]
    # basePath keeps partition discovery consistent; mergeSchema
    # mirrors read_target's evolution behavior
    df = (
        spark.read.option("basePath", delta_dir)
        .option("mergeSchema", "true")
        .parquet(*paths)
    )
    if BUCKET_COL in df.columns:
        df = df.drop(BUCKET_COL)
    return df


def vacuum_export(delta_dir: str, keep_versions: int = 2) -> dict:
    """Delta-style VACUUM for the export: keep the last
    ``keep_versions`` versions, truncate the log below them behind a
    protocol checkpoint, and physically delete the data files none of
    them references. Time travel remains exact within the window and
    is explicitly surrendered before it — the same contract as Delta's
    ``VACUUM ... RETAIN``. ``keep_versions`` must be >= 1 (``ValueError``
    otherwise), so the latest version always survives — a store's
    snapshot log (``sources/snapshots.py``) expires through here and
    always keeps its newest snapshot.

    The survivor set is the UNION of per-version replays (a file
    removed at version N is still needed to read version N-1), so this
    never breaks a retained as-of read. Files are unlinked (the store
    may still hold the inode via its own link — vacuum only releases
    the export's pin). Returns counts for the caller's audit log.

    Log truncation is PROTOCOL.md's metadata cleanup: when commits or
    checkpoints lie below the oldest retained version (the cutoff), or
    the log's first version is a bare commit other than version 0, the
    cutoff is checkpointed first, then the older commits (newest
    first) and the older checkpoints are unlinked. The cutoff's own
    commit stays, so its ``commitInfo`` (e.g. a snapshot's note)
    survives, and no retained commit is rewritten. Data files go last:
    at every crash point each version ``table_versions`` lists still
    reads exactly, and a re-run finishes the job."""
    if keep_versions < 1:
        raise ValueError(f"keep_versions must be >= 1, got {keep_versions}")
    all_versions = table_versions(delta_dir)
    if not all_versions:
        return {"deleted_files": 0, "dropped_versions": 0}
    retained = all_versions[-keep_versions:]
    cutoff = retained[0]
    survivors: set[str] = set()
    for v in retained:
        survivors |= set(replay_with_checkpoint(delta_dir, v)["files"])

    checkpoints = checkpoint_versions(delta_dir)
    dropped = [v for v in log_versions(delta_dir) if v < cutoff]
    if all_versions[0] < cutoff or cutoff not in [0, *checkpoints]:
        write_checkpoint(delta_dir, cutoff)
        # newest first: every commit still listed keeps its whole
        # chain back to version 0 or a checkpoint
        for v in reversed(dropped):
            os.unlink(_version_file(delta_dir, v))
        for v in checkpoints:
            if v < cutoff:
                os.unlink(_checkpoint_file(delta_dir, v))

    deleted = 0
    for b in sorted(os.listdir(delta_dir)):
        if not b.startswith(f"{BUCKET_COL}="):
            continue
        bdir = os.path.join(delta_dir, b)
        for f in sorted(os.listdir(bdir)):
            rel = f"{b}/{f}"
            if f.endswith(".parquet") and rel not in survivors:
                os.unlink(os.path.join(bdir, f))
                deleted += 1
        if not os.listdir(bdir):
            os.rmdir(bdir)
    return {"deleted_files": deleted, "dropped_versions": len(dropped)}


# ---------------------------------------------------------------------------
# Protocol checkpoints: N.checkpoint.parquet + _last_checkpoint
# ---------------------------------------------------------------------------

LAST_CHECKPOINT = "_last_checkpoint"


def _checkpoint_file(delta_dir: str, version: int) -> str:
    return os.path.join(_log_path(delta_dir), f"{version:020d}.checkpoint.parquet")


def write_checkpoint(delta_dir: str, version: Optional[int] = None) -> dict:
    """Write the Delta-protocol checkpoint for ``version`` (default:
    latest): one parquet file ``{v:020d}.checkpoint.parquet`` holding
    the replayed state — a `protocol` row, a `metaData` row, and one
    `add` row per active file (no expired tombstones to carry: the
    export's vacuum owns physical deletion) — plus the
    ``_last_checkpoint`` pointer JSON {"version", "size"}. External
    readers then replay from the checkpoint and only the JSON versions
    AFTER it, instead of the whole log (PROTOCOL.md's checkpoint
    contract; delta-rs/Spark+delta/Trino all consume this). The
    pointer never moves backwards: a checkpoint below the one it names
    (``vacuum_export``'s cutoff under a newer ``--checkpoint``) leaves
    it alone.

    The parquet is written with pyarrow (NOT a Spark write: Spark
    writes a directory of parts, and the protocol demands exactly one
    file at exactly this name), staged and os.replace'd like every
    commit; ``_last_checkpoint`` is replaced only after the checkpoint
    file is durable, and readers find checkpoints by listing, so a
    crash between the two loses nothing. Scale: the checkpoint is
    O(#active files) rows — file metadata, never data."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    all_versions = table_versions(delta_dir)
    if not all_versions:
        raise ValueError(f"no log to checkpoint in {delta_dir!r}")
    if version is None:
        version = all_versions[-1]

    state = replay_with_checkpoint(delta_dir, version)
    files = state["files"]
    meta = state["metaData"]
    proto = state["protocol"]
    if meta is None or proto is None:
        raise ValueError("log replay found no metaData/protocol — corrupt log?")

    proto_t = pa.struct(
        [("minReaderVersion", pa.int32()), ("minWriterVersion", pa.int32())]
    )
    format_t = pa.struct(
        [("provider", pa.string()), ("options", pa.map_(pa.string(), pa.string()))]
    )
    meta_t = pa.struct(
        [
            ("id", pa.string()),
            ("format", format_t),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
            ("configuration", pa.map_(pa.string(), pa.string())),
            ("createdTime", pa.int64()),
        ]
    )
    add_t = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", pa.map_(pa.string(), pa.string())),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
        ]
    )

    meta_row = dict(meta)
    meta_row["configuration"] = list((meta_row.get("configuration") or {}).items())
    fmt = dict(meta_row.get("format") or {})
    fmt["options"] = list((fmt.get("options") or {}).items())
    meta_row["format"] = fmt
    add_rows = [
        {**a, "partitionValues": list((a.get("partitionValues") or {}).items()),
         "dataChange": False}
        for _, a in sorted(files.items())
    ]
    n = 2 + len(add_rows)
    protocol_col = [proto] + [None] * (n - 1)
    meta_col = [None, meta_row] + [None] * (n - 2)
    add_col = [None, None] + add_rows
    table = pa.table(
        {
            "protocol": pa.array(protocol_col, type=proto_t),
            "metaData": pa.array(meta_col, type=meta_t),
            "add": pa.array(add_col, type=add_t),
        }
    )
    final = _checkpoint_file(delta_dir, version)
    tmp = _staged(final)
    pq.write_table(table, tmp)
    os.replace(tmp, final)

    lc = read_last_checkpoint(delta_dir)
    if lc is None or lc["version"] <= version:
        lc_final = os.path.join(_log_path(delta_dir), LAST_CHECKPOINT)
        _replace_lines(lc_final, [{"version": version, "size": n}])
    return {"version": version, "rows": n}


def read_last_checkpoint(delta_dir: str) -> Optional[dict]:
    p = os.path.join(_log_path(delta_dir), LAST_CHECKPOINT)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def replay_with_checkpoint(delta_dir: str, version: Optional[int] = None) -> dict:
    """State replay the way a checkpoint-aware Delta reader does: seed
    from the newest checkpoint at or below ``version`` (found by
    listing the log), then apply the JSON commits after it in order,
    later actions winning per path. With no such checkpoint the replay
    starts at the log's first commit — version 0, or the
    self-contained first commit an older vacuum left. Returns
    {'files': {path: add_action}, 'metaData', 'protocol', 'version'}.

    ``version=None`` is the latest version (-1 with empty state for a
    missing log). An explicit version the log does not hold — above
    the latest, or dropped by vacuum — raises ``ValueError`` rather
    than serving another version's state."""
    import pyarrow.parquet as pq

    have = table_versions(delta_dir)
    if version is None:
        version = have[-1] if have else -1
    elif version not in have:
        raise ValueError(
            f"unknown snapshot version {version} for {delta_dir!r}; have {have}"
        )
    files: dict[str, dict] = {}
    meta = proto = None
    base = max((c for c in checkpoint_versions(delta_dir) if c <= version), default=-1)
    if base >= 0:
        for row in pq.read_table(_checkpoint_file(delta_dir, base)).to_pylist():
            if row.get("protocol"):
                proto = row["protocol"]
            if row.get("metaData"):
                m = dict(row["metaData"])
                m["configuration"] = dict(m.get("configuration") or [])
                f = dict(m["format"] or {})
                f["options"] = dict(f.get("options") or [])
                m["format"] = f
                meta = m
            if row.get("add"):
                a = dict(row["add"])
                a["partitionValues"] = dict(a.get("partitionValues") or [])
                files[a["path"]] = a
    for v in log_versions(delta_dir):
        if not base < v <= version:
            continue
        for action in _read_actions(delta_dir, v):
            if "add" in action:
                files[action["add"]["path"]] = action["add"]
            elif "remove" in action:
                files.pop(action["remove"]["path"], None)
            elif "metaData" in action:
                meta = action["metaData"]
            elif "protocol" in action:
                proto = action["protocol"]
    return {"files": files, "metaData": meta, "protocol": proto, "version": version}
