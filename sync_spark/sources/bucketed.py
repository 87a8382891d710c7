"""Hash-bucketed parquet target store for incremental CDC MERGE
(SURVEY.md §2.1 S12/S13 target side; the scale fix for the round-1
full-target-rewrite anti-pattern).

Reference cost model (cited for parity, not ported): the reference
applies changes row-wise against an indexed store — per-PK upserts and
deletes (mongodb.go:1184-1235 BulkWrite, mysql.go:524-692,
postgresql.go:726-965) — so a micro-batch touching 0.01% of keys costs
O(batch), not O(target). Plain ``overwrite`` parquet costs O(target)
per batch. This module restores the reference's cost model on files:

- the target directory is laid out as hive-style hash buckets
  ``__bucket=N/part-*.parquet`` with ``N = pmod(xxhash64(keys), n)``
  — a pure function of the key (content hash, retry-stable;
  SPARK-23207 note in operators/skew.py applies);
- a micro-batch derives its *touched* bucket set from the change
  keys, reads ONLY those buckets (Spark partition pruning does the
  file skipping: the ``__bucket IN (...)`` filter shows up as
  PartitionFilters in the scan), merges, and atomically swaps only
  those bucket directories. Untouched buckets are never read, never
  rewritten — byte-identical across batches (tested);
- per-bucket swap is rename-aside (live → hidden ``.old_*`` parking
  dir, stage → live, drop parking dir). The guarantee is *crash
  safety*, not reader isolation: a crash at any point leaves the old
  data recoverable (``recover_interrupted_swaps`` restores or clears
  parked dirs before every read/merge), but a concurrent reader may
  transiently miss a bucket between the two renames, and multi-bucket
  swaps are not mutually atomic. Deployments needing snapshot
  isolation should feed the same ``apply_changes`` plan to
  Delta/Iceberg ``MERGE INTO`` instead. Parking dirs are dot-prefixed
  so Spark's file listing never sees them — a leftover can't poison
  the ``__bucket=`` partition namespace;
- the layout is self-describing: ``write_bucketed`` persists
  ``.sync_meta.json`` (n_buckets, key_cols) at the table root and
  every merge validates it, so a pipeline configured with different
  bucketing can't silently read/swap the wrong buckets.

At 100 TB: n_buckets sizes so one bucket ≈ a few GB (e.g. 8192
buckets for 20 TB targets); the touched-set collect is bounded by
n_buckets ints, not data. The same ``apply_changes`` plan feeds Delta
or Iceberg ``MERGE INTO`` on deployments that have a table format —
this store is the dependency-free equivalent with the same asymptotic
write cost.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid
from typing import Iterable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

BUCKET_COL = "__bucket"
META_FILE = ".sync_meta.json"  # dot-prefixed: invisible to Spark listings
OLD_PREFIX = ".old_"  # parking dir prefix for rename-aside swaps
SNAP_DIR = ".snapshots"  # the store's snapshot log (sources/snapshots.py)


def bucket_expr_vals(vals: Sequence[F.Column], n_buckets: int) -> F.Column:
    """Bucket id from already-projected key value Columns — the ONE
    definition of the layout hash. pipeline._batch_summary derives
    touched-bucket sets with this same expression; keeping a second
    inline copy there would let the two hashes silently diverge."""
    return F.pmod(F.xxhash64(*vals), F.lit(n_buckets)).cast("int")


def bucket_expr(keys: Sequence[str], n_buckets: int) -> F.Column:
    """Deterministic bucket id for a key tuple. xxhash64 is a content
    hash (stable under task retry, unlike monotonically_increasing_id)
    and pmod keeps the result in [0, n)."""
    return bucket_expr_vals([F.col(k) for k in keys], n_buckets)


def is_bucketed(path: str) -> bool:
    recover_interrupted_swaps(path)
    if not os.path.isdir(path):
        return False
    return any(e.startswith(f"{BUCKET_COL}=") for e in os.listdir(path))


def _old_name(dst: str) -> str:
    return os.path.join(os.path.dirname(dst), f"{OLD_PREFIX}{os.path.basename(dst)}")


def _swap_dir(src: str, dst: str) -> None:
    """Crash-safe directory replace: park the live dir under a hidden
    ``.old_<name>`` sibling, rename the staged dir into place, then
    drop the parking dir. A crash at any point leaves the old data
    recoverable (see ``recover_interrupted_swaps``); the parking name
    is dot-prefixed so Spark file listings / partition discovery never
    observe it."""
    global _store_mutation_gen
    old = _old_name(dst)
    if os.path.exists(old):
        shutil.rmtree(old)
    if os.path.exists(dst):
        os.rename(dst, old)
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    os.rename(src, dst)
    if os.path.exists(old):
        shutil.rmtree(old)
    # bump the in-process store generation: on filesystems with coarse
    # (e.g. 1s) mtime granularity two swaps can land in one timestamp
    # unit, so st_mtime_ns alone cannot invalidate the base-frame memo
    _store_mutation_gen += 1


def recover_interrupted_swaps(path: str) -> None:
    """Heal crash leftovers from ``_swap_dir`` before any read/merge.

    For each parked ``.old_X`` (or legacy ``X__old``) entry under
    ``path``: if the live ``X`` is missing the crash hit between the
    two renames — restore the parked dir (the merge that staged the
    replacement never committed its swap, so the old data is the
    truth); if the live ``X`` exists the crash hit after the second
    rename — the swap committed, drop the leftover. Without this, a
    foreachBatch replay would read an apparently-empty bucket and
    silently drop every pre-existing row in it (T4 violation).

    Also heals a crash during a ROOT-level swap (snapshot path): when
    ``path`` itself is missing but its parked ``.old_<name>`` sibling
    exists, the sibling is restored. Stale ``<name>__stage_*`` dirs
    (a writer killed mid-staged-write) are deleted — safe under the
    pipeline's single-writer discipline, and without it every crash
    would leak a bucket-sized staged copy forever."""
    parent, base = os.path.dirname(path) or ".", os.path.basename(path)
    if os.path.isdir(parent):
        for entry in os.listdir(parent):
            if entry.startswith(f"{base}__stage_"):
                shutil.rmtree(os.path.join(parent, entry), ignore_errors=True)
    parked_root = _old_name(path)
    if not os.path.isdir(path):
        if os.path.isdir(parked_root):
            os.rename(parked_root, path)
    elif os.path.isdir(parked_root):
        # live dir EXISTS beside its parked sibling: the root swap
        # committed (crash hit between the second rename and the
        # cleanup rmtree) — the parked copy is a committed-over
        # leftover. Without this it leaks a full table copy forever
        # AND gets wrongly RESURRECTED as live data if a later caller
        # legitimately rmtree's the live dir (r8 review finding).
        shutil.rmtree(parked_root)
    if not os.path.isdir(path):
        return
    for entry in os.listdir(path):
        if entry.startswith(OLD_PREFIX):
            live = os.path.join(path, entry[len(OLD_PREFIX):])
        elif entry.endswith("__old"):
            live = os.path.join(path, entry[: -len("__old")])
        else:
            continue
        parked = os.path.join(path, entry)
        if os.path.exists(live):
            shutil.rmtree(parked)
        else:
            os.rename(parked, live)


def write_meta(path: str, keys: Sequence[str], n_buckets: int) -> None:
    """Persist the bucketing contract at the table root. Dot-prefixed
    → never picked up by Spark's partition discovery."""
    with open(os.path.join(path, META_FILE), "w") as fh:
        json.dump({"n_buckets": n_buckets, "key_cols": list(keys)}, fh)


def read_meta(path: str) -> dict | None:
    p = os.path.join(path, META_FILE)
    if not os.path.exists(p):
        return None
    with open(p) as fh:
        return json.load(fh)


def check_meta(path: str, keys: Sequence[str], n_buckets: int) -> bool:
    """Validate the persisted bucketing contract.

    Returns True when the layout matches the caller's (keys,
    n_buckets); False on mismatch OR when no meta exists — the caller
    must re-bucketize or raise, NEVER merge, because touched-bucket
    derivation under a different n_buckets reads/swaps the wrong
    buckets and leaves stale duplicates behind. A meta-less bucketed
    layout is NOT trusted: it may have been written by a pre-meta
    version under a different n_buckets, and adopting the caller's
    settings would make that divergence silently permanent (the
    stray-bucket guard can't catch it — merged rows consistently hash
    under the NEW n_buckets)."""
    meta = read_meta(path)
    if meta is None:
        return False
    return meta["n_buckets"] == n_buckets and meta["key_cols"] == list(keys)


def empty_frame(spark: SparkSession, schema: T.StructType) -> DataFrame:
    """A zero-row frame of ``schema`` built in the JVM, for schema-only
    writes: ``createDataFrame([], schema)`` goes through ``parallelize``
    and so pays a Python worker's start-up on its first action."""
    return spark.range(0, 0, 1, 1).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
    )


def write_bucketed(
    df: DataFrame,
    path: str,
    keys: Sequence[str],
    n_buckets: int,
    extra_files: dict[str, str] | None = None,
) -> None:
    """Full (re)write of a bucketed target — the snapshot path. Stages
    the whole layout then swaps the root directory. An empty source
    still yields a readable, schema-bearing layout (one empty
    ``__bucket=0`` dir) so ``is_bucketed``/``read_target``/first-merge
    work the same as on the legacy flat path.

    ``extra_files``: {filename: content} sidecars (dot-prefixed names
    so Spark ignores them) written INTO THE STAGE before the swap —
    they land atomically with the data, so a layout can never exist
    without its sidecars (the ANN index's params file is the canonical
    user; a post-swap sidecar write would leave a data-bearing but
    unreadable index if the process died in the window)."""
    stage = f"{path}__stage_{uuid.uuid4().hex[:8]}"
    (
        df.withColumn(BUCKET_COL, bucket_expr(keys, n_buckets))
        # key-sorted within each task: parquet rowgroup min/max stats
        # become selective for point lookups (lookup_keys pushes key
        # predicates into the scan) and sorted columns compress better
        .sortWithinPartitions(BUCKET_COL, *keys)
        .write.partitionBy(BUCKET_COL)
        .mode("overwrite")
        .parquet(stage)
    )
    if not any(e.startswith(f"{BUCKET_COL}=") for e in os.listdir(stage)):
        # partitionBy on an empty frame writes only _SUCCESS: stage a
        # schema-only bucket dir so the layout stays self-describing
        df.limit(0).write.mode("overwrite").parquet(
            os.path.join(stage, f"{BUCKET_COL}=0")
        )
    write_meta(stage, keys, n_buckets)
    for name, content in (extra_files or {}).items():
        with open(os.path.join(stage, name), "w") as fh:
            fh.write(content)
    # a full rewrite (re-bucketize, `execute --apply`) keeps the
    # store's snapshot log: hard-linked into the stage, it lands with
    # the swap, and a crash before the swap leaves the original intact
    snaps = os.path.join(path, SNAP_DIR)
    if os.path.isdir(snaps):
        shutil.copytree(snaps, os.path.join(stage, SNAP_DIR), copy_function=os.link)
    _swap_dir(stage, path)


def read_target(spark: SparkSession, path: str) -> DataFrame:
    """Read a target table, bucketed or legacy-flat, WITHOUT the
    bucket column — the one schema callers (monitor, tests, queries)
    should see.

    ``mergeSchema=true``: after a schema evolution only the touched
    buckets carry the new columns; the merged footer schema presents
    one widened view (missing columns read NULL). Footer merging is a
    parallel job over file metadata, not data — at scale, a full
    ``bucketize_in_place`` re-normalizes the layout when the footer
    pass starts to matter."""
    recover_interrupted_swaps(path)
    df = (
        spark.read.option("basePath", path)
        .option("mergeSchema", "true")
        .parquet(path)
    )
    if BUCKET_COL in df.columns:
        df = df.drop(BUCKET_COL)
    return df


# r11 (guide §6 file listing / §1 serving floor): DataFrameReader
# .parquet() re-lists the store's partition tree on EVERY construction
# — on the serving paths (lookup_keys per query batch, ANN/posting
# bucket reads) that driver-side listing measured 0.2-0.5s per call
# against a 32-bucket store, dwarfing the pruned read itself. The LAZY
# base frame (no filters applied) is memoized per (application, path,
# schema, store mtime): every store mutation goes through _swap_dir's
# directory rename inside ``path``, which moves path's mtime_ns, so
# extend/remove/rebuild invalidates the entry by key. Results are
# never cached — the memoized object is an unexecuted plan whose every
# action re-reads the files it listed.
_base_frame_memo: dict = {}

# monotonic count of in-process _swap_dir mutations, part of the memo
# key: two swaps inside one coarse-mtime unit still produce distinct
# keys (cross-process mutations are covered by mtime_ns as before)
_store_mutation_gen: int = 0


def _base_frame(spark: SparkSession, path: str, schema: T.StructType | None) -> DataFrame:
    try:
        mtime = os.stat(path).st_mtime_ns
    except OSError:
        mtime = None  # let reader.parquet raise its standard error
    key = (
        spark.sparkContext.applicationId,
        os.path.abspath(path),
        schema.simpleString() if schema is not None else None,
        mtime,
        _store_mutation_gen,
    )
    if mtime is not None:
        hit = _base_frame_memo.get(key)
        if hit is not None:
            return hit
    reader = spark.read.option("basePath", path)
    if schema is not None:
        reader = reader.schema(
            T.StructType(list(schema.fields) + [T.StructField(BUCKET_COL, T.IntegerType())])
        )
    df = reader.parquet(path)
    if mtime is not None:
        if len(_base_frame_memo) > 64:
            _base_frame_memo.clear()
        _base_frame_memo[key] = df
    return df


def read_buckets(
    spark: SparkSession,
    path: str,
    buckets: Iterable[int],
    schema: T.StructType | None = None,
) -> DataFrame:
    """Pruned read of only the given buckets. The isin filter on the
    partition column becomes PartitionFilters — untouched buckets'
    files are never opened.

    ``schema``: the expected row schema (no bucket column). Passing it
    skips footer inference entirely — important on the merge hot path,
    where ``mergeSchema`` would read every file's footer BEFORE
    partition pruning — and makes evolved layouts read uniformly:
    files missing a column yield NULLs, by name. Without it the
    first-footer schema wins (pre-evolution behavior)."""
    recover_interrupted_swaps(path)
    df = _base_frame(spark, path, schema)
    return df.filter(F.col(BUCKET_COL).isin(list(buckets))).drop(BUCKET_COL)


def overwrite_buckets(
    merged: DataFrame,
    path: str,
    keys: Sequence[str],
    n_buckets: int,
    touched: Iterable[int],
) -> None:
    """Swap ONLY the touched bucket directories with ``merged``'s rows
    (which must all hash into ``touched`` — true by construction when
    merged = survivors-of-touched ∪ upserts). A touched bucket whose
    every row was deleted gets an explicit empty-but-readable parquet
    dir so the target never loses its schema."""
    touched = sorted(set(touched))
    if not touched:
        return
    recover_interrupted_swaps(path)
    if not check_meta(path, keys, n_buckets):
        raise ValueError(
            f"bucketed layout at {path!r} was written with "
            f"{read_meta(path)} but this merge is configured with "
            f"n_buckets={n_buckets}, key_cols={list(keys)}; merging "
            "would swap the wrong buckets — re-bucketize first"
        )
    stage = f"{path}__stage_{uuid.uuid4().hex[:8]}"
    (
        merged.withColumn(BUCKET_COL, bucket_expr(keys, n_buckets))
        .sortWithinPartitions(BUCKET_COL, *keys)  # see write_bucketed
        .write.partitionBy(BUCKET_COL)
        .mode("overwrite")
        .parquet(stage)
    )
    spark = merged.sparkSession
    schema = merged.schema
    try:
        # every staged bucket must be in the touched set: rows hashing
        # elsewhere mean the caller's touched-set derivation disagrees
        # with bucket_expr (e.g. key-type drift) — deleting them in the
        # finally would be SILENT row loss, so fail loudly instead
        staged = {
            int(e.split("=", 1)[1])
            for e in os.listdir(stage)
            if e.startswith(f"{BUCKET_COL}=")
        }
        stray = staged - set(touched)
        if stray:
            raise ValueError(
                f"merged rows hash into buckets {sorted(stray)} outside the "
                f"touched set {touched} — touched-set derivation and "
                "bucket_expr disagree (key type drift?); aborting swap "
                "to avoid silent row loss"
            )
        for b in touched:
            src = os.path.join(stage, f"{BUCKET_COL}={b}")
            dst = os.path.join(path, f"{BUCKET_COL}={b}")
            if not os.path.exists(src):
                # bucket emptied by deletes: stage a schema-only dir
                empty_frame(spark, schema).write.mode("overwrite").parquet(src)
            _swap_dir(src, dst)
    finally:
        if os.path.exists(stage):
            shutil.rmtree(stage)


def bucketize_in_place(
    spark: SparkSession, path: str, keys: Sequence[str], n_buckets: int
) -> None:
    """One-time migration of a legacy flat parquet target into the
    bucketed layout (used when a pipeline attaches to a target written
    by an older snapshot), and re-bucketization when the persisted
    contract (n_buckets/key_cols) differs from the pipeline's. Reads
    via read_target so an existing ``__bucket`` partition column is
    dropped before re-hashing."""
    df = read_target(spark, path).localCheckpoint(eager=True)
    write_bucketed(df, path, keys, n_buckets)


# bucket ids for literal key tuples are a pure function of
# (key types, values, n_buckets) — xxhash64 is content-addressed and
# session-independent — so the one-row Spark expression batch that
# computes them is memoized process-wide. A serving workload that
# re-issues the same query-term lookup every invocation (the
# retrieval index paths) pays the driver job once per process, not
# once per call. Bounded: cleared wholesale past 256 entries.
_literal_bucket_memo: dict = {}


def _literal_bucket_ids(
    spark: SparkSession,
    keys: Sequence[str],
    n_buckets: int,
    key_types: dict,
    key_values: Sequence[Sequence],
) -> list[int]:
    try:
        memo_key = (
            tuple(keys),
            n_buckets,
            tuple(sorted(key_types.items())),
            tuple(tuple(kv) for kv in key_values),
        )
    except TypeError:
        memo_key = None  # unhashable literal (e.g. array key) — skip memo
    if memo_key is not None and memo_key in _literal_bucket_memo:
        return _literal_bucket_memo[memo_key]
    # one local expression evaluation, not a table job: the key tuples
    # travel as an Arrow-backed local relation (decoded in the JVM — no
    # Python worker; data, not literals, so the projection's generated
    # code is reused across calls), and the ids are deduped here rather
    # than by a distinct shuffle
    from sync_spark.operators.localrel import arrow_local_frame

    kv_df = arrow_local_frame(
        spark,
        [tuple(kv) for kv in key_values],
        ", ".join(f"{k} {key_types[k]}" for k in keys),
    )
    buckets = sorted(
        {r.b for r in kv_df.select(bucket_expr(keys, n_buckets).alias("b")).collect()}
    )
    if memo_key is not None:
        if len(_literal_bucket_memo) > 256:
            _literal_bucket_memo.clear()
        _literal_bucket_memo[memo_key] = buckets
    return buckets


def lookup_keys(
    spark: SparkSession,
    path: str,
    key_values: Sequence[Sequence],
    schema: T.StructType | None = None,
) -> DataFrame:
    """Point lookup by primary key — the reference's SELECT-by-PK read
    path (mysql.go:524-692 UPDATE/DELETE targeting, mongodb ReplaceOne
    filters) re-expressed on the bucketed layout.

    ``key_values``: list of key tuples (in the layout's key_cols
    order, per ``.sync_meta.json``). Cost model: bucket ids are
    computed DRIVER-side from the literal keys (same xxhash64 via a
    one-row Spark expression batch, no table scan), the scan
    partition-prunes to exactly those buckets, and the key equality
    predicate reaches the parquet reader — with the key-sorted file
    layout the rowgroup min/max stats skip everything else. A k-key
    lookup on an N-row table touches ≤ k buckets' footers + the
    matching rowgroups, never N rows."""
    meta = read_meta(path)
    if meta is None:
        raise ValueError(f"no bucketed layout at {path!r} (missing {META_FILE})")
    keys, n_buckets = meta["key_cols"], meta["n_buckets"]
    if not key_values:
        # same schema contract as the non-empty path: honor the
        # caller's schema so zero-key batches union cleanly with
        # non-empty ones
        if schema is not None:
            return spark.createDataFrame([], schema)
        return read_target(spark, path).limit(0)
    if any(len(kv) != len(keys) for kv in key_values):
        raise ValueError(f"each key tuple must match key_cols {keys}")
    # key types: from the caller's schema, else ONE footer read for
    # every key column (a per-column read_target would pay the
    # mergeSchema footer pass k times)
    if schema is not None and all(k in schema.names for k in keys):
        key_types = {k: schema[k].dataType.simpleString() for k in keys}
    else:
        stored = read_target(spark, path).schema
        key_types = {k: stored[k].dataType.simpleString() for k in keys}
    buckets = _literal_bucket_ids(spark, keys, n_buckets, key_types, key_values)
    df = read_buckets(spark, path, buckets, schema=schema)
    pred = None
    for kv in key_values:
        conj = None
        for k, v in zip(keys, kv):
            c = F.col(k).eqNullSafe(F.lit(v))
            conj = c if conj is None else (conj & c)
        pred = conj if pred is None else (pred | conj)
    return df.filter(pred)




def update_touched_buckets(
    rows: DataFrame,
    path: str,
    mode: str,
    anti_on: str | None = None,
    schema: T.StructType | None = None,
) -> int:
    """THE touched-bucket maintenance skeleton, shared by every
    persisted index (fingerprint, BM25 postings + doc sidecar, ANN) —
    one definition of persist → touched-bucket collect → pruned read →
    merge → overwrite so the six maintenance paths cannot drift.

    ``rows``: the slice in the layout's row schema (content-derived —
    locating the touched buckets from content is what makes
    maintenance O(slice), not O(corpus)).
    ``mode='extend'``: distinct-union the slice in (idempotent —
    re-sending a slice is a no-op).
    ``mode='remove'``: anti-join out every stored row whose
    ``anti_on`` id appears in the slice (idempotent — removing an
    absent id rewrites the touched buckets unchanged).

    Both sides hash into the touched set by construction: existing
    rows are read from exactly those buckets, and the touched set is
    derived from ``rows`` itself — overwrite_buckets' contract holds
    with no re-filter. Returns the number of touched buckets."""
    meta = read_meta(path)
    if meta is None:
        raise ValueError(f"no bucketed layout at {path!r} (missing {META_FILE})")
    keys, n_buckets = meta["key_cols"], meta["n_buckets"]
    spark = rows.sparkSession
    cols = rows.columns
    # persist: the touched-bucket collect and the staged overwrite both
    # consume the slice — without the cache the (often CPU-bound)
    # row-prep kernel would run twice
    rows = rows.persist()
    try:
        touched = [
            int(r[0])
            for r in rows.select(bucket_expr(keys, n_buckets).alias("b"))
            .distinct()
            .collect()
        ]
        if not touched:
            return 0
        existing = read_buckets(spark, path, touched, schema=schema).select(*cols)
        if mode == "extend":
            merged = existing.unionByName(rows).distinct()
        elif mode == "remove":
            if anti_on is None:
                raise ValueError("mode='remove' requires anti_on")
            merged = existing.join(
                rows.select(anti_on).distinct(), anti_on, "left_anti"
            )
        else:
            raise ValueError(f"unknown mode {mode!r}")
        overwrite_buckets(merged, path, keys, n_buckets, touched)
    finally:
        rows.unpersist()
    return len(touched)
