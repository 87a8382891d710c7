"""CDC sync pipeline: snapshot-if-empty + streaming tail with
foreachBatch incremental MERGE (SURVEY.md §3.1 re-expression, §2.9
T1-T8).

Reference parity map:
- initial snapshot gated on empty target (mongodb.go:458-525,
  mysql.go:205-214) → ``snapshot_if_empty``;
- change-stream tail → ``readStream`` on the envelope log; resume
  tokens (T3) → ``checkpointLocation``;
- per-event apply with latest-wins ordering (T4/W2) →
  ``apply_changes`` MERGE per micro-batch (the latest change per key
  wins), idempotent so at-least-once delivery yields effectively-once;
- **incremental apply cost** — the reference applies row-wise against
  an indexed store (mongodb.go:1184-1235 BulkWrite upsert/delete,
  mysql.go:524-692 UPDATE/DELETE by PK), i.e. O(batch) per batch, not
  O(target). The target here is a hash-bucketed parquet layout
  (sources/bucketed.py): each batch derives its touched bucket set
  from the change keys, reads ONLY those buckets (partition pruning),
  merges, and atomically swaps only those directories. Untouched
  buckets are byte-identical across batches;
- ``ignoreDeleteOps`` (P11) honored per table mapping;
- fieldSecurity masking/encryption applied to the after-image BEFORE
  it reaches the target (security.go semantics);
- dead-letter queue (S14/T6: mongodb.go:1310-1443): rows with null
  keys (unappliable) are quarantined — WITH their full payload so
  they can be diagnosed and replayed, matching the reference's
  storeToDeadLetterQueue serializing the whole WriteModel.

Driver job discipline: one micro-batch issues ONE summary aggregation
over the persisted batch (per-table × per-op counts + touched bucket
sets via collect_set), and every skip/DLQ/stats decision branches off
that single collected result — not 2 probe jobs × N tables (the
round-1 anti-pattern; at the reference's 500-table scale that was
~1000 scheduler round-trips per trigger). The per-batch job ledger
(Spark jobs under the stream's job group, one non-idle table):

- batch summary: 3 (the one aggregate's collect over the persisted
  batch, as AQE runs it);
- DLQ write: 1, only when the table has bad rows;
- apply stats: 0 — the counters come from the summary and are written
  driver-side with pyarrow (``monitor.write_apply_stats``);
- schema check: 1 footer read, once per table per pipeline instance;
- MERGE: 2 — ``apply_changes`` is one per-key argmin over the touched
  buckets ∪ the changes (one shuffle), then the staged bucket write.

The pipeline owns no bucket count: before each summary it reads every
table's count from its store's ``.sync_meta.json`` (a driver-side file
read, no job), so the layout never changes under a running pipeline.
A legacy flat target, a meta-less layout or one bucketed on other key
columns is migrated first, once, sized from its own files
(``bucketed.buckets_for``). The job count above does not depend on
the count, but the tasks do: on perfbench ``cdc_catchup`` (seed 1,
traced, 4-core host) stores sized from their ≤ 0.5 MB snapshots are
one bucket each, and a batch touches 1 bucket instead of 16, at 6.67
jobs / 8.67 stages either way and 14.67 tasks instead of 22.67.

The batch stays persisted: without it every consumer (summary, DLQ,
MERGE) re-scans the source, and the stream's own ``numInputRows``
counts each re-scan.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sync_spark.functions.security import apply_security_rules
from sync_spark.operators.merge import DELETE_OP, OP_COL, apply_changes
from sync_spark.operators.monitor import write_apply_stats
from sync_spark.sources.bucketed import (
    STORE_CODEC,
    UNKNOWN_LAYOUT_BUCKETS,
    _swap_dir,
    bucket_expr_vals,
    bucketize_in_place,
    empty_frame,
    overwrite_buckets,
    read_buckets,
    read_meta,
    read_target,
    recover_interrupted_swaps,
    write_bucketed,
)
from sync_spark.sources.cdc import changes_for_table, read_event_stream
from sync_spark.spec import SyncSpec


@dataclass
class TableTarget:
    source_table: str
    target_path: str
    row_schema: T.StructType
    key_cols: list[str]
    ignore_deletes: bool = False


def _write_atomic(df: DataFrame, path: str) -> None:
    """Overwrite ``path`` with df via stage + rename-aside swap: the
    old dir is renamed aside before the new one lands, so there is no
    window where neither version exists (crash mid-swap leaves
    ``path__old`` for recovery)."""
    tmp = f"{path}__stage_{uuid.uuid4().hex[:8]}"
    df.write.mode("overwrite").option("compression", STORE_CODEC).parquet(tmp)
    _swap_dir(tmp, path)


def snapshot_if_empty(
    spark: SparkSession,
    source: DataFrame,
    target_path: str,
    key_cols: Optional[list[str]] = None,
    n_buckets: Optional[int] = None,
    row_schema: Optional[T.StructType] = None,
) -> bool:
    """Initial full copy, skipped when the target already has data
    (mongodb.go:459-465). Returns True if the snapshot ran. When
    ``key_cols`` is given the target is written in the bucketed layout
    directly (otherwise the pipeline migrates it on first merge),
    with ``n_buckets`` sized from the source's files when not given
    (``bucketed.buckets_for``)."""
    if row_schema is not None:
        # pin the snapshot to the CDC row_schema: a drifting source
        # type (e.g. int key vs declared long) would bucket by a
        # different xxhash64 and wedge every subsequent merge on the
        # stray-bucket guard
        source = source.select(
            *[F.col(f.name).cast(f.dataType).alias(f.name) for f in row_schema.fields]
        )
    recover_interrupted_swaps(target_path)
    if os.path.exists(target_path):
        from pyspark.errors import AnalysisException

        try:
            if read_target(spark, target_path).limit(1).count() > 0:
                return False
        except AnalysisException:
            # schema-less/empty dir → re-snapshot. ONLY the analysis
            # failure class: a blanket except would treat a TRANSIENT
            # read error on a populated target as empty and
            # destructively re-snapshot it (r8 review finding) —
            # execution errors re-raise
            pass
    if key_cols:
        write_bucketed(source, target_path, key_cols, n_buckets)
    else:
        _write_atomic(source, target_path)
    return True


class CdcPipeline:
    """One sync task: envelope event log → per-table incremental MERGE
    targets."""

    def __init__(
        self,
        spark: SparkSession,
        spec: SyncSpec,
        tables: list[TableTarget],
        event_log_dir: str,
        checkpoint_dir: str,
        dlq_path: Optional[str] = None,
        security_key: str = "",
        max_files_per_trigger: int | None = None,
        stats_path: Optional[str] = None,
        snapshot_after_batch: bool = False,
    ) -> None:
        self.spark = spark
        self.spec = spec
        self.tables = tables
        self.event_log_dir = event_log_dir
        self.checkpoint_dir = checkpoint_dir
        self.dlq_path = dlq_path
        self.security_key = security_key
        self.max_files_per_trigger = max_files_per_trigger
        self.stats_path = stats_path
        # each table's bucket count, read from its store before every
        # batch's summary (``_adopt_layouts``): the store owns its
        # layout, the pipeline never changes it
        self._layouts: dict[str, int] = {}
        # opt-in time travel: commit each table's post-merge state as a
        # version of its `.snapshots` Delta log (sources/snapshots.py;
        # one footer-merge schema job per table per changed batch), the
        # batch id as the note, so versions map back to stream position
        self.snapshot_after_batch = snapshot_after_batch
        self._schema_checked: set[str] = set()
        # the EFFECTIVE stored schema per table: fieldSecurity re-types
        # masked/encrypted leaves to STRING (both transforms emit
        # string), so bucket reads and bootstrap writes must pin THIS
        # schema — pinning the pre-security row_schema would read a
        # masked non-string column's UTF8 parquet bytes under its
        # original type and wedge every merge (r8 review finding).
        # The envelope PARSE keeps row_schema: JSON payloads carry the
        # source types, and rules re-type after the parse.
        from sync_spark.functions.security import secured_schema

        self._stored_schema = {
            t.source_table: secured_schema(
                t.row_schema, spec.field_security.get(t.source_table, [])
            )
            for t in tables
        }
        # fail LOUDLY on a security rule targeting a key column: keys
        # can never be masked/encrypted (CDC events carry real keys —
        # a transformed key would never match the target and every
        # update would duplicate), and silently ignoring a configured
        # security control would be worse than refusing to start
        for t in tables:
            bad = [
                r.field
                for r in spec.field_security.get(t.source_table, [])
                if r.field.split(".")[0] in t.key_cols
            ]
            if bad:
                raise ValueError(
                    f"fieldSecurity rules on key columns of "
                    f"{t.source_table!r} are unsupported: {bad} — key "
                    "values must stay matchable for the MERGE"
                )

    # -- micro-batch apply ------------------------------------------------

    def _apply_rules_unsecured(self, df: DataFrame, rules) -> DataFrame:
        """Apply fieldSecurity ONLY to rows not already secured: DLQ
        replays re-inject payloads that passed the rules before
        quarantine, and a second pass would double-encrypt (masking
        happens to be idempotent; ciphertext is not)."""
        if not rules:
            return df
        if "secured" in df.columns:
            pre = F.coalesce(F.col("secured"), F.lit(False))
            fresh = apply_security_rules(
                df.filter(~pre), rules, key=self.security_key
            )
            # align the already-secured branch to the RE-TYPED schema
            # before the union: rules turn non-string leaves into
            # string, and a mixed-type unionByName would coerce the
            # fresh branch's '****' back toward the original type and
            # die on the cast. (A replayed masked non-string value
            # parsed under row_schema is NULL — documented corner.)
            fresh_types = {f.name: f.dataType for f in fresh.schema.fields}
            sec = df.filter(pre).select(
                *[F.col(c).cast(fresh_types[c]).alias(c) for c in fresh.columns]
            )
            return fresh.unionByName(sec)
        return apply_security_rules(df, rules, key=self.security_key)

    def _null_key_pred(self, t: TableTarget) -> F.Column:
        """Unappliable ⇔ every key column is null, OR the op itself is
        null (a malformed line under the permissive JSON read): a
        NULL op row would pass BOTH of apply_changes' op filters as
        false and vanish silently while stats counted it (T6 — r8
        review finding); quarantining keeps the no-silent-drop
        contract."""
        pred = F.col(OP_COL).isNull()
        key_pred = None
        for k in t.key_cols:
            c = F.col(k).isNull()
            key_pred = c if key_pred is None else (key_pred & c)
        return pred | key_pred

    def _adopt_layouts(self) -> dict[str, int]:
        """Each table's bucket count, from its store's
        ``.sync_meta.json`` — read BEFORE the summary, which hashes
        every table's touched buckets under that table's own count.

        A store the count cannot be trusted for is migrated first,
        sized from its own files: a legacy flat target or a meta-less
        bucketed layout (either may predate the meta contract, so no
        count can be adopted from it) and a layout whose key columns
        differ from the mapping's. A table with no target yet takes
        the unknown-layout count, which its bootstrap on its first
        events writes."""
        layouts = {}
        for t in self.tables:
            # heal a crashed root swap FIRST: a crash between
            # _swap_dir's two renames leaves no live dir, only the
            # parked .old_<name> copy — treating the target as missing
            # would bootstrap an empty one over the only copy
            recover_interrupted_swaps(t.target_path)
            if not os.path.exists(t.target_path):
                layouts[t.source_table] = UNKNOWN_LAYOUT_BUCKETS
                continue
            meta = read_meta(t.target_path)
            if meta is None or meta["key_cols"] != list(t.key_cols):
                bucketize_in_place(self.spark, t.target_path, t.key_cols)
                meta = read_meta(t.target_path)
            layouts[t.source_table] = meta["n_buckets"]
        return layouts

    def _batch_summary(self, batch: DataFrame) -> list:
        """THE one probe/stats job per micro-batch: per (table, op,
        bad) counts + touched bucket sets, each table's under its own
        store's bucket count (``_adopt_layouts``).

        Computed in the ENVELOPE domain with per-table CASE branches
        (each branch parses that table's key with its own schema) —
        one scan + one shuffle, NOT a union of N per-table projections
        (AQE compiles each union branch into its own shuffle-map job,
        which would put the job count right back at O(tables))."""
        from sync_spark.sources.cdc import pk_changed_pred

        bad_expr, bucket_col, before_bucket_col = None, None, None
        for t in self.tables:
            key_schema = T.StructType(
                [f for f in t.row_schema.fields if f.name in t.key_cols]
            )
            after = F.from_json("after_json", t.row_schema)
            key = F.from_json("key_json", key_schema)
            vals = [F.coalesce(after[k], key[k]) for k in t.key_cols]
            pred = vals[0].isNull()
            for v in vals[1:]:
                pred = pred & v.isNull()
            # same unappliable definition as _null_key_pred: a NULL op
            # is bad too (quarantined, never merged)
            pred = F.col("op").isNull() | pred
            # THE layout hash (same definition object as the bucketed
            # writer — typed key values in key_cols order)
            n_buckets = self._layouts[t.source_table]
            bucket = bucket_expr_vals(vals, n_buckets)
            # PK-changing update: the OLD key's bucket is ALSO touched
            # (its row must be merged away); missing it would leave a
            # stale duplicate in an unread bucket
            changed = pk_changed_pred(batch.columns, t.row_schema, t.key_cols)
            if changed is not None:
                bkey = F.from_json("before_key_json", key_schema)
                bbucket = F.when(
                    changed,
                    bucket_expr_vals([bkey[k] for k in t.key_cols], n_buckets),
                )
            else:
                bbucket = F.lit(None).cast("int")
            cond = F.col("source_table") == t.source_table
            bad_expr = (
                F.when(cond, pred) if bad_expr is None else bad_expr.when(cond, pred)
            )
            bucket_col = (
                F.when(cond, bucket)
                if bucket_col is None
                else bucket_col.when(cond, bucket)
            )
            before_bucket_col = (
                F.when(cond, bbucket)
                if before_bucket_col is None
                else before_bucket_col.when(cond, bbucket)
            )
        rows = (
            batch.select(
                F.col("source_table").alias("table"),
                F.col("op"),
                bad_expr.alias("bad"),
                bucket_col.alias("b"),
                before_bucket_col.alias("bb"),
            )
            .groupBy("table", "op", "bad")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.collect_set("b").alias("buckets"),
                F.collect_set("bb").alias("before_buckets"),
            )
            .collect()
        )
        # fold before-buckets into the touched set the callers read
        return [
            {
                "table": r["table"],
                "op": r["op"],
                "bad": r["bad"],
                "n": r["n"],
                "buckets": sorted(set(r["buckets"]) | set(r["before_buckets"])),
            }
            for r in rows
        ]

    def _apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        """foreachBatch body. Idempotent: compaction + MERGE + per-
        (table,batch) overwrite discipline for DLQ/stats means
        replaying a batch after a crash converges to the same target
        state (T4)."""
        self._layouts = self._adopt_layouts()
        batch = batch.persist()
        try:
            summary = self._batch_summary(batch)
            for t in self.tables:
                rows = [r for r in summary if r["table"] == t.source_table]
                if not rows:
                    continue  # idle table: zero further jobs
                # ignored-delete events never reach changes_for_table's
                # output, so a null-key delete under ignore_deletes
                # must not count as quarantinable either — otherwise
                # bad_n disagrees with the frame actually written to
                # the DLQ (short/empty batch, event silently vanishes)
                bad_n = sum(
                    r["n"]
                    for r in rows
                    if r["bad"] and not (t.ignore_deletes and r["op"] == DELETE_OP)
                )
                good_rows = [r for r in rows if not r["bad"]]
                # ops the merge will actually execute (ignored deletes
                # excluded, mirroring what the reference counts in
                # changestream_statistics, monitor.go:96-110)
                applied = [
                    r
                    for r in good_rows
                    if not (t.ignore_deletes and r["op"] == DELETE_OP)
                ]

                # ignoreDeleteOps filters SOURCE deletes at the
                # envelope level inside changes_for_table, so
                # synthesized PK-change deletes (part of an update,
                # not a user delete) always survive to the merge
                changes = changes_for_table(
                    batch,
                    t.source_table,
                    t.row_schema,
                    t.key_cols,
                    ignore_source_deletes=t.ignore_deletes,
                )
                rules = self.spec.field_security.get(t.source_table, [])
                # constructor guarantees no rule targets a key column
                if self.dlq_path and bad_n:
                    # full payload travels with the quarantined event so
                    # it can be diagnosed/replayed (mongodb.go
                    # storeToDeadLetterQueue serializes the WriteModel);
                    # partition-dir overwrite keyed by (table, batch):
                    # crash-replays rewrite the SAME dir, keeping the
                    # DLQ as idempotent as the merge
                    quarantined = changes.filter(self._null_key_pred(t))
                    # the DLQ is a retained, replayable copy — it
                    # must honor fieldSecurity like the target, or
                    # it becomes a plaintext side-channel for the
                    # very fields configured as protected (rows from
                    # a replay are ALREADY secured; skip those)
                    quarantined = self._apply_rules_unsecured(quarantined, rules)
                    (
                        quarantined
                        .withColumn(
                            "reason",
                            F.when(F.col(OP_COL).isNull(), F.lit("null_op")).otherwise(
                                F.lit("null_key")
                            ),
                        )
                        .withColumn(
                            "payload",
                            F.to_json(
                                F.struct(*[f.name for f in t.row_schema.fields])
                            ),
                        )
                        .withColumn("retry_count", F.lit(0))
                        .select("op", "seq", "reason", "payload", "retry_count")
                        .write.mode("overwrite")
                        .parquet(
                            f"{self.dlq_path}/table={t.source_table}/batch_id={batch_id}"
                        )
                    )
                if not good_rows:
                    continue
                if self.stats_path is not None:
                    # apply counters come straight from the collected
                    # summary, written driver-side: no Spark job
                    write_apply_stats(
                        f"{self.stats_path}/table={t.source_table}/batch_id={batch_id}",
                        [(r["op"], r["n"]) for r in applied],
                    )
                if not applied:
                    continue  # e.g. only ignored deletes: target untouched
                touched = sorted({b for r in applied for b in r["buckets"]})

                good = changes.filter(~self._null_key_pred(t))
                # mask/encrypt the after-image columns; key + op +
                # seq stay intact for the merge (the constructor
                # rejects rules on key columns, so bucket ids are
                # unchanged). Replayed rows are already secured and
                # are passed through untouched.
                good = self._apply_rules_unsecured(good, rules)

                stored_schema = self._stored_schema[t.source_table]
                n_buckets = self._layouts[t.source_table]
                if not os.path.exists(t.target_path):
                    # first events for a table that was never
                    # snapshotted (insert-only mapping, or a mapping
                    # added mid-stream): bootstrap an empty bucketed
                    # target, under the count the summary hashed
                    # with, instead of dying on PATH_NOT_FOUND at
                    # every checkpoint replay
                    write_bucketed(
                        empty_frame(self.spark, stored_schema),
                        t.target_path,
                        t.key_cols,
                        n_buckets,
                    )
                if t.source_table not in self._schema_checked:
                    # narrowing guard, once per table per pipeline
                    # instance: a row_schema MISSING columns the
                    # stored target has (typo, stale spec) would —
                    # under the pinned-schema read below — silently
                    # drop those columns from every touched bucket it
                    # rewrites. Widening is the supported evolution;
                    # narrowing requires an explicit migration.
                    stored_df_schema = read_target(self.spark, t.target_path).schema
                    stored = set(stored_df_schema.names)
                    missing = stored - {f.name for f in t.row_schema.fields}
                    if missing:
                        raise ValueError(
                            f"row_schema for {t.source_table!r} lacks columns "
                            f"{sorted(missing)} present in the stored target — "
                            "narrowing a schema mid-stream would destroy their "
                            "data in every touched bucket; run an explicit "
                            "migration (bucketize_in_place with the narrowed "
                            "schema) if the drop is intended"
                        )
                    # a fieldSecurity rule RE-TYPES its column to string
                    # in the stored layout; a target written before the
                    # rule existed still holds the original type, and a
                    # pinned-string read over (say) DOUBLE parquet pages
                    # cannot convert — fail with the migration story
                    # instead of a reader exception mid-merge
                    actual = {f.name: f.dataType for f in stored_df_schema.fields}
                    conflicts = [
                        f.name
                        for f in stored_schema.fields
                        if f.name in actual
                        and f.dataType != actual[f.name]
                        and f.dataType
                        != dict(
                            (g.name, g.dataType) for g in t.row_schema.fields
                        ).get(f.name)
                    ]
                    if conflicts:
                        raise ValueError(
                            f"fieldSecurity re-types columns {sorted(conflicts)} "
                            f"of {t.source_table!r} to string, but the stored "
                            "target still holds their original types (the rule "
                            "was added after the snapshot) — run an explicit "
                            "migration (bucketize_in_place after masking the "
                            "stored values) before streaming with this rule"
                        )
                    self._schema_checked.add(t.source_table)
                # explicit schema: no footer-inference job, and the
                # pipeline's schema-evolution contract — row_schema is
                # authoritative; buckets written before a column was
                # added read it as NULL, so updating a TableTarget's
                # row_schema (spec hot reload / restart) evolves the
                # target incrementally: touched buckets pick up the
                # new column on their next merge, untouched buckets
                # stay byte-identical and read_target's merged-footer
                # view nulls them in
                target = read_buckets(
                    self.spark, t.target_path, touched, schema=stored_schema
                )
                # ignore_deletes=False here: user deletes were already
                # dropped at the envelope level; the delete rows that
                # remain are PK-change synthetics that MUST apply
                merged = apply_changes(
                    target,
                    good,
                    keys=t.key_cols,
                )
                # merged reads the OLD bucket files while staging; the
                # swap happens only after the staged write completes,
                # so no localCheckpoint barrier is needed
                overwrite_buckets(merged, t.target_path, t.key_cols, n_buckets, touched)
                if self.snapshot_after_batch:
                    from sync_spark.sources.snapshots import snapshot_create

                    snapshot_create(self.spark, t.target_path, note=f"batch={batch_id}")
        finally:
            batch.unpersist()

    # -- stream lifecycle --------------------------------------------------

    def start(self, trigger_once: bool = True):
        stream = read_event_stream(
            self.spark, self.event_log_dir, self.max_files_per_trigger
        )
        mapped = [t.source_table for t in self.tables]
        stream = stream.filter(F.col("source_table").isin(mapped))  # P10
        writer = (
            stream.writeStream.foreachBatch(self._apply_batch)
            .option("checkpointLocation", self.checkpoint_dir)
        )
        if trigger_once:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime="2 seconds")  # T1
        return writer.start()

    def run_available(self) -> None:
        """Process everything currently in the log, then stop —
        deterministic batch-like drain used by tests and backfills."""
        q = self.start(trigger_once=True)
        q.awaitTermination()


def replay_dlq(
    spark: SparkSession,
    dlq_path: str,
    event_log_dir: str,
    source_table: str,
    row_schema: T.StructType,
    key_cols: list,
    fix=None,
    max_retry: int = 3,
) -> tuple[int, int]:
    """Re-inject quarantined events into the event log — the engine's
    analog of the reference's dead-letter replay loop
    (mongodb.go:1836-1950, processDeadLetterQueue: read batch files,
    retry ops with retry_count < max, persist updated retry counts;
    cited for parity, not ported).

    ``fix`` is an optional ``DataFrame -> DataFrame`` repair step over
    the parsed payload rows (typed in ``row_schema`` + op/seq) — the
    human-in-the-loop part the reference leaves to "retry and hope":
    our quarantine reason (null keys) is deterministic, so a blind
    retry can never succeed without a repair. Rows whose keys are
    valid after the fix are appended to the event log as a normal
    envelope batch (they re-enter the pipeline through the SAME merge
    path — no side-door writes to the target) under a batch id derived
    from the files already present, so repeated replay cycles never
    reuse a filename the checkpointed stream has marked as seen. The
    replayed events are re-stamped with seq values above the log's
    current max, so the replay semantics are REPLAY-WINS: a repaired
    event overwrites any live update the stream applied for the same
    key since quarantine (compaction ordering reflects replay time,
    not original event time). Rows
    still bad get retry_count+1 and are rewritten in place, and rows
    that exhausted ``max_retry`` stay parked with a terminal reason.

    The DLQ is failure-grain (bounded by what went WRONG, not by data
    volume), so the driver-side collect of repaired rows is bounded by
    construction — same argument as the pipeline's summary collect.

    Returns ``(replayed, remaining)``."""
    import glob as _glob
    import json as _json
    import shutil as _shutil

    table_dir = os.path.join(dlq_path, f"table={source_table}")
    recover_interrupted_swaps(table_dir)  # heal a crash mid-queue-swap
    if not _glob.glob(os.path.join(table_dir, "batch_id=*")):
        return (0, 0)
    # mergeSchema: quarantine batches written before the retry_count
    # column existed coexist with replay rewrites that carry it — a
    # single arbitrary footer would either reset counts or null-crash
    # the bump below. The DLQ is failure-grain-small, so the
    # all-footers read is cheap here (unlike the merge hot path).
    raw = spark.read.option("mergeSchema", "true").parquet(table_dir)
    if "retry_count" not in raw.columns:
        raw = raw.withColumn("retry_count", F.lit(0))
    parsed = raw.select(
        "op",
        "seq",
        "reason",
        F.coalesce(F.col("retry_count"), F.lit(0)).alias("retry_count"),
        F.from_json("payload", row_schema).alias("p"),
    ).select("op", "seq", "reason", "retry_count", "p.*")
    if fix is not None:
        parsed = fix(parsed)
    key_ok = None
    for k in key_cols:
        ok = F.col(k).isNotNull()
        key_ok = ok if key_ok is None else (key_ok & ok)
    good = parsed.filter(key_ok).collect()
    bad = parsed.filter(~key_ok).collect()

    # Re-stamp replayed events with fresh seq values ABOVE the log's
    # current max (relative order among replayed rows preserved): the
    # target stores no seq, so a replayed OLD after-image merged after
    # a newer live update for the same key would silently win on
    # original-seq compaction ties-by-arrival. Stamping at
    # replay time makes compaction ordering reflect the operator's
    # intent — replay-wins — explicitly rather than by accident.
    all_log = _glob.glob(os.path.join(event_log_dir, "events-*.jsonl"))
    if all_log:
        max_seq = (
            spark.read.schema("seq long").json(all_log).agg(F.max("seq")).first()[0]
            or 0
        )
    else:
        max_seq = 0
    events = []
    for i, r in enumerate(sorted(good, key=lambda r: (r["seq"] is None, r["seq"]))):
        d = r.asDict()
        d["seq"] = max_seq + 1 + i
        key = {k: d[k] for k in key_cols}
        after = {f.name: d[f.name] for f in row_schema.fields}
        events.append(
            {
                "op": d["op"],
                "seq": d["seq"],
                "ts": None,
                "source_table": source_table,
                "key_json": _json.dumps(key),
                "after_json": None if d["op"] == "delete" else _json.dumps(after),
                # the DLQ payload already passed fieldSecurity before
                # quarantine; the pipeline must not re-mask/re-encrypt
                "secured": True,
            }
        )
    if events:
        from sync_spark.sources.cdc import write_event_batch

        # derive a NEVER-REUSED batch id from the files already in the
        # log: the streaming source's seen-files map keys on the path,
        # so overwriting a previously-consumed filename would make the
        # repaired events silently invisible to the checkpointed query
        existing = _glob.glob(os.path.join(event_log_dir, "events-9*.jsonl"))
        ids = []
        for p in existing:
            try:
                ids.append(int(os.path.basename(p)[len("events-"):-len(".jsonl")]))
            except ValueError:
                pass
        next_id = max(ids, default=9_000_000_000 - 1) + 1
        write_event_batch(event_log_dir, events, next_id)
    # rewrite the queue: only still-bad rows remain, retry bumped;
    # exhausted rows keep a terminal reason so operators can see them.
    # Stage-then-swap, NOT rmtree-then-write: a crash between a bare
    # rmtree and the rewrite would lose the only copy of the still-
    # quarantined rows (the repo-wide crash-safety discipline;
    # recover_interrupted_swaps at the top of the next replay heals a
    # crash mid-swap)
    if bad:
        rows = []
        for r in bad:
            d = r.asDict()
            payload = _json.dumps(
                {f.name: d[f.name] for f in row_schema.fields}
            )
            rc = d["retry_count"] + 1
            reason = d["reason"] if rc < max_retry else "retries_exhausted"
            rows.append((d["op"], d["seq"], reason, payload, rc))
        stage = f"{table_dir}__stage_{uuid.uuid4().hex[:8]}"
        spark.createDataFrame(
            rows, "op string, seq long, reason string, payload string, retry_count int"
        ).write.mode("overwrite").parquet(
            os.path.join(stage, f"batch_id=replay_{uuid.uuid4().hex[:8]}")
        )
        from sync_spark.sources.bucketed import _swap_dir

        _swap_dir(stage, table_dir)
    else:
        # everything replayed: the events are durably in the log, so
        # dropping the queue copy is safe (a crash before this rmtree
        # re-injects the same (key, seq) events — compaction dedups)
        _shutil.rmtree(table_dir, ignore_errors=True)
    return (len(events), len(bad))


def export_exhausted_dlq(
    spark: SparkSession,
    dlq_path: str,
    source_table: str,
    out_dir: str,
) -> tuple:
    """Terminal DLQ lifecycle step: move ``retries_exhausted`` rows
    out of the live queue into a parquet artifact an operator can
    audit offline — the queue stays failure-grain-small and a replay
    loop stops re-reading rows that can never succeed (the reference
    parks these permanently in its dead-letter collection,
    mongodb.go processDeadLetterQueue's max-retry arm; cited for
    parity, not ported).

    Crash ordering: the artifact is updated BEFORE the queue rewrite,
    and it ACCUMULATES — new exhausted rows are unioned with any
    previously exported ones and deduped by ``seq``, so a later export
    never destroys an earlier artifact and a crash between the two
    steps converges on re-run (the same rows merge to the same
    artifact; rows with equal seq are the same event, so the dedup
    survivor is immaterial). Both the artifact update and the queue
    rewrite go through the repo-wide stage-then-swap, healed by
    recover_interrupted_swaps on the next entry. Returns
    ``(exported, remaining)``."""
    import glob as _glob
    import shutil as _shutil

    from sync_spark.sources.bucketed import _swap_dir

    table_dir = os.path.join(dlq_path, f"table={source_table}")
    recover_interrupted_swaps(table_dir)
    if not _glob.glob(os.path.join(table_dir, "batch_id=*")):
        return (0, 0)
    raw = spark.read.option("mergeSchema", "true").parquet(table_dir)
    if "retry_count" not in raw.columns:
        raw = raw.withColumn("retry_count", F.lit(0))
    # drop the discovered batch_id partition column: the survivor
    # rewrite below writes INSIDE a new batch_id=... dir, and a stale
    # batch_id data column there would shadow/conflict with the
    # partition value on every later read of the queue
    data_cols = [c for c in raw.columns if c != "batch_id"]
    exhausted = raw.filter(F.col("reason") == "retries_exhausted").select(*data_cols)
    keep_rows = (
        raw.filter(F.col("reason") != "retries_exhausted").select(*data_cols).collect()
    )
    ex_rows = exhausted.collect()  # failure-grain: bounded by design
    if not ex_rows:
        return (0, len(keep_rows))
    art_dir = os.path.join(out_dir, f"table={source_table}")
    os.makedirs(out_dir, exist_ok=True)
    # artifact grain, not out_dir grain: a crashed artifact write
    # leaves '<art_dir>__stage_*', which only the per-artifact recover
    # scan matches (r8 review finding)
    recover_interrupted_swaps(art_dir)
    merged = exhausted
    if _glob.glob(os.path.join(art_dir, "*.parquet")):
        prev = spark.read.option("mergeSchema", "true").parquet(art_dir)
        both = exhausted.unionByName(prev, allowMissingColumns=True)
        # idempotent re-export dedups on seq — but NULL seqs (distinct
        # corrupt lines) must NOT collapse into one audit row while
        # the queue rewrite drops them all (r8 review finding): null-
        # seq rows dedup on the full row instead
        merged = (
            both.filter(F.col("seq").isNotNull())
            .dropDuplicates(["seq"])
            .unionByName(both.filter(F.col("seq").isNull()).dropDuplicates())
        )
    art_stage = f"{art_dir}__stage_{uuid.uuid4().hex[:8]}"
    merged.coalesce(1).write.mode("overwrite").parquet(art_stage)
    _swap_dir(art_stage, art_dir)
    if keep_rows:
        stage = f"{table_dir}__stage_{uuid.uuid4().hex[:8]}"
        spark.createDataFrame(
            keep_rows, exhausted.schema
        ).write.mode("overwrite").parquet(
            os.path.join(stage, f"batch_id=exported_{uuid.uuid4().hex[:8]}")
        )
        _swap_dir(stage, table_dir)
    else:
        _shutil.rmtree(table_dir, ignore_errors=True)
    return (len(ex_rows), len(keep_rows))
