"""Top-level task runner — the engine's equivalent of the reference's
main dispatch loop (cmd/sync/main.go:91-179, §3.1).

A ``SyncSpec`` drives: snapshot-if-empty per mapped table, then a CDC
tail from the envelope event log with masking + MERGE apply. A
``BackupSpec`` drives: expand → group → prune → export artifacts. A
monitor tick counts source/target rows per mapping into the metrics
table. The reference runs these as goroutines + cron + a 10s config
poll; here each is an explicit entry point a scheduler (Airflow, cron,
Databricks jobs) calls — hot-reload (T10) is the CLI's
``run --watch`` loop: on a spec change it rebuilds the task from the
new spec and drains from the same checkpoint.
"""

from __future__ import annotations

import os
from datetime import date, datetime
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sync_spark.operators.monitor import monitor_tick
from sync_spark.plans.backup import plan_export
from sync_spark.sources.bucketed import read_target
from sync_spark.sources.writers import export_group
from sync_spark.spec import BackupSpec, SyncSpec
from sync_spark.streaming.pipeline import CdcPipeline, TableTarget, snapshot_if_empty
from sync_spark import tz


class SyncTask:
    """One configured sync task: snapshot + CDC tail + monitoring."""

    def __init__(
        self,
        spark: SparkSession,
        spec: SyncSpec,
        source_loader: Callable[[str], DataFrame],
        row_schemas: dict[str, T.StructType],
        target_root: str,
        event_log_dir: str,
        checkpoint_root: str,
        security_key: str = "",
    ) -> None:
        self.spark = spark
        self.spec = spec
        self.source_loader = source_loader
        self.row_schemas = row_schemas
        self.target_root = target_root
        self.event_log_dir = event_log_dir
        self.checkpoint_root = checkpoint_root
        self.security_key = security_key

    def _targets(self) -> list[TableTarget]:
        out = []
        for m in self.spec.mappings:
            for t in m.tables:
                out.append(
                    TableTarget(
                        source_table=t.source_table,
                        target_path=os.path.join(self.target_root, t.target_table),
                        row_schema=self.row_schemas[t.source_table],
                        key_cols=self.spec.pk_columns.get(t.source_table, ["id"]),
                        ignore_deletes=t.ignore_delete_ops,
                    )
                )
        return out

    def snapshot(self) -> dict[str, bool]:
        """Initial copy per mapping, skipped for non-empty targets.
        Masking rules apply to the snapshot too (security.go is in the
        write path for both phases)."""
        from sync_spark.functions.security import apply_security_rules

        ran = {}
        for t in self._targets():
            src = self.source_loader(t.source_table)
            rules = self.spec.field_security.get(t.source_table, [])
            # same contract as CdcPipeline.__init__: a rule on a key
            # column is refused LOUDLY — silently filtering it here
            # would write one unprotected full copy before the CDC
            # phase raises the very same error
            bad = [r.field for r in rules if r.field.split(".")[0] in t.key_cols]
            if bad:
                raise ValueError(
                    f"fieldSecurity rules on key columns of "
                    f"{t.source_table!r} are unsupported: {bad} — key "
                    "values must stay matchable for the MERGE"
                )
            # _targets() already requires a schema per mapped table
            schema = self.row_schemas[t.source_table]
            # pin source types to the declared row_schema BEFORE
            # masking (encryption may re-type a column to string,
            # which a post-mask cast would corrupt); a drifting
            # key type would bucket under a different xxhash64
            # and wedge every merge on the stray-bucket guard
            src = src.select(
                *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
            )
            if rules:
                src = apply_security_rules(src, rules, key=self.security_key)
            ran[t.source_table] = snapshot_if_empty(
                self.spark, src, t.target_path, key_cols=t.key_cols
            )
        return ran

    def pipeline(self) -> CdcPipeline:
        return CdcPipeline(
            self.spark,
            self.spec,
            self._targets(),
            event_log_dir=self.event_log_dir,
            checkpoint_dir=os.path.join(self.checkpoint_root, f"task-{self.spec.task_id}"),
            dlq_path=os.path.join(self.target_root, "_dlq"),
            security_key=self.security_key,
        )

    def run_cdc_available(self) -> None:
        """Drain the event log (batch-style catch-up)."""
        self.pipeline().run_available()

    def prune_committed_events(self) -> list:
        """Checkpoint-aware event-log retention: drop exactly the
        files THIS task's streaming checkpoint has committed (see
        auto_prune_event_log — path-set precise, never an id
        threshold). Safe to call after every drain; a task that has
        never run simply deletes nothing."""
        from sync_spark.sources.cdc import auto_prune_event_log

        return auto_prune_event_log(
            self.event_log_dir,
            os.path.join(self.checkpoint_root, f"task-{self.spec.task_id}"),
        )

    def _target_paths(self) -> dict:
        """Mapped collection name → target path, in both the target
        and source spellings (find() examples are usually written
        against the source collection name)."""
        names = {
            t.target_table: os.path.join(self.target_root, t.target_table)
            for m in self.spec.mappings
            for t in m.tables
        }
        for m in self.spec.mappings:
            for t in m.tables:
                names.setdefault(
                    t.source_table, os.path.join(self.target_root, t.target_table)
                )
        return names

    def execute_apply(self, query: str, kv: Optional[DataFrame] = None):
        """``execute()`` + persist: when the statement is a write verb
        whose result is a new collection state (Mongo-JS writes, SQL
        MERGE INTO), the post-write state REPLACES the mapped target —
        atomically, via the store's own stage-then-swap writer, keeping
        the bucketed layout (keys + n_buckets from the target's
        metadata). Returns ``(kind, result, applied_path_or_None)``.
        Redis writes are refused: KV state has no mapped table target
        (persist it via operators/kv restore_replace)."""
        kind, result, new_state = self.execute(query, kv=kv)
        if new_state is None:
            return kind, result, None
        if kind == "redis_write":
            raise ValueError(
                "Redis KV state has no mapped table target; persist it "
                "via operators/kv restore_replace"
            )
        from sync_spark.operators.passthrough import (
            _MERGE_RE,
            _PUSH_LOOP_RE,
            _WRITE_RE,
            parse_merge_sql,
        )
        from sync_spark.sources.bucketed import read_meta, write_bucketed
        from sync_spark.streaming.pipeline import _write_atomic

        q = query.strip()
        if _MERGE_RE.match(q):
            coll = parse_merge_sql(q).target
        else:
            m = _WRITE_RE.match(q) or _PUSH_LOOP_RE.search(q)
            if m is None:  # defensive: kinds above imply one matched
                raise ValueError("cannot derive the written collection from the query")
            coll = m.group("coll")
        path = self._target_paths()[coll]
        # the affected-rows frame is lazy over the PRE-swap target
        # files — materialize it before the replace, or a later
        # collect reads paths the swap deleted (tiny frame by design)
        result = result.localCheckpoint(eager=True)
        meta = read_meta(path) if os.path.isdir(path) else None
        if meta:
            write_bucketed(new_state, path, meta["key_cols"], meta["n_buckets"])
        else:
            _write_atomic(new_state, path)
        return kind, result, path

    def execute(self, query: str, kv: Optional[DataFrame] = None):
        """The reference's /sql/execute endpoint surface on THIS
        task's targets (pkg/api/auth_handler.go:1267-1883, cited for
        parity not ported): one string in, ``(kind, result,
        new_state)`` out — pattern-matched into Mongo-JS read/write/
        aggregate, Redis command, else ANSI SQL. Collections resolve
        to the task's target tables; the SQL branch sees every mapped
        target as a temp view named after its TARGET table (what a
        user who knows the task config expects to query)."""
        from sync_spark.operators.passthrough import dispatch_execute

        names = self._target_paths()

        def resolve(coll: str) -> DataFrame:
            if coll not in names:
                raise ValueError(
                    f"collection {coll!r} is not mapped by task "
                    f"{self.spec.task_id}; mapped: {sorted(names)}"
                )
            return read_target(self.spark, names[coll])

        def run_sql(q: str) -> DataFrame:
            for name, path in names.items():
                read_target(self.spark, path).createOrReplaceTempView(name)
            return self.spark.sql(q)

        return dispatch_execute(query, resolve=resolve, kv=kv, run_sql=run_sql)

    def monitor(self, logged_at: Optional[datetime] = None) -> DataFrame:
        """T11 tick: source vs target counts per mapping. When the
        spec carries an ENABLED countQuery, both sides count only the
        matching rows (the reference's filtered monitor counts,
        sync_handler.go countQuery path) — a disabled/absent
        countQuery counts full tables."""
        from sync_spark.operators.countquery import compile_query

        pairs = {}
        for t in self._targets():
            src = self.source_loader(t.source_table)
            tgt = read_target(self.spark, t.target_path)
            cq = getattr(self.spec, "count_query", None)
            if cq is not None and getattr(cq, "enabled", False):
                pred = compile_query(cq, for_table=t.source_table)
                if pred is not None:
                    src = src.filter(pred)
                    tgt = tgt.filter(pred)
            pairs[t.source_table] = (src, tgt)
        return monitor_tick(
            self.spark,
            self.spec.task_id,
            pairs,
            logged_at or datetime.utcnow(),
            log_path=os.path.join(self.target_root, "_monitoring_log"),
        )


def run_backup_task(
    spark: SparkSession,
    spec: BackupSpec,
    catalog: list[str],
    load_table: Callable[[str], DataFrame],
    out_dir: str,
    run_day: Optional[date] = None,
    ts_col: Optional[str] = None,
) -> list[str]:
    """§3.2: expand → group → prune → export; returns artifact paths.

    The window column comes from the spec's ``date_range.field`` (the
    reference's query field), falling back to the ``ts_col`` argument
    and then ``"ts"`` — a spec that names a field must be windowed on
    THAT field, not a hardcoded default."""
    run_day = run_day or date.today()
    window = None
    if spec.date_range is not None:
        from sync_spark.operators.countquery import window_for_range

        # the shared type dispatcher: weekly/monthly/yesterday specs
        # must get their full window, not a 1-day offset default
        window = window_for_range(spec.date_range, run_day)
        # an EXPLICIT ts_col argument wins over the spec field's
        # "updated_at" dataclass default (unreachable otherwise);
        # specs that name a field and callers that don't still window
        # on the spec field
        ts_col = ts_col or getattr(spec.date_range, "field", None) or "ts"
    else:
        ts_col = ts_col or "ts"
    units = plan_export(
        catalog=catalog,
        patterns=spec.tables,
        is_regex=spec.is_regex,
        fields_by_table=spec.fields,
        window=window,
        file_pattern=spec.file_name_pattern,
        run_day=run_day,
    )
    paths = []
    for unit in units:
        paths.append(
            export_group(
                spark,
                unit,
                load_table,
                out_dir,
                file_format=spec.file_format,
                window=window,
                ts_col=ts_col,
                compression=spec.compression,
            )
        )
    return paths
