"""Apply-changes-by-key: the CDC MERGE contract (SURVEY.md §2.3 J1/J2,
§2.5 W2).

Reference semantics (cited for parity, not ported):
- upsert/delete by primary key — mongodb.go:1132-1182 (ReplaceOne
  upsert / DeleteOne), mysql.go:524-692, postgresql.go:726-965;
- when batching, the LAST event per key must win — the reference
  guarantees this by strictly ordered single-threaded apply
  (postgresql.go:602-667); we guarantee it by explicit latest-per-key
  compaction on a monotonic ``seq``, which is shuffle-safe;
- ``ignoreDeleteOps`` drops deletes per table (mongodb.go:1162-1169);
- null-safe all-column matching for keyless deletes
  (postgresql.go:933-965) maps to the key grouping, which puts NULL
  keys in one group (the ``eqNullSafe`` semantics).

Spark-first design: the whole MERGE is ONE per-key argmin over
``target ∪ changes`` — a single shuffle on the key with a partial
map-side combine, then a filter that drops keys whose winning row is a
delete. Every change row is ranked by ``(seq DESC NULLS LAST, op
ASC)``; a stored row ranks after every change, so it survives only
where no change touched its key. ``compact_latest_per_key`` is the
same argmin over the changes alone, under the same order key. The
change set is referenced exactly once on purpose: over a persisted
micro-batch AQE runs each reference as its own shuffle, and no
exchange reuse applies across them.

The result is idempotent: re-applying the same batch yields the same
target, which is what makes foreachBatch restart-safe. It assumes the
target is unique on its key (a primary key): stored rows sharing a key
collapse to one, like any row the changes touch.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

OP_COL = "op"
SEQ_COL = "seq"
DELETE_OP = "delete"


# rank of a stored (target) row in the argmin: after every change row,
# the NULL-seq ones (rank 1) included
_STORED_RANK = 2


def _latest_order(seq_col: str) -> F.Column:
    """THE order key of a change row: ``(seq DESC NULLS LAST, op ASC)``
    as one struct whose minimum is the latest change.

    min of -seq = max seq; ties fall to the lexicographic-min op, exact
    for ARBITRARY op strings. NULL seq (a malformed event line that
    read as NULL under Spark's non-enforcing JSON schema) must LOSE to
    any sequenced change, but a NULL struct field sorts FIRST under
    min, so the key leads with an explicit nulls-last flag ``n``. seq
    must be numeric (the envelope pins it to long); the negation is
    what buys the mixed-direction tie-break inside one min_by."""
    return F.struct(
        F.when(F.col(seq_col).isNull(), F.lit(1)).otherwise(F.lit(0)).alias("n"),
        (-F.col(seq_col)).alias("s"),
        F.col(OP_COL).alias("o"),
    )


def _argmin_per_key(
    rows: DataFrame, keys: Sequence[str], values: Sequence[str], order: F.Column
) -> DataFrame:
    """One row per key: the ``values`` of the row with the least
    ``order``, as a ``__r`` struct beside the key columns. A per-key
    ``min_by`` aggregate is partial-aggregatable — each map task emits
    one row per key it saw instead of shuffling every row into a per-key
    sort. (String-carrying argmins plan SortAggregate — per-task LOCAL
    sorts — because var-length aggregate buffers can't live in the
    hash-agg UnsafeRow map; still partial, still no global sort.)"""
    return rows.groupBy(*keys).agg(
        F.min_by(F.struct(*values), order).alias("__r")
    )


def _unpack(winners: DataFrame, keys: Sequence[str], columns: Sequence[str]) -> DataFrame:
    # getField, not the string path "__r.<c>": a column name containing
    # a dot would misresolve as a nested path
    return winners.select(
        *[(F.col(c) if c in keys else F.col("__r").getField(c).alias(c)) for c in columns]
    )


def compact_latest_per_key(changes: DataFrame, keys: Sequence[str], seq_col: str = SEQ_COL) -> DataFrame:
    """Keep only the last change per key (W2), under ``_latest_order``:
    deterministic given a monotonic seq; ties broken by op ASCENDING so
    a delete at the same seq wins (mirrors log order where delete
    follows the write).

    CONTRACT: the envelope producer must assign DISTINCT seq values to
    the delete+insert pair a REPLACE expands into (ours does — seq is
    per-event, not per-binlog-position). If a producer reused one seq
    for such a pair, this tie-break would keep the delete and drop the
    re-inserted row."""
    non_keys = [c for c in changes.columns if c not in keys]
    if not non_keys:
        return changes.dropDuplicates(list(keys))
    winners = _argmin_per_key(changes, keys, non_keys, _latest_order(seq_col))
    return _unpack(winners, keys, changes.columns)


def apply_changes(
    target: DataFrame,
    changes: DataFrame,
    keys: Sequence[str],
    seq_col: str = SEQ_COL,
    ignore_deletes: bool = False,
    evolve_schema: bool = False,
) -> DataFrame:
    """MERGE INTO target USING latest-per-key changes.

    ``changes`` carries the after-image in target's columns plus
    (op, seq). Result: per key, the latest change's after-image if it
    is not a delete (insert-or-update unified), the stored row if no
    change touched the key, nothing if the latest change is a delete.
    Changes with a NULL op are not actions and are ignored (the
    pipeline quarantines them before they get here).

    ``evolve_schema=True`` is the schemaless-source contract (the
    reference's MongoDB path: new document fields just appear,
    mongodb.go:480-485 decodes whatever arrives): change columns
    absent from the target widen it (pre-existing rows read NULL),
    and target columns absent from the changes are null-filled in the
    after-image — full-document REPLACE semantics, matching the
    reference's ReplaceOne (mongodb.go:1132-1182) where a field
    missing from the replacement document is removed. Shared columns
    keep the TARGET's type (changes are cast): a same-name type
    change is a migration, not a merge side effect. Keys can never be
    evolved — they must exist in both sides by contract."""
    # ignore_deletes BEFORE the argmin: with deletes ignored they are
    # no-ops, so an upsert superseded by a later delete in the same
    # batch must still land (ranking the delete first would keep only
    # the delete and silently drop the upsert)
    if ignore_deletes:
        changes = changes.filter(F.col(OP_COL) != DELETE_OP)

    if evolve_schema:
        # "keys can never be evolved" is a contract, not a hope: a
        # changes frame missing a key column would otherwise be
        # silently null-filled by the REPLACE loop below, producing
        # NULL-key upserts and no-op deletes
        missing_keys = set(keys) - set(changes.columns)
        if missing_keys:
            raise ValueError(
                f"evolve_schema cannot evolve key columns; changes frame "
                f"is missing keys {sorted(missing_keys)}"
            )
        missing_tgt = set(keys) - set(target.columns)
        if missing_tgt:
            raise ValueError(
                f"target is missing key columns {sorted(missing_tgt)}"
            )
        tgt_types = {f.name: f.dataType for f in target.schema.fields}
        chg_types = {f.name: f.dataType for f in changes.schema.fields}
        for c in changes.columns:
            # 'secured' is envelope bookkeeping (changes_for_table
            # always attaches it, cdc.py) — evolving it into the
            # target would persist a phantom per-row flag column. A
            # GENUINE source column with one of these names is
            # rejected loudly by changes_for_table itself (reserved
            # envelope names), so the skip here never hides user data.
            if c in (OP_COL, seq_col, "secured"):
                continue
            if c not in tgt_types:
                # new column: widen target with a typed NULL
                target = target.withColumn(c, F.lit(None).cast(chg_types[c]))
            elif chg_types[c] != tgt_types[c]:
                # pin to the target's type: without the explicit cast
                # the union would silently WIDEN the merged output
                # (int∪long → long), writing touched buckets under a
                # type parquet schema-merge then refuses to reconcile
                # with untouched ones
                changes = changes.withColumn(c, F.col(c).cast(tgt_types[c]))
        for c in target.columns:
            if c not in changes.columns:
                # REPLACE semantics: a field absent from the
                # after-image is removed (→ NULL), not carried over
                changes = changes.withColumn(c, F.lit(None).cast(tgt_types[c]))

    cols = target.columns
    order = _latest_order(seq_col)
    # a stored row carries a NULL op and the stored rank: it wins only
    # where no change touched its key
    stored_order = F.struct(
        F.lit(_STORED_RANK).alias("n"),
        F.lit(None).cast(changes.schema[seq_col].dataType).alias("s"),
        F.lit(None).cast("string").alias("o"),
    )
    ranked = target.select(
        *cols, F.lit(None).cast("string").alias("__op"), stored_order.alias("__k")
    ).unionByName(
        changes.filter(F.col(OP_COL).isNotNull()).select(
            *cols, F.col(OP_COL).alias("__op"), order.alias("__k")
        )
    )
    values = [c for c in cols if c not in keys] + ["__op"]
    winners = _argmin_per_key(ranked, keys, values, F.col("__k"))
    op = F.col("__r").getField("__op")
    return _unpack(
        winners.filter(op.isNull() | (op != DELETE_OP)), keys, cols
    )
