"""Schema evolution: a schemaless source (the reference's MongoDB
path, mongodb.go:480-485 — new document fields just appear) grows a
column mid-stream and the engine widens the target incrementally —
no full rewrite, untouched buckets byte-identical, pre-evolution rows
read NULL for the new column.

Covers:
- ``apply_changes(evolve_schema=True)`` unit semantics (widen /
  REPLACE null-fill / target-type pinning);
- the pipeline path: restart with a wider ``row_schema`` →
  touched buckets evolve on their next merge, ``read_target``'s
  merged-footer view serves one widened schema;
- ``read_buckets(schema=...)`` explicit-schema reads (NULL for
  missing columns, partition pruning intact).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import Row
from pyspark.sql import types as T

from sync_spark.operators.merge import apply_changes
from sync_spark.sources.bucketed import read_buckets, read_target, write_bucketed
from sync_spark.sources.cdc import write_event_batch
from sync_spark.spec import SyncSpec
from sync_spark.streaming.pipeline import CdcPipeline, TableTarget, snapshot_if_empty

V1 = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
    ]
)
V2 = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("score", T.DoubleType()),
    ]
)


def _event(op, seq, key, after=None):
    return {
        "op": op,
        "seq": seq,
        "ts": "2024-01-01T00:00:00Z",
        "source_table": "users",
        "key_json": json.dumps(key),
        "after_json": json.dumps(after) if after is not None else None,
    }


# -- apply_changes unit semantics ---------------------------------------


def test_apply_changes_widens_target_with_new_column(spark):
    target = spark.createDataFrame([Row(id=1, name="a"), Row(id=2, name="b")], V1)
    changes = spark.createDataFrame(
        [Row(id=3, name="c", score=9.5, op="insert", seq=1)],
        "id long, name string, score double, op string, seq long",
    )
    out = apply_changes(target, changes, keys=["id"], evolve_schema=True)
    rows = {r.id: r for r in out.collect()}
    assert set(out.columns) == {"id", "name", "score"}
    assert rows[3].score == 9.5
    assert rows[1].score is None and rows[2].score is None  # widened as NULL
    assert rows[1].name == "a"


def test_apply_changes_missing_key_column_raises(spark):
    """'Keys can never be evolved' is enforced, not just documented:
    a changes frame missing a key column fails loudly instead of
    null-filling keys via the REPLACE loop (NULL-key upserts)."""
    import pytest

    target = spark.createDataFrame([Row(id=1, name="a")], V1)
    keyless = spark.createDataFrame(
        [Row(name="c", score=1.0, op="insert", seq=1)],
        "name string, score double, op string, seq long",
    )
    with pytest.raises(ValueError, match="missing keys \\['id'\\]"):
        apply_changes(target, keyless, keys=["id"], evolve_schema=True)


def test_apply_changes_replace_semantics_nulls_missing_columns(spark):
    """A field absent from the after-image is removed (reference
    ReplaceOne, mongodb.go:1132-1182) — an old-schema replay after an
    evolution must null the new column, not keep the stale value."""
    target = spark.createDataFrame([Row(id=1, name="a", score=5.0)], V2)
    changes = spark.createDataFrame(
        [Row(id=1, name="a2", op="update", seq=1)],
        "id long, name string, op string, seq long",
    )
    out = apply_changes(target, changes, keys=["id"], evolve_schema=True)
    row = out.collect()[0]
    assert row.name == "a2" and row.score is None


def test_apply_changes_pins_shared_column_to_target_type(spark):
    """Type drift on a shared column: the target's type wins — the
    union must not silently widen the stored schema."""
    target = spark.createDataFrame([Row(id=1, n=10)], "id long, n long")
    changes = spark.createDataFrame(
        [Row(id=2, n=20, op="insert", seq=1)],
        "id long, n int, op string, seq long",
    )
    out = apply_changes(target, changes, keys=["id"], evolve_schema=True)
    assert dict(out.dtypes)["n"] == "bigint"
    assert {r.n for r in out.collect()} == {10, 20}


def test_apply_changes_without_evolve_is_unchanged(spark):
    """evolve_schema=False keeps the strict contract: changes must
    carry the target's columns (extra change columns are dropped)."""
    target = spark.createDataFrame([Row(id=1, name="a")], V1)
    changes = spark.createDataFrame(
        [Row(id=2, name="b", score=1.0, op="insert", seq=1)],
        "id long, name string, score double, op string, seq long",
    )
    out = apply_changes(target, changes, keys=["id"])
    assert set(out.columns) == {"id", "name"}


# -- explicit-schema bucket reads ---------------------------------------


def test_read_buckets_explicit_schema_nulls_missing_column(spark, tmp_path):
    path = str(tmp_path / "tbl")
    df = spark.createDataFrame([Row(id=1, name="a"), Row(id=2, name="b")], V1)
    write_bucketed(df, path, keys=["id"], n_buckets=4)
    out = read_buckets(spark, path, range(4), schema=V2)
    assert set(out.columns) == {"id", "name", "score"}
    assert all(r.score is None for r in out.collect())
    assert out.count() == 2


# -- pipeline end-to-end ------------------------------------------------


def _mk_pipeline(spark, dirs, row_schema):
    tables = [
        TableTarget(
            source_table="users",
            target_path=dirs["target"],
            row_schema=row_schema,
            key_cols=["id"],
        )
    ]
    return CdcPipeline(
        spark,
        SyncSpec(task_id=1, type="parquet"),
        tables,
        event_log_dir=dirs["events"],
        checkpoint_dir=dirs["ckpt"],
        dlq_path=dirs["dlq"],
    )


def test_pipeline_evolves_schema_incrementally(spark, tmp_path):
    dirs = {k: str(tmp_path / k) for k in ("events", "target", "ckpt", "dlq")}
    src = spark.createDataFrame(
        [Row(id=1, name="a"), Row(id=2, name="b"), Row(id=3, name="c")], V1
    )
    assert snapshot_if_empty(spark, src, dirs["target"], key_cols=["id"], n_buckets=4)

    # v1 tail: plain update
    write_event_batch(
        dirs["events"], [_event("update", 1, {"id": 1}, {"id": 1, "name": "a1"})], 1
    )
    _mk_pipeline(spark, dirs, V1).run_available()

    # snapshot the bucket dirs' mtimes before evolution
    bucket_dirs = sorted(
        e for e in os.listdir(dirs["target"]) if e.startswith("__bucket=")
    )
    assert bucket_dirs

    # "restart" with the v2 schema: events now carry `score`
    write_event_batch(
        dirs["events"],
        [
            _event("update", 2, {"id": 2}, {"id": 2, "name": "b2", "score": 7.5}),
            _event("insert", 3, {"id": 4}, {"id": 4, "name": "d", "score": 1.25}),
        ],
        2,
    )
    _mk_pipeline(spark, dirs, V2).run_available()

    out = read_target(spark, dirs["target"])
    assert set(out.columns) == {"id", "name", "score"}
    rows = {r.id: r for r in out.collect()}
    assert rows[2].score == 7.5 and rows[2].name == "b2"
    assert rows[4].score == 1.25
    # pre-evolution rows (their buckets untouched by batch 2) read NULL
    assert rows[1].score is None and rows[1].name == "a1"
    assert rows[3].score is None
    assert len(rows) == 4


def test_pipeline_old_schema_events_after_evolution(spark, tmp_path):
    """Late v1 events applied under the v2 contract: the new column is
    simply NULL on those after-images — no crash, no stale values."""
    dirs = {k: str(tmp_path / k) for k in ("events", "target", "ckpt", "dlq")}
    src = spark.createDataFrame([Row(id=1, name="a")], V1)
    assert snapshot_if_empty(spark, src, dirs["target"], key_cols=["id"], n_buckets=4)

    write_event_batch(
        dirs["events"],
        [
            _event("update", 1, {"id": 1}, {"id": 1, "name": "a2", "score": 3.0}),
        ],
        1,
    )
    _mk_pipeline(spark, dirs, V2).run_available()
    assert read_target(spark, dirs["target"]).collect()[0].score == 3.0

    # a v1-shaped event (no `score` field) replaces the document
    write_event_batch(
        dirs["events"],
        [_event("update", 2, {"id": 1}, {"id": 1, "name": "a3"})],
        2,
    )
    _mk_pipeline(spark, dirs, V2).run_available()
    row = read_target(spark, dirs["target"]).collect()[0]
    assert row.name == "a3" and row.score is None


def test_pipeline_refuses_narrowed_schema(spark, tmp_path):
    """A row_schema MISSING a column the stored target has must fail
    loudly before any merge — under pinned-schema reads it would
    silently destroy that column's data in every touched bucket."""
    import pytest

    dirs = {k: str(tmp_path / k) for k in ("events", "target", "ckpt", "dlq")}
    src = spark.createDataFrame([Row(id=1, name="a", score=2.0)], V2)
    assert snapshot_if_empty(spark, src, dirs["target"], key_cols=["id"], n_buckets=4)
    write_event_batch(
        dirs["events"], [_event("update", 1, {"id": 1}, {"id": 1, "name": "b"})], 1
    )
    p = _mk_pipeline(spark, dirs, V1)  # V1 lacks `score`
    with pytest.raises(Exception, match="narrow|lacks columns"):
        p.run_available()


def test_lookup_keys_empty_honors_schema(spark, tmp_path):
    from sync_spark.sources.bucketed import lookup_keys, write_bucketed

    path = str(tmp_path / "tbl")
    write_bucketed(
        spark.createDataFrame([Row(id=1, name="a")], V1), path, ["id"], 4
    )
    empty = lookup_keys(spark, path, [], schema=V2)
    assert empty.columns == [f.name for f in V2.fields]
    assert empty.count() == 0
    # and the non-empty path agrees, so batch unions are schema-stable
    nonempty = lookup_keys(spark, path, [(1,)], schema=V2)
    assert nonempty.columns == empty.columns


def test_evolve_does_not_leak_secured_bookkeeping(spark):
    """changes_for_table always attaches a 'secured' flag; evolve must
    treat it like op/seq (bookkeeping), not as a new data column."""
    from sync_spark.operators.merge import apply_changes

    target = spark.createDataFrame([(1, "a")], "id long, name string")
    changes = spark.createDataFrame(
        [(1, "b", "upsert", 10, False)],
        "id long, name string, op string, seq long, secured boolean",
    )
    out = apply_changes(target, changes, keys=["id"], evolve_schema=True)
    assert "secured" not in out.columns
    assert [r.name for r in out.collect()] == ["b"]
