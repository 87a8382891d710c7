"""Regression tests for the round-1 code-review findings."""

from __future__ import annotations

import json
from datetime import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sync_spark.functions.security import decrypt_value, encrypt_value
from sync_spark.operators.cluster import connected_components
from sync_spark.operators.countquery import compile_condition
from sync_spark.operators.merge import apply_changes
from sync_spark.operators.monitor import monitor_tick
from sync_spark.plans.backup import prune_tables, table_time_range
from sync_spark.spec import CountCondition, FieldSecurity, SyncSpec


def test_ignore_deletes_keeps_superseded_upsert(spark):
    """upsert(seq=1) then delete(seq=2) with ignoreDeleteOps: the
    delete is a no-op, so the upsert must land (filter-after-compact
    would silently drop it)."""
    target = spark.createDataFrame([], "id long, v string")
    changes = spark.createDataFrame(
        [Row(id=1, v="new", op="upsert", seq=1), Row(id=1, v=None, op="delete", seq=2)]
    )
    out = apply_changes(target, changes, keys=["id"], ignore_deletes=True).collect()
    assert [(r.id, r.v) for r in out] == [(1, "new")]


def test_snapshot_never_masks_key_columns(spark, tmp_path):
    """A rule on a key column is REFUSED before anything is written
    (same contract as CdcPipeline — a silently-filtered rule would
    write one unprotected full copy first); data-column rules apply."""
    from sync_spark.engine import SyncTask

    schema = T.StructType([T.StructField("id", T.LongType()), T.StructField("email", T.StringType())])

    def mk_spec(rules):
        spec = SyncSpec(
            task_id=1, type="parquet",
            field_security={"users": rules},
            pk_columns={"users": ["id"]},
        )
        spec.mappings = SyncSpec.from_json(
            '{"mappings": [{"tables": [{"sourceTable": "users"}]}]}'
        ).mappings
        return spec

    src = spark.createDataFrame([Row(id=7, email="x@y.z")], schema)

    def mk_task(spec, sub):
        return SyncTask(
            spark, spec, {"users": src}.get, {"users": schema},
            str(tmp_path / sub), str(tmp_path / "e"), str(tmp_path / "c"),
        )

    bad = mk_task(mk_spec([FieldSecurity(field="id", security_type="masked")]), "t_bad")
    with pytest.raises(ValueError, match="key columns"):
        bad.snapshot()
    assert not (tmp_path / "t_bad" / "users").exists()  # nothing written

    ok = mk_task(mk_spec([FieldSecurity(field="email", security_type="masked")]), "t_ok")
    ok.snapshot()
    row = spark.read.parquet(str(tmp_path / "t_ok" / "users")).collect()[0]
    assert row.id == 7  # key intact
    assert row.email == "*****"


def test_non_ascii_encryption_key(spark):
    df = spark.createDataFrame([Row(s="payload")])
    key = "鍵" * 12  # multi-byte utf-8, > 32 bytes when encoded
    enc = encrypt_value(F.col("s"), key, df.schema["s"].dataType)
    out = df.select(decrypt_value(enc, key).alias("d")).collect()[0]
    assert out.d == "payload"


def test_non_date_numeric_suffixes_survive_planning():
    assert table_time_range("t_999999") is None
    assert table_time_range("t_20241340") is None
    # and pruning keeps them (undated semantics) instead of crashing
    kept = prune_tables(["t_999999", "t_20241340"], (datetime(2024, 1, 1), datetime(2024, 2, 1)))
    assert kept == ["t_999999", "t_20241340"]


def test_scoped_condition_skipped_without_table_context(spark):
    cond = CountCondition(field="x", operator="=", value=1, table="users")
    assert compile_condition(cond, for_table=None) is None


def test_monitor_tick_empty_pairs(spark):
    out = monitor_tick(spark, 1, {}, logged_at=datetime(2024, 1, 1))
    assert out.count() == 0
    assert out.columns == ["task_id", "table", "src_count", "tgt_count", "logged_at"]


def test_cc_raises_on_non_convergence(spark):
    nodes = spark.createDataFrame([Row(id=i) for i in range(6)])
    edges = spark.createDataFrame([Row(id_a=i, id_b=i + 1) for i in range(5)])
    # driver_threshold=0 forces the distributed propagation loop —
    # the union-find path has no iteration cap to trip
    with pytest.raises(RuntimeError, match="converge"):
        connected_components(nodes, edges, max_iter=2, driver_threshold=0)


def test_dlq_replay_is_idempotent(spark, tmp_path):
    """Re-running a batch (fresh checkpoint = crash before commit)
    must not duplicate DLQ rows."""
    import shutil

    from sync_spark.sources.cdc import write_event_batch
    from sync_spark.streaming.pipeline import CdcPipeline, TableTarget, snapshot_if_empty

    schema = T.StructType([T.StructField("id", T.LongType()), T.StructField("v", T.StringType())])
    tgt = str(tmp_path / "t")
    snapshot_if_empty(spark, spark.createDataFrame([Row(id=1, v="a")], schema), tgt)
    write_event_batch(
        str(tmp_path / "ev"),
        [
            {
                "op": "insert",
                "seq": 5,
                "ts": "2024-01-01T00:00:00Z",
                "source_table": "users",
                "key_json": json.dumps({"id": None}),
                "after_json": json.dumps({"id": None, "v": "bad"}),
            }
        ],
        1,
    )

    def run():
        CdcPipeline(
            spark,
            SyncSpec(task_id=1, type="parquet"),
            [TableTarget("users", tgt, schema, ["id"])],
            event_log_dir=str(tmp_path / "ev"),
            checkpoint_dir=str(tmp_path / "ck"),
            dlq_path=str(tmp_path / "dlq"),
        ).run_available()

    run()
    shutil.rmtree(str(tmp_path / "ck"))  # simulate crash-before-commit
    run()
    dlq = spark.read.parquet(str(tmp_path / "dlq")).collect()
    assert len(dlq) == 1 and dlq[0].seq == 5


def test_asof_join_null_right_value_not_backfilled(spark):
    """A NULL in the matched right row must stay NULL — per-column
    ignorenulls fill would graft the value from an OLDER right row
    (review finding: frankenstein rows)."""
    from datetime import datetime

    from sync_spark.operators.temporal import asof_join

    right = spark.createDataFrame(
        [
            Row(k="a", rts=datetime(2024, 1, 1), x=5, y=9),
            Row(k="a", rts=datetime(2024, 1, 2), x=None, y=10),
        ]
    )
    left = spark.createDataFrame([Row(k="a", lts=datetime(2024, 1, 3), lv=1)])
    out = asof_join(left, right, "k", "lts", "rts", ["x", "y"]).collect()[0]
    assert out.y_right == 10
    assert out.x_right is None  # NOT 5 from the older row


def test_countquery_disabled_compiles_to_match_all(spark):
    from sync_spark.operators.countquery import count_with_query
    from sync_spark.spec import CountCondition, CountQuery

    df = spark.createDataFrame([Row(status="a"), Row(status="b")])
    q = CountQuery(
        enabled=False,
        conditions=[CountCondition(field="status", operator="=", value="a")],
    )
    assert count_with_query(df, q).collect()[0].cnt == 2


def test_retry_permanent_markers_beat_connection():
    from sync_spark.streaming.retry import is_recoverable

    assert not is_recoverable(RuntimeError("Connection auth failed: bad password"))
    assert is_recoverable(RuntimeError("connection reset by peer"))


def test_text_functions_handle_messy_input(spark):
    """Multi-space/tab tokens, title-case stopwords, non-Latin text —
    each was a silent divergence between the Column functions and
    their DuckDB oracles (review findings)."""
    from sync_spark.functions import text as TX

    df = spark.createDataFrame(
        [Row(t="The  Cat\tAnd The Dog"), Row(t="schöne Grüße für müde Bären")]
    )
    rows = df.select(
        TX.token_count(F.col("t")).alias("n"),
        TX.stopword_hits_toks(TX.tokens(F.col("t")), "en").alias("sw"),
        TX.punct_ratio(F.col("t")).alias("p"),
    ).collect()
    assert rows[0].n == 5          # \s+ split: no empty tokens
    assert rows[0].sw == 3         # 'The' x2 + 'And', case-insensitive
    assert rows[1].p == 0.0        # umlauts are letters, not punctuation


def test_backup_window_respects_range_type():
    """weekly/monthly/yesterday specs get their FULL window — the
    offset-only path silently exported 1/7th of a weekly window."""
    from datetime import date as _date

    from sync_spark.operators.countquery import window_for_range
    from sync_spark.spec import DateRange

    anchor = _date(2024, 1, 17)  # a Wednesday
    ws, we = window_for_range(DateRange(type="weekly", field="ts"), anchor)
    assert (we - ws).days == 7
    ms, me = window_for_range(DateRange(type="monthly", field="ts"), anchor)
    assert (me - ms).days == 31 and ms.hour == 15  # Jan in JST, UTC-shifted
    ys, ye = window_for_range(DateRange(type="yesterday", field="ts"), anchor)
    assert (ye - ys).days == 1
    with pytest.raises(ValueError, match="unsupported"):
        window_for_range(DateRange(type="fortnightly", field="ts"), anchor)


def test_restore_replace_compacts_duplicate_and_null_keys(spark):
    from sync_spark.operators.kv import restore_replace

    target = spark.createDataFrame([Row(key="a", value="old"), Row(key=None, value="t-null")])
    dump = spark.createDataFrame(
        [Row(key="a", value="new"), Row(key="a", value="new"), Row(key=None, value="d-null")]
    )
    out = restore_replace(target, dump).collect()
    assert len(out) == 2  # one 'a', one null-key row — no duplicates
    vals = {r.key: r.value for r in out}
    assert vals["a"] == "new" and vals[None] == "d-null"


def test_tz_fmt_converts_aware_datetimes():
    from datetime import timedelta, timezone

    from sync_spark import tz

    jst = timezone(timedelta(hours=9))
    aware = datetime(2024, 1, 10, 9, 0, 0, tzinfo=jst)  # = 00:00 UTC
    assert tz.fmt(aware) == "2024-01-10 00:00:00.000000"


def test_multimodal_null_payload_rows_survive(spark):
    from sync_spark.functions.multimodal import decode_media, ppm_payload

    rows = [
        Row(media_id=1, kind="image", payload=ppm_payload(1, 64, 48), meta=None),
        Row(media_id=2, kind="image", payload=None, meta=None),
    ]
    df = spark.createDataFrame(rows, "media_id long, kind string, payload binary, meta string")
    dec = {r.media_id: r for r in decode_media(df).collect()}
    assert dec[1].width == 64
    assert dec[2].width is None and dec[2].size_bytes is None


def test_adversarial_session_confs_self_correct(spark, sf_small):
    """The driver builds its OWN SparkSession — queries must not
    depend on our factory's configs. A session starting with a JST
    session timezone and NTZ timestamp inference must still match the
    oracle: ensure_session_conf (sources/readers.py) self-corrects on
    every read."""
    from sync_spark.registry import all_queries
    from sync_spark.testing import run_compare

    hostile = spark.newSession()
    hostile.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
    hostile.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "true")
    qs = all_queries()
    for name in (
        "p_daterange_daily_jst",
        "a_daily_window_jst",
        "f_timestamp_parse",
        "o_time_ordered_scan",
    ):
        assert run_compare(hostile, qs[name], sf_small) is None, name
