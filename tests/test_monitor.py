"""Monitoring analytics: tick job, metrics scan, daily delta, grand
totals, JST daily windows, consistency alerts."""

from __future__ import annotations

from datetime import date, datetime

from pyspark.sql import Row

from sync_spark.operators.monitor import (
    consistency_alerts,
    daily_table_delta,
    grand_totals,
    jst_daily_stats,
    metrics_scan,
    monitor_tick,
)


def _log_df(spark):
    rows = [
        # (task, table, src, tgt, logged_at UTC)
        Row(task_id=1, table="users", src_count=100, tgt_count=100, logged_at=datetime(2024, 1, 14, 16, 0)),
        Row(task_id=1, table="users", src_count=110, tgt_count=108, logged_at=datetime(2024, 1, 14, 20, 0)),
        Row(task_id=1, table="orders", src_count=50, tgt_count=50, logged_at=datetime(2024, 1, 14, 20, 0)),
        # next JST day (UTC 15:00+ = JST next day)
        Row(task_id=1, table="users", src_count=120, tgt_count=120, logged_at=datetime(2024, 1, 15, 16, 0)),
        Row(task_id=2, table="kv", src_count=7, tgt_count=7, logged_at=datetime(2024, 1, 15, 16, 0)),
    ]
    return spark.createDataFrame(rows)


def test_monitor_tick_appends_counts(spark, tmp_path):
    src = spark.createDataFrame([Row(x=i) for i in range(5)])
    tgt = spark.createDataFrame([Row(x=i) for i in range(4)])
    out = monitor_tick(
        spark,
        task_id=9,
        pairs={"users": (src, tgt)},
        logged_at=datetime(2024, 1, 15, 12, 0),
        log_path=str(tmp_path / "log"),
    ).collect()
    assert out[0].src_count == 5 and out[0].tgt_count == 4
    back = spark.read.parquet(str(tmp_path / "log")).collect()
    assert len(back) == 1 and back[0].table == "users"


def test_metrics_scan_since_and_diff(spark):
    out = metrics_scan(_log_df(spark), since=datetime(2024, 1, 14, 18, 0)).collect()
    assert [r.table for r in out] == ["orders", "users", "kv", "users"]
    assert out[1].diff == 2


def test_daily_table_delta_jst(spark):
    # JST day 2024-01-15 covers UTC [01-14 15:00, 01-15 15:00)
    out = {r.table: r for r in daily_table_delta(_log_df(spark), date(2024, 1, 15)).collect()}
    assert out["users"].rows_added == 8  # 108 - 100
    assert out["users"].latest_count == 108
    assert out["orders"].rows_added == 0


def test_grand_totals_latest_per_stream(spark):
    row = grand_totals(_log_df(spark)).collect()[0]
    assert row.n_tasks == 2
    assert row.n_tables == 3
    # latest per (task,table): users@01-15(120/120), orders(50/50), kv(7/7)
    assert row.total_src == 177 and row.total_tgt == 177


def test_jst_daily_stats_window(spark):
    out = {(r.jst_day, r.table): r for r in jst_daily_stats(_log_df(spark)).collect()}
    assert out[("2024-01-15", "users")].n_ticks == 2
    assert out[("2024-01-16", "users")].tgt_max == 120


def test_consistency_alerts(spark):
    alerts = consistency_alerts(_log_df(spark), date(2024, 1, 15)).collect()
    assert len(alerts) == 1
    assert alerts[0].table == "users" and alerts[0].tgt_count == 108


def test_microsecond_ticks_and_same_second_determinism(spark, tmp_path):
    """Two ticks in the same second: logged_at keeps microseconds so
    the rows stay ordered, and even exact-timestamp collisions pick a
    deterministic latest row (tiebreak on counts)."""
    path = str(tmp_path / "log")
    src = spark.range(5)
    tgt = spark.range(5)
    t0 = datetime(2024, 1, 15, 12, 0, 0, 250_000)
    t1 = datetime(2024, 1, 15, 12, 0, 0, 750_000)
    monitor_tick(spark, 1, {"users": (src, tgt)}, logged_at=t0, log_path=path)
    monitor_tick(spark, 1, {"users": (src, tgt)}, logged_at=t1, log_path=path)
    log = spark.read.parquet(path)
    stamps = sorted(r.logged_at for r in log.collect())
    assert stamps == [t0, t1]  # microseconds survived the round trip

    # exact-collision case: same timestamp, different counts → the
    # tiebreak must make grand_totals stable across re-runs/shuffles
    coll = spark.createDataFrame(
        [
            Row(task_id=1, table="users", src_count=100, tgt_count=90, logged_at=t1),
            Row(task_id=1, table="users", src_count=120, tgt_count=120, logged_at=t1),
        ]
    )
    outs = {tuple(sorted(map(tuple, grand_totals(coll.repartition(n)).collect()))) for n in (1, 4, 9)}
    assert len(outs) == 1
    row = grand_totals(coll).collect()[0]
    assert row.total_src == 120 and row.total_tgt == 120


def test_recent_logs_scan(spark):
    from datetime import datetime

    from sync_spark.operators.monitor import recent_logs

    rows = [
        (i, datetime(2024, 1, 1, 0, 0, i), "INFO" if i % 2 else "ERROR", f"msg Alpha {i}")
        for i in range(10)
    ]
    logs = spark.createDataFrame(
        rows, "log_id long, log_time timestamp, level string, message string"
    )
    top3 = recent_logs(logs, limit=3)
    assert [r.log_id for r in top3.collect()] == [9, 8, 7]
    # post-filters apply AFTER the limit window (reference parity)
    errs = recent_logs(logs, limit=3, level="ERROR")
    assert [r.log_id for r in errs.collect()] == [8]
    sub = recent_logs(logs, limit=5, contains="alpha 7")
    assert [r.log_id for r in sub.collect()] == [7]


def test_humanize_bytes(spark):
    from pyspark.sql import functions as F

    from sync_spark.operators.monitor import humanize_bytes

    df = spark.createDataFrame(
        [(0,), (512,), (2048,), (1048000,), (5 * 1024**2,), (3 * 1024**3,)], "b long"
    )
    got = [r.h for r in df.select(humanize_bytes("b").alias("h")).orderBy("b").collect()]
    # 1048000 B = 1023.4 KB: no thousands separator (reference %.1f)
    assert got == ["0 B", "512 B", "2.0 KB", "1023.4 KB", "5.0 MB", "3.0 GB"]


def test_apply_stats_totals_runs_no_spark_job(spark, tmp_path):
    """The rollup reads the driver-written counters with pyarrow: the
    same columns and types as a Spark rollup, no job to build or
    collect it, hidden entries ignored, and an absent stats root reads
    as no rows."""
    from sync_spark.operators.monitor import apply_stats_totals, write_apply_stats

    stats = str(tmp_path / "stats")
    write_apply_stats(f"{stats}/table=users/batch_id=1", [("insert", 2), ("update", 1)])
    write_apply_stats(f"{stats}/table=users/batch_id=2", [("insert", 5)])
    write_apply_stats(f"{stats}/table=orders/batch_id=2", [("delete", 3)])
    write_apply_stats(f"{stats}/table=users/.stage_batch_id=3", [("insert", 100)])
    sc = spark.sparkContext
    group = "apply-stats-totals-jobs"
    sc.setJobGroup(group, "apply_stats_totals", False)
    try:
        df = apply_stats_totals(spark, stats)
        rows = [tuple(r) for r in df.collect()]
    finally:
        sc.setJobGroup("", "", False)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    assert df.schema.simpleString() == (
        "struct<table:string,op:string,total:bigint,n_batches:bigint>"
    )
    assert rows == [
        ("orders", "delete", 3, 1),
        ("users", "insert", 7, 2),
        ("users", "update", 1, 1),
    ]
    assert apply_stats_totals(spark, str(tmp_path / "none")).collect() == []
