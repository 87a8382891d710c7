"""Monitoring analytics (SURVEY.md §3.3, §2.4 A1/A5-A8, §2.6 O1/O2,
§2.3 J3).

The reference's monitor loop (pkg/utils/monitor.go:164-304) counts
every mapped table on source and target each tick and appends to a
SQLite ``monitoring_log``; daily JST summaries and counter resets run
on schedule (:839-959, :961-1203). Here:

- ``monitoring_log`` is an append-mode parquet table,
- the tick is a batch job producing one row per (task, table),
- the reset-in-place daily counters become a JST tumbling-window
  aggregation (A8→T9) — windowed GROUP BY replaces mutable state,
- the serving queries (metrics scan, recent logs, per-table delta,
  grand totals, src/tgt diff) are plain DataFrame plans.
"""

from __future__ import annotations

import os
from datetime import date, datetime
from typing import Mapping, Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sync_spark import tz

def monitor_tick(
    spark: SparkSession,
    task_id: int,
    pairs: Mapping[str, tuple[DataFrame, DataFrame]],
    logged_at: datetime,
    log_path: Optional[str] = None,
) -> DataFrame:
    """One monitoring tick: COUNT source and target of every mapped
    table (A1/T11) → one appended row each.

    The counts run as one union-of-aggregates plan (not a Python loop
    of .count() actions), but not as one Spark job: under AQE every
    query stage of the union is its own job, so jobs grow with the
    table count. Measured on perfbench ``cdc_catchup``'s read leg (3
    tables, with ``log_path`` and the caller's collect): 12 jobs / 18
    stages / 36 tasks, counting the localCheckpoint and the log
    append. Without the collect, 1 / 3 / 6 tables ran 5 / 11 / 20 jobs.
    """
    if not pairs:
        schema = "task_id long, table string, src_count long, tgt_count long, logged_at timestamp"
        return spark.createDataFrame([], schema)
    parts = []
    for table, (src, tgt) in pairs.items():
        parts.append(
            src.agg(F.count(F.lit(1)).alias("src_count"))
            .crossJoin(tgt.agg(F.count(F.lit(1)).alias("tgt_count")))
            .select(
                F.lit(task_id).cast("long").alias("task_id"),
                F.lit(table).alias("table"),
                "src_count",
                "tgt_count",
                F.lit(tz.fmt(logged_at)).cast("timestamp").alias("logged_at"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if log_path:
        # materialize ONCE: the write and the returned frame must see
        # the SAME counts (re-running the union-of-aggregates for the
        # caller's collect would double the count jobs and could
        # diverge if a source received rows in between)
        out = out.localCheckpoint(eager=True)
        out.write.mode("append").parquet(log_path)
    return out


def metrics_scan(log: DataFrame, since: Optional[datetime] = None, limit: int = 1000) -> DataFrame:
    """O1: time-ordered metric points with src/tgt/diff pivot
    (monitor_handler.go:92-239)."""
    df = log
    if since is not None:
        df = df.filter(F.col("logged_at") >= F.lit(tz.fmt(since)).cast("timestamp"))
    return (
        df.orderBy(
            F.col("logged_at").asc(),
            F.col("table").asc(),
            F.col("task_id").asc(),
            F.col("src_count").asc(),
        )
        .limit(limit)
        .select(
            "task_id",
            "table",
            "logged_at",
            "src_count",
            "tgt_count",
            F.abs(F.col("src_count") - F.col("tgt_count")).alias("diff"),
        )
    )


def daily_table_delta(log: DataFrame, day: date) -> DataFrame:
    """A5: today's per-table growth — MAX-MIN of the target count in
    the JST day window (sync_handler.go:446-495)."""
    start, end = tz.jst_day_range(day)
    return (
        log.filter(
            (F.col("logged_at") >= F.lit(tz.fmt(start)).cast("timestamp"))
            & (F.col("logged_at") < F.lit(tz.fmt(end)).cast("timestamp"))
        )
        .groupBy("task_id", "table")
        .agg(
            (F.max("tgt_count") - F.min("tgt_count")).alias("rows_added"),
            F.max("tgt_count").alias("latest_count"),
            F.max("logged_at").alias("latest_at"),
        )
    )


def grand_totals(log: DataFrame) -> DataFrame:
    """A7: grand totals across all monitored streams
    (monitor_handler.go:399-484): latest row per (task, table), then
    sums + distinct task count."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("task_id", "table").orderBy(
        F.col("logged_at").desc(),
        # deterministic tiebreak when two ticks share a timestamp
        F.col("tgt_count").desc(),
        F.col("src_count").desc(),
    )
    latest = log.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return latest.agg(
        F.countDistinct("task_id").alias("n_tasks"),
        F.count(F.lit(1)).alias("n_tables"),
        F.sum("src_count").alias("total_src"),
        F.sum("tgt_count").alias("total_tgt"),
        F.sum(F.abs(F.col("src_count") - F.col("tgt_count"))).alias("total_diff"),
    )


def jst_daily_stats(log: DataFrame) -> DataFrame:
    """A8 as a window: per-JST-day per-table latest counts — the
    engine-native replacement for reset-in-place daily counters
    (monitor.go:839-933)."""
    jst_day = F.date_format(F.from_utc_timestamp("logged_at", "Asia/Tokyo"), "yyyy-MM-dd")
    return (
        log.groupBy(jst_day.alias("jst_day"), F.col("task_id"), F.col("table"))
        .agg(
            F.max("src_count").alias("src_max"),
            F.max("tgt_count").alias("tgt_max"),
            F.count(F.lit(1)).alias("n_ticks"),
        )
        .orderBy("jst_day", "task_id", "table")
    )


def write_apply_stats(batch_dir: str, rows: Sequence[tuple]) -> None:
    """THE writer of the apply-stats format: one ``table=/batch_id=``
    dir of ``(op, n)`` rows, or ``(op, n, src_batches)`` rows for a
    compacted dir, as ONE parquet file written driver-side with
    pyarrow. The rows are a handful of counters the caller already
    holds, so a Spark write (createDataFrame → parquet: a Python worker
    round trip and a job) would cost far more than the data.

    The dir is staged under a dot-name, which Spark listings ignore,
    and swapped in whole, so re-writing a batch's dir — a crash replay,
    possibly over a dir an older writer filled with differently named
    part files — replaces its content and can never double-count."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from sync_spark.sources.bucketed import _swap_dir

    fields = [("op", pa.string()), ("n", pa.int64()), ("src_batches", pa.int64())]
    width = len(rows[0]) if rows else 2
    table = pa.table(
        {
            name: pa.array([r[i] for r in rows], type=typ)
            for i, (name, typ) in enumerate(fields[:width])
        }
    )
    parent, base = os.path.split(batch_dir)
    stage = os.path.join(parent, f".stage_{base}")
    shutil.rmtree(stage, ignore_errors=True)
    os.makedirs(stage)
    pq.write_table(table, os.path.join(stage, "part-00000.parquet"))
    _swap_dir(stage, batch_dir)


def _fold_stats_dirs(dirs: list[str]) -> dict:
    """THE reader of the apply-stats format: fold ``batch_id=`` dirs
    to ``{op: (total, n_batches)}``. total sums ``n`` (None if every
    ``n`` is null); n_batches adds up the batches each dir stands for —
    the ``src_batches`` its compacted rows carry, plus 1 for a dir with
    rows of the op without them (a live dir, however many part files
    it has). Read with pyarrow on the driver, listing as Spark does:
    dot- and underscore-prefixed files are skipped."""
    import pyarrow.parquet as pq

    acc: dict = {}  # op -> [total, n_batches]
    for bdir in dirs:
        live = set()
        for name in sorted(os.listdir(bdir)):
            if name.startswith((".", "_")):
                continue
            for r in pq.read_table(os.path.join(bdir, name)).to_pylist():
                g = acc.setdefault(r.get("op"), [None, 0])
                if r.get("n") is not None:
                    g[0] = (g[0] or 0) + r["n"]
                if r.get("src_batches") is None:
                    live.add(r.get("op"))
                else:
                    g[1] += r["src_batches"]
        for op in live:
            acc[op][1] += 1
    return {op: tuple(g) for op, g in acc.items()}


def apply_stats_totals(spark: SparkSession, stats_path: str) -> DataFrame:
    """A6 rollup over the pipeline's per-batch apply counters
    (CdcPipeline stats_path): totals per table per op across all
    batches — the changestream_statistics serving query.

    Compaction-aware (round 5): ``compact_apply_stats`` rolls old
    per-batch dirs into one ``batch_id=cNNNNNNNNNN`` dir per table
    whose rows carry their contributing-batch count (``src_batches``),
    so totals AND n_batches are exactly preserved. The reader derives
    each table's max compacted cut-off and EXCLUDES live batch dirs
    below it — that makes a crash between "compacted dir renamed in"
    and "old dirs deleted" harmless (the superseded dirs are ignored,
    never double-counted) and the next compact call finishes the
    deletion.

    The counters are a handful of driver-written rows per batch, so
    they are read with pyarrow and rolled up on the driver: no Spark
    job (a Spark read of the same files ran 4 jobs / 8 stages). The
    listing follows Spark's: dot- and underscore-prefixed entries are
    ignored, and a file without ``src_batches`` reads it as null.
    Returns a local frame ``(table, op, total, n_batches)`` ordered by
    table, op."""
    from urllib.parse import unquote

    from sync_spark.operators.localrel import arrow_local_frame

    def partitions(path: str, key: str) -> list[tuple[str, str]]:
        """(value, dir) of each ``key=value`` subdir of ``path``."""
        if not os.path.isdir(path):
            return []
        return [
            (unquote(e[len(key) + 1:]), os.path.join(path, e))
            for e in sorted(os.listdir(path))
            if e.startswith(f"{key}=") and os.path.isdir(os.path.join(path, e))
        ]

    def number(text: str) -> int | None:
        return int(text) if text.isdigit() else None

    out = []
    for table, tdir in partitions(stats_path, "table"):
        batches = partitions(tdir, "batch_id")
        cuts = [number(b[1:11]) for b, _ in batches if b.startswith("c")]
        cut = max((c for c in cuts if c is not None), default=None)
        kept = []
        for bid, bdir in batches:
            # only the NEWEST compacted dir per table counts (a crash
            # between "new compacted dir in" and "old one deleted"
            # would otherwise double-count the folded history), and
            # live dirs below its cut-off are superseded by it
            compacted = bid.startswith("c")
            if compacted:
                keep = cut is not None and number(bid[1:11]) == cut
            else:
                keep = cut is None or (number(bid) is not None and number(bid) >= cut)
            if keep:
                kept.append(bdir)
        out += [(table, op, *c) for op, c in _fold_stats_dirs(kept).items()]
    out.sort(key=lambda row: (row[0], row[1] is not None, row[1] or ""))
    return arrow_local_frame(
        spark, out, "table string, op string, total long, n_batches long"
    )


def compact_apply_stats(stats_path: str, below_batch_id: int) -> dict:
    """Retention for the per-batch apply counters WITHOUT losing
    history: per table, fold every live batch dir with id <
    ``below_batch_id`` plus the NEWEST existing compacted dir into ONE
    ``batch_id=c<below>`` dir whose rows are (op, n=total,
    src_batches=batches-that-contained-the-op) — the exact state
    ``apply_stats_totals`` needs, in O(ops) rows instead of
    O(batches) dirs/files. Strictly-older compacted dirs are crash
    leftovers whose content already lives in the newer one — they are
    deleted, never re-folded (double-count hazard).

    Crash ordering: the compacted dir is staged under a dot-name and
    renamed in BEFORE the folded dirs are deleted; between those steps
    the reader's newest-compacted-wins filter already ignores the
    superseded dirs, and re-running compaction (same or higher
    cut-off) finishes the deletion. The folded dirs are read with
    ``_fold_stats_dirs``, the reader ``apply_stats_totals`` uses, so
    compaction runs no Spark job. Returns {table: folded_dir_count}."""
    import shutil

    from sync_spark.sources.bucketed import recover_interrupted_swaps

    out = {}
    if not os.path.isdir(stats_path):
        return out
    for tdir in sorted(os.listdir(stats_path)):
        if not tdir.startswith("table="):
            continue
        troot = os.path.join(stats_path, tdir)
        recover_interrupted_swaps(troot)
        live, comp = [], []
        for entry in os.listdir(troot):
            if not entry.startswith("batch_id="):
                continue
            val = entry[len("batch_id="):]
            if val.startswith("c"):
                if int(val[1:]) <= below_batch_id:
                    comp.append((int(val[1:]), entry))
            elif val.isdigit() and int(val) < below_batch_id:
                live.append(entry)
        # among compacted dirs, ONLY the newest participates: any
        # older one is a crash leftover whose content was already
        # folded into the newer — folding it again would double-count;
        # delete it instead (the reader's newest-wins filter has been
        # ignoring it all along)
        comp.sort()
        for _, stale in comp[:-1]:
            shutil.rmtree(os.path.join(troot, stale), ignore_errors=True)
        if comp:
            # live dirs BELOW the newest compacted cut-off are crash
            # leftovers whose counts are already inside that compacted
            # dir (the reader has been ignoring them all along) —
            # folding them again would double-count; delete instead
            cut = comp[-1][0]
            superseded = [
                e for e in live if int(e[len("batch_id="):]) < cut
            ]
            for e in superseded:
                shutil.rmtree(os.path.join(troot, e), ignore_errors=True)
            live = [e for e in live if e not in superseded]
        folded = live + [comp[-1][1]] if comp else live
        if not folded:
            continue
        if comp and comp[-1][0] == below_batch_id and not live:
            # same-cutoff re-run with nothing new: the target already
            # holds exactly this content — a pure self-fold is a no-op
            # (and rewriting it would open a lose-the-history crash
            # window between delete and rename)
            out[tdir[len("table="):]] = 0
            continue
        counts = _fold_stats_dirs([os.path.join(troot, e) for e in folded])
        final = os.path.join(troot, f"batch_id=c{below_batch_id:010d}")
        # staged, then park-then-replace (never delete-then-rename): an
        # existing target can only arise from unusual manual states
        # given the self-fold skip above, but if it does, a crash
        # mid-replace must not lose the folded history
        write_apply_stats(
            final, [(op, *c) for op, c in counts.items()]
        )
        for entry in folded:
            # a re-run with the SAME cutoff folds the existing c<N>
            # dir into itself — the freshly renamed output must not be
            # deleted as a "folded source"
            if entry != os.path.basename(final):
                shutil.rmtree(os.path.join(troot, entry), ignore_errors=True)
        out[tdir[len("table="):]] = len(folded)
    return out


def consistency_alerts(log: DataFrame, day: date, tolerance: int = 0) -> DataFrame:
    """Daily summary alert rows: tables whose latest src/tgt counts
    in yesterday's JST window differ (monitor.go:961-1203 → Slack)."""
    start, end = tz.jst_day_range(day)
    from pyspark.sql.window import Window

    w = Window.partitionBy("task_id", "table").orderBy(
        F.col("logged_at").desc(), F.col("tgt_count").desc(), F.col("src_count").desc()
    )
    latest = (
        log.filter(
            (F.col("logged_at") >= F.lit(tz.fmt(start)).cast("timestamp"))
            & (F.col("logged_at") < F.lit(tz.fmt(end)).cast("timestamp"))
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    return latest.filter(
        F.abs(F.col("src_count") - F.col("tgt_count")) > tolerance
    ).select("task_id", "table", "src_count", "tgt_count", "logged_at")


def recent_logs(
    logs: DataFrame,
    limit: int = 500,
    level: Optional[str] = None,
    contains: Optional[str] = None,
) -> DataFrame:
    """O2: recent-logs scan (monitor_handler.go:241-332) — newest
    ``limit`` rows by log_time (deterministic id tiebreak), then the
    reference's post-filters: exact level match and case-insensitive
    substring. Filter order matters for parity: the reference filters
    AFTER the LIMIT window, so a query can return fewer than asked
    even when older matching rows exist."""
    cols = logs.columns
    tiebreak = [F.col(c).desc() for c in ("log_id", "id") if c in cols]
    out = logs.orderBy(F.col("log_time").desc(), *tiebreak).limit(limit)
    if level:
        out = out.filter(F.col("level") == level)
    if contains:
        out = out.filter(F.lower(F.col("message")).contains(contains.lower()))
    return out


def humanize_bytes(col) -> F.Column:
    """F19 (slack.go:236-247): bytes → '### B/KB/MB/GB' with one
    decimal above bytes, matching the reference's 1024 steps."""
    b = F.col(col) if isinstance(col, str) else col
    b = b.cast("double")
    # format_string, NOT format_number: the latter inserts thousands
    # separators ('1,023.4 KB') the reference's %.1f never produces
    return (
        F.when(b < 1024, F.concat(b.cast("long").cast("string"), F.lit(" B")))
        .when(b < 1024**2, F.format_string("%.1f KB", b / 1024))
        .when(b < 1024**3, F.format_string("%.1f MB", b / 1024**2))
        .otherwise(F.format_string("%.1f GB", b / 1024**3))
    )
