"""Normalized table readers (SURVEY.md §2.1 S1/S3/S5).

One quirk handled centrally: parquet TIMESTAMP(NANOS) columns, which
Spark's vectorized reader rejects. We flip the documented legacy conf
(``spark.sql.legacy.parquet.nanosAsLong``) so the column arrives as
nanos-since-epoch LongType, then truncate to microseconds —
``timestamp_micros(floor(ns / 1000))`` — which matches DuckDB's
TIMESTAMP_NS → TIMESTAMP cast semantics, keeping the oracle
comparison exact. All of this stays JVM-side (no UDF).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, TimestampNTZType

# columns known to be event-time nanos in the test corpus; the check
# below is schema-driven, this is only a fallback naming hint
_NANOS_HINT = {"ts"}


def ensure_session_conf(spark: SparkSession) -> None:
    """Runtime-settable confs every query depends on, applied
    defensively so queries are correct even on a session we didn't
    build (the driver passes its own): UTC session time (timestamp
    formatting / JST math) and nanos-parquet tolerance."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # naive (isAdjustedToUTC=false) parquet timestamps must mean
    # "micros since epoch UTC" exactly as DuckDB treats them; Spark 4
    # would otherwise surface them as TIMESTAMP_NTZ, which functions
    # like unix_micros() reject
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    # Arrow-backed toPandas: without it a foreign session materializes
    # ARRAY columns as Python lists whose str() differs from the
    # ndarray rendering the oracle side produces — a driver harness
    # that stringifies rows then false-mismatches array outputs
    # (caught by the r6 adversarial-session sim on e_label_centroids;
    # values were identical)
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")


def read_parquet(spark: SparkSession, path: str, nanos_cols: set[str] | None = None) -> DataFrame:
    """Read parquet, converting TIMESTAMP(NANOS) columns to
    microsecond TimestampType."""
    ensure_session_conf(spark)
    df = spark.read.parquet(path)
    # defensive second layer for sessions where inferTimestampNTZ was
    # already baked into a cached plan: with session tz pinned to UTC
    # above, cast(ntz as timestamp) is the same epoch reinterpretation
    for field in df.schema.fields:
        if isinstance(field.dataType, TimestampNTZType):
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp"))
    hint = _NANOS_HINT if nanos_cols is None else nanos_cols
    for field in df.schema.fields:
        if field.name in hint and isinstance(field.dataType, LongType):
            # only rewrite if the parquet logical type really was
            # nanos — a genuine long id column stays untouched
            if _is_nanos_column(path, field.name):
                # integer `div`, NOT `/`: float division loses
                # precision above 2^53 ns and rounds the microsecond
                df = df.withColumn(
                    field.name,
                    F.timestamp_micros(F.expr(f"`{field.name}` div 1000")),
                )
    return df


def _is_nanos_column(path: str, column: str) -> bool:
    try:
        import pyarrow.parquet as pq

        target = path
        if os.path.isdir(path):
            parts = [p for p in os.listdir(path) if p.endswith(".parquet")]
            if not parts:
                return False
            target = os.path.join(path, parts[0])
        schema = pq.read_schema(target)
        field = schema.field(column)
        return str(field.type) == "timestamp[ns]"
    except Exception:
        return True  # hinted column that arrived as long ⇒ assume nanos


_TABLE_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict]" = None  # type: ignore[assignment]


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Corpus table loader with a session-scoped DataFrame memo.

    Every ``spark.read.parquet`` call re-lists the path and re-reads a
    footer for schema inference — measured ~0.1s per call on this box,
    so a 5-table join paid ~0.5s of pure reload before its first task.
    The benchmark corpus is immutable, and a DataFrame is an immutable
    lazy plan, so handing the SAME DataFrame back (per session, per
    path) is exactly what a user keeping table handles does. The memo
    is weakly keyed on the session (dies with it) and holds only the
    10 corpus tables. NOTE: this is the READ-ONLY corpus loader —
    mutable stores (the bucketed CDC target, DLQ, snapshots) go
    through their own readers and are never cached here, because a
    cached InMemoryFileIndex would pin a stale file listing."""
    global _TABLE_CACHE
    if _TABLE_CACHE is None:
        import weakref

        _TABLE_CACHE = weakref.WeakKeyDictionary()
    per = _TABLE_CACHE.setdefault(spark, {})
    key = (os.path.abspath(sf_dir), name)
    df = per.get(key)
    if df is None:
        df = read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
        per[key] = df
    return df


def table_rowcount(sf_dir: str, name: str) -> int | None:
    """Exact row count from the parquet footer(s), no Spark job — the
    cheap way to fold a COUNT(*) scalar (e.g. a TF-IDF corpus size)
    into a query as a literal instead of a 1-row-aggregate crossJoin.
    Footer row counts are exact by the parquet spec, so this is the
    same number a full COUNT(*) scan produces. Handles a single file
    or a directory of part files; returns None when the layout is
    anything else (remote storage, open writers) — callers fall back
    to a distributed count."""
    try:
        import pyarrow.parquet as pq

        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.isfile(path):
            return pq.ParquetFile(path).metadata.num_rows
        if os.path.isdir(path):
            parts = [f for f in os.listdir(path) if f.endswith(".parquet")]
            if not parts:
                # partitioned/multi-level layout (data in subdirs) or a
                # dir mid-write: 0-files must be "unknown", NOT zero —
                # a 0 literal would silently zero out every score that
                # folds this count in (callers fall back to a count())
                return None
            return sum(
                pq.ParquetFile(os.path.join(path, f)).metadata.num_rows
                for f in parts
            )
    except Exception:
        return None
    return None


def first_array_len(sf_dir: str, name: str, col: str) -> int | None:
    """Length of ``col``'s array in the FIRST row of a local parquet
    table, read via pyarrow (one row, one column — no Spark job). The
    cheap dimensionality probe for fixed-dim embedding tables; None
    when the layout is remote/odd or the table is empty (callers fall
    back to a Spark first())."""
    try:
        import pyarrow.parquet as pq

        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.isdir(path):
            parts = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
            if not parts:
                return None
            path = os.path.join(path, parts[0])
        if not os.path.isfile(path):
            return None
        pf = pq.ParquetFile(path)
        for batch in pf.iter_batches(batch_size=1, columns=[col]):
            if batch.num_rows:
                v = batch.column(0)[0].as_py()
                return len(v) if v is not None else None
            break
        return None
    except Exception:
        return None


def table_size_bytes(sf_dir: str, name: str) -> int | None:
    """On-disk byte size of a local parquet table (single file or a
    directory of parts) from os.stat alone — no Spark call, no footer
    parse. Used to estimate the media kernels' scan splits
    (media_queries._spread_ids) without an RDD conversion per query
    construction. None when the layout is anything else."""
    try:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.isfile(path):
            return os.path.getsize(path)
        if os.path.isdir(path):
            parts = [f for f in os.listdir(path) if f.endswith(".parquet")]
            if not parts:
                return None
            return sum(os.path.getsize(os.path.join(path, f)) for f in parts)
    except Exception:
        return None
    return None
