"""``cdc_catchup``: snapshot three tables, then drain a backlog of
500-event files one file per trigger, then read the targets back.

Legs, in order:

1. write: ``SyncTask.snapshot`` of the three tables (fieldSecurity
   applied, bucketed targets written);
2. op: a closed loop that publishes the next few backlog files into
   the event log and drains them with ``CdcPipeline.run_available``
   (one file per trigger, DLQ and apply stats on) until the run's
   seconds are spent and at least ``MIN_BATCHES`` triggers ran. The
   first chunk warms the path and is untimed;
3. read: ``monitor_tick`` (source vs target counts),
   ``apply_stats_totals`` and a ``lookup_keys`` point read.

Correctness is checked after the timed legs: each target equals a
DuckDB fold of the snapshot plus every drained event file (masked and
encrypted fields compared through their transforms), and the DLQ holds
exactly the generator's count of null-key events.
"""

from __future__ import annotations

import json
import os
import time
from datetime import datetime
from pathlib import Path

from perfbench import gen, oracle
from perfbench.harness import Tracer, Weather, dir_bytes, job_counts, median, per_root_sums, tree_cpu_s

SECURITY_KEY = "perfbench-field-security-key"
BACKLOG_FILES = 40  # more than a run drains; a run stops early if it drains them all
WARM_FILES = 1
CHUNK_FILES = 1
# the drain runs at least this many triggers, so every run covers the
# same table sequence (accounts, profiles, orders after the warm-up).
# Three triggers take longer than the run's seconds, so today's program
# always runs exactly these three
MIN_BATCHES = 3
COUNTED_BATCHES = MIN_BATCHES  # job/stage/task gauges come from these batches


def _schema(table: str):
    from pyspark.sql import types as T

    types = {"long": T.LongType(), "double": T.DoubleType(), "string": T.StringType()}
    return T.StructType(
        [T.StructField(c, types[t]) for c, t in gen.CDC_TABLES[table]["columns"]]
    )


class _TraceHooks:
    """Spans around the CDC layers' public entry points, installed from
    here so the program itself carries no tracing."""

    def __init__(self, tracer: Tracer, spark, dirs: dict) -> None:
        self.tracer = tracer
        self.spark = spark
        self.dirs = dirs
        self.batch_counts: list[dict] = []

    def install(self) -> None:
        import pyspark.sql.streaming.readwriter as rw
        from pyspark.sql import DataFrameWriter
        from pyspark.sql.classic.dataframe import DataFrame

        import sync_spark.sources.bucketed as bucketed
        import sync_spark.streaming.pipeline as pipeline

        t = self.tracer
        hooks = self
        orig_fe = rw.DataStreamWriter.foreachBatch

        def foreach_batch(writer, func):
            def traced(df, batch_id):
                with t.span("pipeline.batch", batch_id=batch_id):
                    func(df, batch_id)
                t0 = time.perf_counter()
                group = hooks.spark.sparkContext.getLocalProperty("spark.jobGroup.id")
                hooks.batch_counts.append(job_counts(hooks.spark, group) if group else {})
                t.bookkeeping_s += time.perf_counter() - t0

            return orig_fe(writer, traced)

        t.patch(rw.DataStreamWriter, "foreachBatch", foreach_batch)

        def in_batch(args, kwargs):
            return {} if t.in_span() else {"skip": True}

        # parquet writes are attributed by destination: the DLQ, the
        # apply stats, or a staged bucket rewrite
        orig_parquet = DataFrameWriter.parquet

        def parquet(writer, path, *args, **kwargs):
            if not t.in_span():
                return orig_parquet(writer, path, *args, **kwargs)
            path = str(path)
            kind = next((k for k in ("dlq", "stats") if path.startswith(hooks.dirs[k])),
                        "staged" if "__stage_" in path else "other")
            with t.span(f"write.{kind}", path=path) as rec:
                out = orig_parquet(writer, path, *args, **kwargs)
            if kind == "staged":
                rec["bytes"] = dir_bytes(path, (".parquet",))
            return out

        t.patch(DataFrameWriter, "parquet", parquet)
        t.wrap(DataFrame, "collect", "spark.collect", in_batch)

        t.wrap(pipeline, "changes_for_table", "cdc.changes_for_table")
        t.wrap(pipeline, "apply_security_rules", "security.apply_rules")
        t.wrap(pipeline, "apply_changes", "merge.apply_changes")
        t.wrap(pipeline, "read_buckets", "bucketed.read_buckets",
               lambda a, k: {"buckets": len(a[2] if len(a) > 2 else k["buckets"])})
        t.wrap(pipeline, "overwrite_buckets", "bucketed.overwrite_buckets")
        t.wrap(pipeline, "write_bucketed", "bucketed.write_bucketed")
        t.wrap(bucketed, "_swap_dir", "bucketed.swap", in_batch)


def _progress(query) -> list[dict]:
    out = []
    for p in query.recentProgress:
        d = json.loads(p.json) if hasattr(p, "json") else dict(p)
        if d.get("numInputRows", 0) > 0:
            out.append(d)
    return out


def _compare_table(spark, table: str, target_path: str, want) -> tuple[bool, int]:
    """Whether the target rows equal ``want`` (the DuckDB fold), through
    the field transforms, and the target's row count."""
    from sync_spark.functions.security import decrypt_value
    from sync_spark.sources.bucketed import read_target

    cols = [c for c, _ in gen.CDC_TABLES[table]["columns"]]
    types = dict(gen.CDC_TABLES[table]["columns"])
    df = read_target(spark, target_path)
    rules = {r["field"]: r["securityType"] for r in gen.SECURITY.get(table, [])}
    for field, kind in rules.items():
        if kind == "encrypted":
            df = df.withColumn(field, decrypt_value(df[field], SECURITY_KEY))
    got = df.select(*cols).toPandas().sort_values("id").reset_index(drop=True)
    if len(got) != len(want):
        return False, len(got)

    def cast(v, col):
        if v is None:
            return None
        t = types[col]
        return int(v) if t == "long" else float(v) if t == "double" else str(v)

    for col in cols:
        expected = want[col].tolist()
        actual = got[col].tolist()
        if rules.get(col) == "masked":
            expected = [None if v is None else "*" * len(v) for v in expected]
        elif rules.get(col) != "encrypted":
            expected = [cast(v, col) for v in expected]
            actual = [cast(v, col) for v in actual]
        if expected != actual:
            return False, len(got)
    return True, len(got)


def run(spark, work: Path, seed: int, seconds: float, tracer: Tracer, trace: bool) -> dict:
    from sync_spark.engine import SyncTask
    from sync_spark.operators.monitor import apply_stats_totals, monitor_tick
    from sync_spark.sources.bucketed import lookup_keys, read_target
    from sync_spark.spec import SyncSpec
    from sync_spark.streaming.pipeline import CdcPipeline, TableTarget

    inputs = work / "inputs"
    with tracer.span("inputs"):
        gen_info = gen.write_cdc_inputs(inputs, seed, BACKLOG_FILES)
    spec = SyncSpec.from_json((inputs / "spec.json").read_text())
    dirs = {k: str(work / k) for k in ("targets", "events", "ckpt", "dlq", "stats", "monitor")}
    schemas = {t: _schema(t) for t in gen.CDC_TABLES}
    hooks = _TraceHooks(tracer, spark, dirs)
    if trace:
        hooks.install()

    failures: list[str] = []
    attempted = 0

    # -- write leg: the initial snapshot -------------------------------------
    task = SyncTask(
        spark,
        spec,
        source_loader=lambda t: spark.read.schema(schemas[t]).json(str(inputs / "snapshot" / f"{t}.jsonl")),
        row_schemas=schemas,
        target_root=dirs["targets"],
        event_log_dir=dirs["events"],
        checkpoint_root=dirs["ckpt"],
        security_key=SECURITY_KEY,
    )
    c0, t0 = tree_cpu_s(), time.perf_counter()
    with tracer.span("leg.write"):
        ran = task.snapshot()
    write_s, write_cpu = time.perf_counter() - t0, tree_cpu_s() - c0
    attempted += 1
    if not all(ran.values()):
        failures.append("snapshot skipped a table")

    targets = [
        TableTarget(t, os.path.join(dirs["targets"], t), schemas[t], ["id"]) for t in gen.CDC_TABLES
    ]
    pipe = CdcPipeline(
        spark,
        spec,
        targets,
        event_log_dir=dirs["events"],
        checkpoint_dir=dirs["ckpt"],
        dlq_path=dirs["dlq"],
        security_key=SECURITY_KEY,
        max_files_per_trigger=1,
        stats_path=dirs["stats"],
    )
    os.makedirs(dirs["events"], exist_ok=True)
    backlog = [f["name"] for f in gen_info["files"]]
    published: list[str] = []

    def drain(n_files: int) -> list[dict]:
        for name in backlog[len(published): len(published) + n_files]:
            os.rename(inputs / "backlog" / name, os.path.join(dirs["events"], name))
            published.append(name)
        query = pipe.start(trigger_once=True)
        query.awaitTermination()
        return _progress(query)

    # -- op leg: closed-loop drain -----------------------------------------
    with tracer.span("leg.warm"):
        warm = drain(WARM_FILES)
    attempted += len(warm)
    batches: list[dict] = []
    trigger_cpu: list[float] = []
    weather = Weather()
    t0 = time.perf_counter()
    with tracer.span("leg.op"):
        while (len(batches) < MIN_BATCHES or time.perf_counter() - t0 < seconds) \
                and len(published) < len(backlog):
            c0 = tree_cpu_s()
            batches.extend(drain(CHUNK_FILES))
            trigger_cpu.append(tree_cpu_s() - c0)
    drain_wall = time.perf_counter() - t0
    drain_cpu = sum(trigger_cpu)
    cpu_share = weather.python_cpu_share()
    attempted += len(batches)
    if len(warm) != WARM_FILES or len(warm) + len(batches) != len(published):
        failures.append("trigger count differs from files published")

    # -- read leg ----------------------------------------------------------
    paths = {t: os.path.join(dirs["targets"], t) for t in gen.CDC_TABLES}
    files = [os.path.join(dirs["events"], n) for n in published]
    folds = {}
    source_dir = work / "source"
    source_dir.mkdir(exist_ok=True)
    with tracer.span("check"):
        for t in gen.CDC_TABLES:
            cols = [c for c, _ in gen.CDC_TABLES[t]["columns"]]
            folds[t] = oracle.fold_events(str(inputs / "snapshot" / f"{t}.jsonl"), files, t, cols)
            folds[t][["id"]].to_parquet(source_dir / f"{t}.parquet", index=False)
    drained = [f for f in gen_info["files"] if f["name"] in published]
    good_events = sum(f["events"] - f["bad"] for f in drained)
    lookup = [(k,) for k in gen_info["lookup_keys"]]
    want_lookup = sorted(k for (k,) in lookup if k in set(folds["accounts"]["id"].astype(int)))
    pairs = {
        t: (spark.read.parquet(str(source_dir / f"{t}.parquet")), read_target(spark, p))
        for t, p in paths.items()
    }
    c0, r0 = tree_cpu_s(), time.perf_counter()
    with tracer.span("leg.read"):
        ticks = monitor_tick(spark, 1, pairs, datetime(2024, 1, 1), log_path=dirs["monitor"]).collect()
        r1 = time.perf_counter()
        totals = apply_stats_totals(spark, dirs["stats"]).collect()
        r2 = time.perf_counter()
        found = lookup_keys(spark, paths["accounts"], lookup, schema=schemas["accounts"]).collect()
        r3 = time.perf_counter()
    read_cpu = tree_cpu_s() - c0
    read_parts = {"tick_s": r1 - r0, "stats_s": r2 - r1, "lookup_s": r3 - r2}
    attempted += 3
    if any(r["src_count"] != r["tgt_count"] for r in ticks) or len(ticks) != len(paths):
        failures.append("monitor_tick source/target counts differ")
    if sum(r["total"] for r in totals) != good_events:
        failures.append("apply_stats_totals differs from applied events")
    if sorted(r["id"] for r in found) != want_lookup:
        failures.append("lookup_keys returned the wrong rows")

    # -- correctness (untimed) ---------------------------------------------
    rows = 0
    with tracer.span("check"):
        for t, p in paths.items():
            attempted += 1
            ok, n = _compare_table(spark, t, p, folds[t])
            rows += n
            if not ok:
                failures.append(f"target {t} differs from the DuckDB fold")
        attempted += 1
        bad_events = sum(f["bad"] for f in drained)
        dlq_rows = spark.read.parquet(dirs["dlq"]).count() if os.path.isdir(dirs["dlq"]) else 0
        if dlq_rows != bad_events:
            failures.append(f"DLQ holds {dlq_rows} rows, generator wrote {bad_events} bad events")

    store_bytes = sum(dir_bytes(p, (".parquet",)) for p in paths.values())
    lat = [b["durationMs"]["triggerExecution"] for b in batches]
    events = sum(b["numInputRows"] for b in batches)
    metrics = {
        "work_cpu_s": drain_cpu / events * 1000.0 if events else 0.0,
        "store_cpu_s": write_cpu + read_cpu,
        "store_bytes_per_row": store_bytes / rows if rows else 0.0,
    }
    detail = {
        "batches": len(batches),
        "events": events,
        "drain_wall_s": drain_wall,
        "drain_cpu_s": drain_cpu,
        "events_per_s": events / (sum(lat) / 1000.0) if lat else 0.0,
        "batch_ms": lat,
        "warm_batch_ms": [b["durationMs"]["triggerExecution"] for b in warm],
        "files_published": len(published),
        "bad_events": bad_events,
        "weather_drain": weather.read(),
        "read_leg_s": read_parts,
        "trigger_cpu_s": trigger_cpu,
        "write_cpu_s": write_cpu,
        "read_cpu_s": read_cpu,
        "failures": failures,
    }
    layers = {
        "driver.python_cpu_share": cpu_share,
        "cpu.op_ms_p50": median(trigger_cpu) * 1000.0,
        "cpu.write_s": write_cpu,
        "cpu.read_s": read_cpu,
        "wall.op_ms_p50": median(lat),
        "wall.write_s": write_s,
        "wall.read_s": r3 - r0,
    }
    if trace:
        layers.update(_layer_metrics(tracer, hooks, batches, len(warm), events, read_parts))
    return {"metrics": metrics, "layers": layers, "attempted": attempted,
            "failed": len(failures), "detail": detail}


def _layer_metrics(tracer: Tracer, hooks: _TraceHooks, batches: list[dict], n_warm: int,
                   events: int, read_parts: dict) -> dict:
    def p50(key):
        return median([b["durationMs"].get(key, 0) for b in batches])

    out = {
        "stream.latest_offset_ms": p50("latestOffset"),
        "stream.add_batch_ms": p50("addBatch"),
        "stream.wal_commit_ms": p50("walCommit"),
        "stream.commit_offsets_ms": p50("commitOffsets"),
        "stream.query_planning_ms": p50("queryPlanning"),
    }
    # batch spans in order; the first n_warm belong to the warm-up chunk
    roots = [s for s in tracer.spans if s["name"] == "pipeline.batch"]
    timed = slice(n_warm, None)

    def per_batch_ms(name):
        # mean over timed batches: a layer only some tables use (the
        # DLQ, field security) still shows its share of every batch
        sums = per_root_sums(tracer, "pipeline.batch", name)[timed]
        return sum(sums) / len(sums) * 1000.0 if sums else 0.0

    for metric, span in [
        ("pipeline.summary_ms", "spark.collect"),
        ("pipeline.dlq_write_ms", "write.dlq"),
        ("pipeline.stats_write_ms", "write.stats"),
        ("cdc.changes_for_table_ms", "cdc.changes_for_table"),
        ("security.apply_rules_ms", "security.apply_rules"),
        ("merge.apply_changes_ms", "merge.apply_changes"),
        ("bucketed.read_buckets_ms", "bucketed.read_buckets"),
        ("bucketed.overwrite_buckets_ms", "bucketed.overwrite_buckets"),
        ("bucketed.staged_write_ms", "write.staged"),
        ("bucketed.swap_ms", "bucketed.swap"),
    ]:
        out[metric] = per_batch_ms(span)
    root_ids = [r["id"] for r in roots][timed]
    touched: dict[int, int] = {r: 0 for r in root_ids}
    staged: dict[int, int] = {r: 0 for r in root_ids}
    for s in tracer.spans:
        anc = s["parent"]
        while anc is not None and anc not in touched:
            anc = tracer.spans[anc]["parent"]
        if anc is None:
            continue
        if s["name"] == "bucketed.read_buckets":
            touched[anc] += s.get("buckets", 0)
        if s["name"] == "write.staged":
            staged[anc] += s.get("bytes", 0)
    out["bucketed.buckets_touched_per_batch"] = median(list(touched.values()))
    out["bucketed.bytes_written_per_event"] = sum(staged.values()) / events if events else 0.0
    snap = [s for s in tracer.spans if s["name"] == "bucketed.write_bucketed"
            and "leg.write" in tracer.ancestors(s)]
    out["bucketed.write_bucketed_s"] = sum(s["end"] - s["start"] for s in snap)
    counted = hooks.batch_counts[n_warm: n_warm + COUNTED_BATCHES]
    for what in ("jobs", "stages", "tasks"):
        vals = [c.get(what, 0) for c in counted]
        out[f"pipeline.{what}_per_batch"] = sum(vals) / len(vals) if vals else 0.0
    out["monitor.tick_s"] = read_parts["tick_s"]
    out["monitor.apply_stats_totals_s"] = read_parts["stats_s"]
    out["bucketed.lookup_keys_ms"] = read_parts["lookup_s"] * 1000.0
    return out
