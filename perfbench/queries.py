"""``query_suite``: a fixed subset of the registry, one client, back to
back, over a seeded corpus; then a backup export of two corpus tables
and a read-back of the export.

Legs, in order:

1. op: every query in ``manifest.QUERY_SUITE`` once, in a fixed order,
   timed from construction to its collected result. Passes repeat
   while the run's seconds last; the metrics use the first pass, so a
   faster program does not change what is measured;
2. write: ``run_backup_task`` exporting ``orders`` and ``lineitem`` to
   gzip JSONL, after an untimed export and read-back of ``orders``;
3. read: ``read_export_jsonl`` counting each artifact's rows.

Correctness is checked outside the timed regions: each query's first
result against its registry DuckDB oracle (order-free hash, or a
non-empty result where the registry has no oracle), later passes by
row count, and the export by its row counts.
"""

from __future__ import annotations

import gc
import json
import subprocess
import sys
import time
from datetime import date
from pathlib import Path

from perfbench import gen, manifest, oracle
from perfbench.harness import (Tracer, Weather, dir_bytes, geomean, job_counts, median, tree_cpu_s,
                               warm_python_workers)

SF = 0.005  # per-query cost here is the job floor, not data volume
EXPORT_TABLES = ["orders", "lineitem"]
ROOT = Path(__file__).resolve().parent.parent
RUN_DAY = date(2024, 1, 31)


def run(spark, work: Path, seed: int, seconds: float, tracer: Tracer, trace: bool) -> dict:
    import sync_spark.engine as engine
    from sync_spark.registry import all_queries
    from sync_spark.sources.writers import read_export_jsonl
    from sync_spark.spec import BackupSpec
    from sync_spark.testing import TABLE_NAMES

    corpus = work / "corpus"
    registry = all_queries()
    names = list(manifest.QUERY_SUITE)
    sc = spark.sparkContext
    failures: list[str] = []
    attempted = 0

    # the DuckDB oracles run in a child process while the Python worker
    # pool warms up, so DuckDB's memory never counts in the driver's
    # peak; the child has ended before the first timed query
    sqls = {n: registry[n].oracle for n in names if registry[n].oracle is not None}
    with tracer.span("inputs"):
        row_counts = gen.write_corpus(corpus, seed, SF)
        checker = subprocess.Popen([sys.executable, "-m", "perfbench.oracle"], cwd=ROOT,
                                   stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        checker.stdin.write(json.dumps({"corpus": str(corpus), "tables": list(row_counts), "sqls": sqls}))
        checker.stdin.close()
        p0 = time.perf_counter()
        warm_python_workers(spark)
        python_workers_s = time.perf_counter() - p0
        # a failed child leaves no hashes, so every oracle check fails
        oracle_hashes = json.loads(checker.stdout.read() or "{}")
        checker.wait()

    # -- op leg ------------------------------------------------------------
    first: dict[str, dict] = {}
    results = {}
    later: list[dict] = []
    weather = Weather()
    t0 = time.perf_counter()
    n_pass = 0
    with tracer.span("leg.op"):
        while n_pass == 0 or time.perf_counter() - t0 < seconds:
            n_pass += 1
            for name in names:
                attempted += 1
                group = f"perfbench-{name}-{n_pass}"
                if trace:
                    sc.setJobGroup(group, name)
                try:
                    with tracer.span("query", query=name, pass_=n_pass):
                        c0, q0 = tree_cpu_s(), time.perf_counter()
                        df = registry[name].spark_fn(spark, str(corpus))
                        q1 = time.perf_counter()
                        pdf = df.toPandas()
                        q2, c2 = time.perf_counter(), tree_cpu_s()
                except Exception as exc:  # noqa: BLE001 - a failing query is counted, not fatal
                    failures.append(f"{name}: {type(exc).__name__}: {exc}"[:300])
                    continue
                finally:
                    if trace:
                        sc.setJobGroup("perfbench-idle", "idle")
                sample = {"query": name, "construct_s": q1 - q0, "action_s": q2 - q1, "cpu_s": c2 - c0,
                          "rows": len(pdf)}
                if trace:
                    sample.update(job_counts(spark, group))
                if n_pass == 1:
                    first[name] = sample
                    results[name] = pdf
                else:
                    later.append(sample)
                    if name in first and len(pdf) != first[name]["rows"]:
                        failures.append(f"{name}: pass {n_pass} returned {len(pdf)} rows")
                del df, pdf
                # queries are independent: drop cached relations and let the
                # context cleaner free blocks the driver no longer references
                spark.catalog.clearCache()
                gc.collect()
    op_wall = time.perf_counter() - t0
    cpu_share = weather.python_cpu_share()

    # -- write and read legs: backup export, then its read-back ------------
    spec = BackupSpec(name="perfbench", tables=list(EXPORT_TABLES))

    def load_table(t):
        return spark.read.parquet(str(corpus / f"{t}.parquet"))

    # an untimed export and read-back of one table first, so the timed
    # legs do not pay for compiling the JSON writer, codec and reader
    with tracer.span("leg.warm"):
        warm = engine.run_backup_task(spark, BackupSpec(name="perfbench-warm", tables=EXPORT_TABLES[:1]),
                                      catalog=sorted(TABLE_NAMES), load_table=load_table,
                                      out_dir=str(work / "export-warm"), run_day=RUN_DAY)
        for p in warm:
            read_export_jsonl(spark, p).count()

    if trace:
        tracer.wrap(engine, "plan_export", "export.plan")
        tracer.wrap(engine, "export_group", "export.write")
        sc.setJobGroup("perfbench-export", "export")
    exported = sum(row_counts[t] for t in EXPORT_TABLES)
    attempted += 2
    c0, w0 = tree_cpu_s(), time.perf_counter()
    with tracer.span("leg.write"):
        paths = engine.run_backup_task(spark, spec, catalog=sorted(TABLE_NAMES), load_table=load_table,
                                       out_dir=str(work / "export"), run_day=RUN_DAY)
    write_s, write_cpu = time.perf_counter() - w0, tree_cpu_s() - c0
    if trace:
        export_jobs = job_counts(spark, "perfbench-export")["jobs"]
        sc.setJobGroup("perfbench-idle", "idle")
    c0, r0 = tree_cpu_s(), time.perf_counter()
    with tracer.span("leg.read"):
        read_rows = [read_export_jsonl(spark, p).count() for p in paths]
    read_s, read_cpu = time.perf_counter() - r0, tree_cpu_s() - c0
    if len(paths) != len(EXPORT_TABLES) or sum(read_rows) != exported:
        failures.append(f"export read back {sum(read_rows)} rows, wrote {exported}")
    export_bytes = sum(dir_bytes(p) for p in paths)

    # -- correctness (untimed) -----------------------------------------------
    with tracer.span("check"):
        for name, pdf in results.items():
            attempted += 1
            want = oracle_hashes.get(name)
            ok = len(pdf) > 0 if registry[name].oracle is None else oracle.frame_hash(pdf) == want
            if not ok:
                failures.append(f"{name}: result differs from its oracle")

    totals = {n: s["construct_s"] + s["action_s"] for n, s in first.items()}
    fam_s = {f: sum(t for n, t in totals.items() if manifest.QUERY_SUITE[n] == f)
             for f in manifest.FAMILIES}
    cpu = {n: s["cpu_s"] for n, s in first.items()}
    metrics = {
        "work_cpu_s": sum(cpu.values()),
        "store_cpu_s": write_cpu + read_cpu,
        "store_bytes_per_row": export_bytes / exported if exported else 0.0,
    }
    detail = {
        "sf": SF,
        "python_workers_warmup_s": python_workers_s,
        "corpus_rows": row_counts,
        "passes": n_pass,
        "op_wall_s": op_wall,
        "query_s": totals,
        "query_cpu_s": cpu,
        "write_cpu_s": write_cpu,
        "read_cpu_s": read_cpu,
        "pass_s": sum(totals.values()),
        "sync_ops_s": sum(fam_s[f] for f in manifest.SYNC_FAMILIES),
        "corpus_ops_s": sum(fam_s[f] for f in manifest.CORPUS_FAMILIES),
        "query_geomean_ms": geomean(list(totals.values())) * 1000.0,
        "later_passes": later,
        "failures": failures,
    }
    layers = {
        "driver.python_cpu_share": cpu_share,
        "cpu.op_ms_p50": median(list(cpu.values())) * 1000.0,
        "cpu.write_s": write_cpu,
        "cpu.read_s": read_cpu,
        "wall.op_ms_p50": median(list(totals.values())) * 1000.0,
        "wall.write_s": write_s,
        "wall.read_s": read_s,
    }
    if trace:
        for fam in manifest.FAMILIES:
            rows = [s for n, s in first.items() if manifest.QUERY_SUITE[n] == fam]
            layers[f"ops.{fam}.construct_s"] = sum(s["construct_s"] for s in rows)
            layers[f"ops.{fam}.action_s"] = sum(s["action_s"] for s in rows)
            layers[f"ops.{fam}.jobs"] = sum(s["jobs"] for s in rows)
            layers[f"ops.{fam}.tasks"] = sum(s["tasks"] for s in rows)
        layers["export.plan_ms"] = sum(tracer.durations("export.plan")) * 1000.0
        layers["export.write_s"] = sum(tracer.durations("export.write"))
        layers["export.bytes_out"] = float(export_bytes)
        layers["export.jobs"] = float(export_jobs)
    return {"metrics": metrics, "layers": layers, "attempted": attempted,
            "failed": len(failures), "detail": detail}
