#!/usr/bin/env python3
"""Benchmark of the sync_spark engine.

    python3 perfbench/run.py --workload cdc_catchup --seed 1 --seconds 8 --trace 0
    python3 perfbench/run.py --write-manifest      # regenerate BENCHMARK.json

One run is one process on ``local[<cpu count>]``: it generates its
inputs from ``--seed``, sets the session up (starting the JVM), runs
the workload's legs for ``--seconds`` of timed work, checks every
output against an independent DuckDB result, and prints one JSON
object as the last line of standard output:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` reports
the per-layer metrics, timed by spans the benchmark records around
calls into the program's layers. All scratch files, the run record
(weather, sizing, details) and the trace go under ``.perfbench/`` in
the checkout; the run record is
``.perfbench/runs/<workload>-seed<seed>-trace<0|1>.json``.
"""

from __future__ import annotations

import argparse
import json
import shutil
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def _parse(argv: list[str] | None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--write-manifest", action="store_true", help="write BENCHMARK.json and exit")
    return ap.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = _parse(argv)
    sys.path.insert(0, str(ROOT))
    from perfbench import manifest

    if args.write_manifest:
        print(manifest.write_manifest(ROOT))
        return 0
    names = [w["name"] for w in manifest.WORKLOADS]
    if args.workload not in names:
        print(f"perfbench: --workload must be one of {names}", file=sys.stderr)
        return 2
    if not (ROOT / "sync_spark" / "__init__.py").is_file():
        print(f"perfbench: no sync_spark package under {ROOT}", file=sys.stderr)
        return 2
    seconds = args.seconds if args.seconds is not None else manifest.RUN_SECONDS

    from perfbench import harness

    work = ROOT / ".perfbench" / f"{args.workload}-seed{args.seed}-trace{args.trace}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    env = harness.configure_env(ROOT, work)
    weather = harness.Weather()
    tracer = harness.Tracer()
    t_start = time.perf_counter()

    with tracer.span("setup"):
        spark, setup = harness.set_up_session(work)
    try:
        if args.workload == "cdc_catchup":
            from perfbench import cdc

            out = cdc.run(spark, work, args.seed, seconds, tracer, bool(args.trace))
        else:
            from perfbench import queries

            out = queries.run(spark, work, args.seed, seconds, tracer, bool(args.trace))
        mem_parts = harness.memory_mb(spark)
        mem = sum(mem_parts)
    finally:
        tracer.unwrap_all()
        with tracer.span("shutdown"):
            harness.shut_down(spark)

    wall = time.perf_counter() - t_start
    e2e = {"setup_s": setup["setup_s"], **out["metrics"], "mem_mb": mem}
    layers = {k: setup[k] for k in ("session.build_s", "session.warmup_s")}
    layers.update(out["layers"])
    layers["trace.overhead_share"] = tracer.bookkeeping_s / wall if args.trace else 0.0
    if args.trace:
        declared = manifest.PER_LAYER
        exercised = manifest.LAYERS_BY_WORKLOAD[args.workload]
        report = {}
        for name, unit, _ in declared:
            value = layers.get(name, 0.0) if name in exercised else 0.0
            report[name] = {"value": value, "unit": unit}
    else:
        report = {name: {"value": e2e[name], "unit": unit} for name, unit, _, _ in manifest.END_TO_END}

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": seconds,
        "trace": args.trace,
        "env": env,
        "weather": weather.read(),
        "wall_s": wall,
        "phases_s": tracer.root_seconds(),
        "setup": setup,
        "end_to_end": e2e,
        "layers": layers,
        "detail": out["detail"],
        "mem_parts_mb": mem_parts,
    }
    runs = ROOT / ".perfbench" / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    untraced = runs / f"{args.workload}-seed{args.seed}-trace0.json"
    if args.trace and untraced.is_file():
        # tracing overhead: traced minus untraced end-to-end numbers of
        # the same workload and seed, when an untraced run was made here
        base = json.loads(untraced.read_text())["end_to_end"]
        record["trace_overhead"] = {k: e2e[k] - base[k] for k in e2e if k in base}
    (runs / f"{name}.json").write_text(json.dumps(record, indent=1, default=str))
    if args.trace:
        tracer.dump(runs / f"{name}-spans.json", {"workload": args.workload, "seed": args.seed})
    shutil.rmtree(work, ignore_errors=True)

    print(f"# weather {json.dumps(record['weather'])}")
    print(json.dumps({
        "correct": out["failed"] == 0,
        "attempted": out["attempted"],
        "failed": out["failed"],
        "metrics": report,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
