#!/usr/bin/env python
"""Fire-on-calm artifact runner: poll the DuckDB-q1 weather gauge
(calm reference 0.05-0.065s on this box; >=0.09s = the invisible-
contention mode, see SCALE.md) and, when N consecutive medians read
below --gate, run the artifact commands in order, re-checking the
gate between commands. Each command's stdout goes to its own file
under --outdir; progress to stderr, one ``DONE`` line per command
with its return code. Stops after the command list completes once,
or at --hours, then prints a JSON summary of completed / failed /
not-run commands and exits non-zero if any command failed or did not
run."""
import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from sync_spark.registry import all_queries
from sync_spark.testing import duckdb_conn


def gauge(con, sql) -> float:
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        con.execute(sql).fetchall()
        runs.append(time.perf_counter() - t0)
    return sorted(runs)[1]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--gate", type=float, default=0.08)
    ap.add_argument("--need", type=int, default=2, help="consecutive calm reads")
    ap.add_argument("--interval", type=float, default=120.0)
    ap.add_argument("--hours", type=float, default=5.0)
    ap.add_argument("--outdir", default="/tmp/calm_artifacts")
    args = ap.parse_args()

    outdir = Path(args.outdir)
    outdir.mkdir(parents=True, exist_ok=True)
    con = duckdb_conn("/root/testdata/sf0.1")
    sql = all_queries()["q1_pricing_summary"].oracle
    con.execute(sql).fetchall()  # warm

    cmds = [
        ("sf1_full", [sys.executable, "bench_sf1_full.py", "--out",
                      str(outdir / "BENCH_sf1_full_new.json")]),
        ("sf01_spark", [sys.executable, "bench.py"]),
        ("sf01_duck", [sys.executable, "bench_duckdb.py"]),
    ]
    t_end = time.time() + args.hours * 3600
    streak = 0
    i = 0
    completed: list[str] = []
    failed: list[dict] = []
    while i < len(cmds) and time.time() < t_end:
        m = gauge(con, sql)
        print(json.dumps({"t": round(time.time(), 1), "gauge": round(m, 4),
                          "streak": streak, "next": cmds[i][0]}),
              file=sys.stderr, flush=True)
        if m <= args.gate:
            streak += 1
        else:
            streak = 0
        if streak >= args.need:
            name, cmd = cmds[i]
            print(f"FIRING {name}", file=sys.stderr, flush=True)
            with open(outdir / f"{name}.out", "w") as so, \
                 open(outdir / f"{name}.err", "w") as se:
                rc = subprocess.run(cmd, stdout=so, stderr=se, cwd=REPO).returncode
            print(f"DONE {name} returncode={rc}", file=sys.stderr, flush=True)
            if rc == 0:
                completed.append(name)
            else:
                failed.append({"name": name, "returncode": rc})
            i += 1
            streak = 0  # re-confirm calm before the next command
            continue
        time.sleep(args.interval)
    not_run = [name for name, _ in cmds[i:]]
    print(json.dumps({"completed": completed, "failed": failed, "not_run": not_run}))
    return 1 if failed or not_run else 0


if __name__ == "__main__":
    sys.exit(main())
