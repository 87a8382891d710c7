#!/usr/bin/env python
"""Capture .explain("formatted") for every benched registry query.

Usage: python scripts/capture_plans.py OUT_DIR [--suffix S] [--sf-dir DIR]
Writes OUT_DIR/<name>_<suffix>.txt (suffix defaults to "before").

Run-to-run noise is normalized away so that two captures of the same
plans (say, of a parent and a child commit) diff cleanly: expression
ids (``doc_id#123L``), exchange plan ids (``plan_id=45``), object
hashes (``@a4037c67``), ``uuid()`` random seeds and the digest/pid
suffixes of generated table and index names
(``ps_pairs_ddbe1476c5_25032``).
"""
import argparse
import os
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from sync_spark.registry import all_queries
from sync_spark.session import get_spark

_NOISE = [
    (re.compile(r"#\d+"), "#N"),
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"@[0-9a-f]{6,}\b"), "@H"),
    (re.compile(r"uuid\(Some\(-?\d+\)\)"), "uuid(Some(N))"),
    (re.compile(r"_[0-9a-f]{10,12}(_\d+)?\b"), "_H"),
    (re.compile(r"\b(_gen_alias|__\w+?)_\d+\b"), r"\1_N"),
]


def normalize(plan: str) -> str:
    for pat, repl in _NOISE:
        plan = pat.sub(repl, plan)
    return plan


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir", type=Path)
    ap.add_argument("--suffix", default="before")
    env_sf = os.environ.get("SPARK_GRAFT_SF_DIR")
    ap.add_argument("--sf-dir", default=env_sf, required=env_sf is None,
                    help="corpus directory (default: $SPARK_GRAFT_SF_DIR)")
    args = ap.parse_args()
    args.out_dir.mkdir(parents=True, exist_ok=True)
    spark = get_spark("plan_capture")
    for name, spec in sorted(all_queries().items()):
        if name.startswith("chk_"):
            continue
        try:
            df = spec.spark_fn(spark, args.sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as ex:  # capture the failure, keep going
            plan = f"ERROR: {ex}"
        (args.out_dir / f"{name}_{args.suffix}.txt").write_text(normalize(plan))
        print(name, flush=True)


if __name__ == "__main__":
    main()
