"""Self-tests of the benchmark: ``python3 -m pytest perfbench -q``.

The smoke runs (``--seconds 1``: a few CDC triggers, one query pass)
start Spark and take about a minute each; the other tests need no
session.
"""

from __future__ import annotations

import filecmp
import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench import gen, manifest
from perfbench.harness import Tracer

ROOT = Path(__file__).resolve().parent.parent


def _same_tree(a: Path, b: Path) -> bool:
    files_a = sorted(p.relative_to(a) for p in a.rglob("*") if p.is_file())
    files_b = sorted(p.relative_to(b) for p in b.rglob("*") if p.is_file())
    return files_a == files_b and all(
        filecmp.cmp(a / f, b / f, shallow=False) for f in files_a
    )


def test_same_seed_same_cdc_inputs(tmp_path):
    info_a = gen.write_cdc_inputs(tmp_path / "a", seed=5, n_files=4)
    info_b = gen.write_cdc_inputs(tmp_path / "b", seed=5, n_files=4)
    assert info_a == info_b
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    other = gen.write_cdc_inputs(tmp_path / "c", seed=6, n_files=4)
    assert not _same_tree(tmp_path / "a", tmp_path / "c")
    assert other["files"][0]["name"] == info_a["files"][0]["name"]


def test_same_seed_same_corpus(tmp_path):
    rows_a = gen.write_corpus(tmp_path / "a", seed=5, sf=0.001)
    rows_b = gen.write_corpus(tmp_path / "b", seed=5, sf=0.001)
    assert rows_a == rows_b
    assert _same_tree(tmp_path / "a", tmp_path / "b")


def test_manifest_file_matches_declarations():
    assert (ROOT / "BENCHMARK.json").read_text() == manifest.manifest_text()


def test_manifest_within_contract():
    m = manifest.manifest()
    names = [x["name"] for x in m["end_to_end"] + m["per_layer"]]
    assert len(names) == len(set(names))
    assert 2 <= len(m["workloads"]) <= 8 and 1 <= len(m["per_layer"]) <= 128
    assert all(0 < x["bound"] <= 0.25 for x in m["end_to_end"])
    setup = next(x for x in m["end_to_end"] if x["name"] == "setup_s")
    assert setup["bound"] == max(x["bound"] for x in m["end_to_end"])
    assert not [n for n in manifest.QUERY_SUITE if n.startswith("chk_")]


def test_query_suite_covers_every_operator_module():
    from sync_spark.registry import all_queries

    registry = all_queries()
    modules = {s.spark_fn.__module__ for n, s in registry.items() if not n.startswith("chk_")}
    chosen = {registry[n].spark_fn.__module__ for n in manifest.QUERY_SUITE}
    assert chosen == modules
    assert set(manifest.QUERY_SUITE.values()) == set(manifest.FAMILIES)


def test_self_time_subtracts_children():
    t = Tracer()
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.spans
    selfs = t.self_times()
    assert inner["parent"] == outer["id"]
    whole = outer["end"] - outer["start"]
    assert selfs[outer["id"]] == pytest.approx(whole - (inner["end"] - inner["start"]))


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path / "BENCHMARK.json")
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "cdc_catchup", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def _smoke(workload: str, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["cdc_catchup", "query_suite"])
def test_smoke_run_emits_declared_metrics(workload):
    out = _smoke(workload, 0)
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
    declared = {x["name"]: x["unit"] for x in manifest.manifest()["end_to_end"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == declared
    assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload", ["cdc_catchup", "query_suite"])
def test_traced_run_emits_every_layer_metric(workload):
    out = _smoke(workload, 1)
    assert out["correct"]
    declared = {x["name"]: x["unit"] for x in manifest.manifest()["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == declared
    exercised = manifest.LAYERS_BY_WORKLOAD[workload]
    gauges = [n for n in exercised if n.endswith(("_per_batch", ".jobs", ".tasks"))]
    assert gauges and all(out["metrics"][n]["value"] > 0 for n in gauges)
    # the job/stage/task gauges are counts, so a second run with the
    # same seed must repeat them exactly
    again = _smoke(workload, 1)
    assert {n: again["metrics"][n]["value"] for n in gauges} == {
        n: out["metrics"][n]["value"] for n in gauges
    }
