"""Library surface guard: every top-level ``sync_spark`` definition is
reached by code outside ``tests/`` (another library module, the CLI,
the registry, ``perfbench/``, the root scripts), or is listed below.

A listed definition is one that only tests call and that stays on
purpose: either a COVERAGE.md row names it (or its module) as a SURVEY
operator's implementation, or a test uses it as an independent
reference. Anything else that only tests reach is library code kept
alive by its own tests, and this guard fails on it.

References are found by an AST scan: every identifier, attribute name,
imported name and identifier-shaped string constant counts as a use of
every definition with that name, except the uses inside the
definition itself. Matching by bare name can only over-count uses, so
the guard never flags a definition that something reaches.
"""

from __future__ import annotations

import ast
import os
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
LIBRARY = "sync_spark"
CALLER_DIRS = ("sync_spark", "perfbench", "scripts")

# "module.py:name" -> ("row", start of a COVERAGE.md row's first cell)
#                  or ("reference", the test file that uses it)
TEST_ONLY = {
    "functions/multimodal.py:image_stats": ("row", "Multimodal columns"),
    "functions/multimodal.py:resize_meta": ("row", "Multimodal columns"),
    "functions/schema_utils.py:flatten_schema": ("row", "Schema inference / flatten"),
    "functions/schema_utils.py:infer_json_schema": ("row", "Schema inference / flatten"),
    "functions/schema_utils.py:select_dotted": ("row", "Schema inference / flatten"),
    "functions/security.py:mask_cli_password": ("row", "F18"),
    "functions/security.py:mask_credentials_col": ("row", "F18"),
    "functions/security.py:mask_uri_credentials": ("row", "F18"),
    "operators/ann_index.py:ann_index_topk": ("row", "Persisted ANN (LSH) index"),
    "operators/ann_index.py:extend_ann_index": ("row", "Persisted ANN (LSH) index"),
    "operators/ann_index.py:remove_from_ann_index": ("row", "Persisted ANN (LSH) index"),
    "operators/dedup.py:BLOOM_M_BITS": ("row", "Bloom-filter decontamination"),
    "operators/incremental.py:build_fp_index": ("row", "Incremental corpus dedup"),
    "operators/incremental.py:extend_fp_index": ("row", "Incremental corpus dedup"),
    "operators/incremental.py:probe_fp_index": ("row", "Incremental corpus dedup"),
    "operators/incremental.py:remove_from_fp_index": ("row", "Incremental corpus dedup"),
    "operators/kv.py:keyspace_size": ("row", "A4"),
    "operators/kv.py:restore_replace": ("row", "S7"),
    "operators/merge.py:compact_latest_per_key": ("reference", "tests/test_kafka_envelope.py"),
    "operators/monitor.py:consistency_alerts": ("row", "T11 (daily summary)"),
    "operators/monitor.py:daily_table_delta": ("row", "A5"),
    "operators/monitor.py:grand_totals": ("row", "A7"),
    "operators/monitor.py:humanize_bytes": ("row", "F19"),
    "operators/monitor.py:jst_daily_stats": ("row", "A8"),
    "operators/monitor.py:metrics_scan": ("row", "O1"),
    "operators/monitor.py:recent_logs": ("row", "O2"),
    "operators/retrieval.py:bm25_index_topk": ("row", "Persisted BM25 inverted index"),
    "operators/retrieval.py:extend_bm25_index": ("row", "Persisted BM25 inverted index"),
    "operators/retrieval.py:remove_from_bm25_index": ("row", "Persisted BM25 inverted index"),
    "operators/retrieval.py:rrf_fuse_ranked": ("row", "Dense+sparse hybrid retrieval"),
    "operators/skew.py:hot_keys": ("row", "Skew handling"),
    "operators/skew.py:salted_agg": ("row", "Skew handling"),
    "operators/skew.py:skew_broadcast_join": ("row", "Skew handling"),
    "sources/cdc.py:KAFKA_RAW_SCHEMA": ("row", "S2"),
    "sources/cdc.py:debezium_envelope": ("row", "S2"),
    "sources/cdc.py:prune_event_log": ("row", "S10"),
    "sources/jdbc.py:predicate_partitions": ("row", "JDBC partitioned reads"),
    "sources/jdbc.py:read_jdbc": ("row", "JDBC partitioned reads"),
    "sources/jdbc.py:write_jdbc": ("row", "JDBC partitioned reads"),
    "sources/jdbc_dialects.py:decimal_custom_schema": ("row", "JDBC dialect profiles"),
    "sources/jdbc_dialects.py:quote_ident": ("row", "JDBC dialect profiles"),
    "sources/partitioned.py:read_day_range": ("row", "Partitioned layout"),
    "sources/partitioned.py:write_partitioned_by_day": ("row", "Partitioned layout"),
    "streaming/retry.py:run_with_retry": ("row", "Retry guardian"),
    "streaming/stateful.py:running_counters": ("row", "Stateful streaming counters"),
    "streaming/windows.py:dedup_events_within_watermark": ("row", "T4"),
    "streaming/windows.py:jst_daily_window_stats": ("row", "T9"),
    "testing.py:run_compare": ("reference", "tests/test_registry_oracle.py"),
}


def _py_files(top: str):
    for dirpath, dirnames, filenames in os.walk(top):
        dirnames[:] = [d for d in dirnames if not d.startswith((".", "__"))]
        for f in filenames:
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def _uses(node: ast.AST) -> Counter:
    out: Counter = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out[n.id] += 1
        elif isinstance(n, ast.Attribute):
            out[n.attr] += 1
        elif isinstance(n, ast.alias):
            out[n.name.rsplit(".", 1)[-1]] += 1
        elif isinstance(n, ast.Constant) and isinstance(n.value, str) and n.value.isidentifier():
            out[n.value] += 1
    return out


def _definitions(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name, node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        yield n.id, node


def unreached_definitions() -> dict[str, int]:
    """{"module.py:name": number of uses from tests/} for every
    top-level library definition nothing outside tests/ uses."""
    caller_files = [p for d in CALLER_DIRS for p in _py_files(os.path.join(ROOT, d))]
    caller_files += [os.path.join(ROOT, f) for f in os.listdir(ROOT) if f.endswith(".py")]
    test_files = list(_py_files(os.path.join(ROOT, "tests")))
    # perfbench/test_perfbench.py and the like are tests wherever they live
    test_files += [p for p in caller_files if os.path.basename(p).startswith("test_")]
    caller_files = [p for p in caller_files if p not in test_files]

    def parse(path):
        with open(path, encoding="utf-8") as fh:
            return ast.parse(fh.read(), filename=path)

    lib_root = os.path.join(ROOT, LIBRARY)
    trees = {p: parse(p) for p in caller_files}
    caller_uses: Counter = Counter()
    for tree in trees.values():
        caller_uses.update(_uses(tree))
    test_uses: Counter = Counter()
    for p in test_files:
        test_uses.update(_uses(parse(p)))

    out = {}
    for path, tree in trees.items():
        if not path.startswith(lib_root + os.sep):
            continue
        for name, node in _definitions(tree):
            if name.startswith("__"):
                continue
            if caller_uses[name] - _uses(node)[name] <= 0:
                out[f"{os.path.relpath(path, lib_root)}:{name}"] = test_uses[name]
    return out


def test_library_code_is_reached_outside_tests():
    unreached = unreached_definitions()
    unlisted = sorted(k for k in unreached if k not in TEST_ONLY)
    assert not unlisted, (
        "library definitions that nothing outside tests/ uses; delete them, "
        "or list them in TEST_ONLY with their COVERAGE.md row or reference "
        f"test: {unlisted}"
    )
    stale = sorted(k for k in TEST_ONLY if k not in unreached)
    assert not stale, f"TEST_ONLY entries that are gone or now reached: {stale}"
    untested = sorted(k for k, n in unreached.items() if n == 0)
    assert not untested, f"library definitions nothing uses at all: {untested}"


def test_listed_definitions_name_their_justification():
    with open(os.path.join(ROOT, "COVERAGE.md"), encoding="utf-8") as fh:
        rows = [line for line in fh if line.startswith("| ")]
    for key, (kind, where) in TEST_ONLY.items():
        module, name = key.split(":")
        if kind == "row":
            row = [r for r in rows if f"{r.split('|')[1].strip()} ".startswith(f"{where} ")]
            assert row, f"{key}: no COVERAGE.md row is labelled {where!r}"
            stem = os.path.basename(module)[: -len(".py")]
            assert any(s in row[0] for s in (name, f"{stem}.py", f"{stem}.")), (
                f"{key}: COVERAGE.md row {where!r} names neither it nor its module"
            )
        else:
            assert kind == "reference", key
            with open(os.path.join(ROOT, where), encoding="utf-8") as fh:
                assert name in fh.read(), f"{key}: {where} does not use it"
