"""Seeded input generators. The same seed always yields byte-identical
files; nothing here reads the clock or any file outside the output
directory.

- ``write_cdc_inputs``: snapshot sources, a sync spec and a backlog of
  CDC event files for three mapped tables.
- ``write_corpus``: the ten-table corpus the registry queries read
  (TPC-H-like star schema, an event stream, documents, embeddings).
"""

from __future__ import annotations

import json
import random
from datetime import datetime
from pathlib import Path

EVENTS_PER_FILE = 500
# op mix of the streaming bench: inserts, updates, deletes,
# primary-key changes, and 1% null-key events bound for the DLQ
MIX = [("insert", 0.60), ("update", 0.25), ("delete", 0.10), ("pk_change", 0.04), ("bad", 0.01)]

# events are spread unevenly over the tables: every backlog file is one
# table's change buffer, the tables taking turns in FILE_ORDER (so every
# seed drains the same table sequence). accounts is the large target;
# profiles carries one masked and one encrypted field
CDC_TABLES = {
    "accounts": {
        "snapshot_rows": 10_000,
        "columns": [("id", "long"), ("name", "string"), ("balance", "double")],
    },
    "orders": {
        "snapshot_rows": 2_000,
        "columns": [("id", "long"), ("customer", "long"), ("amount", "double"), ("status", "string")],
    },
    "profiles": {
        "snapshot_rows": 1_000,
        "columns": [("id", "long"), ("email", "string"), ("phone", "string"), ("score", "double")],
    },
}
SECURITY = {"profiles": [{"field": "email", "securityType": "masked"},
                         {"field": "phone", "securityType": "encrypted"}]}
FILE_ORDER = ["accounts", "accounts", "profiles", "orders", "accounts", "orders", "accounts"]
KEY_BASE = 10_000_000  # inserted keys start above every snapshot key


def _row(table: str, key: int, rnd: random.Random, tag: str) -> dict:
    if table == "accounts":
        return {"id": key, "name": f"{tag}{key}", "balance": round(rnd.uniform(0, 10_000), 2)}
    if table == "orders":
        return {
            "id": key,
            "customer": rnd.randrange(5_000),
            "amount": round(rnd.uniform(1, 2_000), 2),
            "status": rnd.choice(["new", "paid", "shipped", "returned"]),
        }
    return {
        "id": key,
        "email": f"{tag}{key}@example{rnd.randrange(10)}.com",
        "phone": f"+81-{rnd.randrange(10**8):08d}",
        "score": round(rnd.uniform(0, 1), 4),
    }


def sync_spec() -> dict:
    """The sync task the pipeline runs, in the spec's JSON shape."""
    return {
        "taskId": 1,
        "type": "parquet",
        "mappings": [
            {
                "sourceDatabase": "src",
                "targetDatabase": "tgt",
                "tables": [{"sourceTable": t, "targetTable": t} for t in CDC_TABLES],
            }
        ],
        "fieldSecurity": SECURITY,
        "pkColumns": {t: ["id"] for t in CDC_TABLES},
    }


def write_cdc_inputs(out: Path, seed: int, n_files: int) -> dict:
    """Write ``snapshot/<table>.jsonl``, ``spec.json`` and
    ``backlog/events-*.jsonl``; return per-file event and bad counts."""
    from sync_spark.sources.cdc import write_event_batch

    rnd = random.Random(seed)
    snap_dir = out / "snapshot"
    snap_dir.mkdir(parents=True, exist_ok=True)
    live: dict[str, list[int]] = {}
    for table, cfg in CDC_TABLES.items():
        rows = [_row(table, k, rnd, "s") for k in range(cfg["snapshot_rows"])]
        live[table] = [r["id"] for r in rows]
        with open(snap_dir / f"{table}.jsonl", "w") as fh:
            for r in rows:
                fh.write(json.dumps(r) + "\n")
    (out / "spec.json").write_text(json.dumps(sync_spec(), indent=1) + "\n")

    tables = list(CDC_TABLES)
    ops = [op for op, _ in MIX]
    weights = [w for _, w in MIX]
    next_key = {t: KEY_BASE for t in tables}
    seq = 0
    files = []
    for b in range(1, n_files + 1):
        events = []
        bad = 0
        table = FILE_ORDER[(b - 1) % len(FILE_ORDER)]
        for _ in range(EVENTS_PER_FILE):
            seq += 1
            op = rnd.choices(ops, weights)[0]
            keys = live[table]
            if op in ("update", "delete", "pk_change") and not keys:
                op = "insert"
            ev: dict = {"seq": seq, "ts": None, "source_table": table}
            if op == "insert":
                next_key[table] += 1
                k = next_key[table]
                keys.append(k)
                ev.update(op="insert", key_json=json.dumps({"id": k}),
                          after_json=json.dumps(_row(table, k, rnd, "i")))
            elif op == "update":
                k = keys[rnd.randrange(len(keys))]
                ev.update(op="update", key_json=json.dumps({"id": k}),
                          after_json=json.dumps(_row(table, k, rnd, f"u{seq}-")))
            elif op == "delete":
                k = keys.pop(rnd.randrange(len(keys)))
                ev.update(op="delete", key_json=json.dumps({"id": k}), after_json=None)
            elif op == "pk_change":
                old = keys.pop(rnd.randrange(len(keys)))
                next_key[table] += 1
                k = next_key[table]
                keys.append(k)
                ev.update(op="update", key_json=json.dumps({"id": k}),
                          before_key_json=json.dumps({"id": old}),
                          after_json=json.dumps(_row(table, k, rnd, f"pk{seq}-")))
            else:
                bad += 1
                row = _row(table, 0, rnd, "bad")
                row["id"] = None
                ev.update(op="insert", key_json=json.dumps({"id": None}),
                          after_json=json.dumps(row))
            events.append(ev)
        path = write_event_batch(str(out / "backlog"), events, b)
        files.append({"name": Path(path).name, "events": len(events), "bad": bad})
    return {"files": files, "lookup_keys": sorted(rnd.sample(range(1_000), 40))}


# -- corpus -------------------------------------------------------------------

WORDS = (
    "join hash row batch scan column customer filter small slow merge order vector "
    "line table data agg value key stream window a spark part group big sort query "
    "fast the"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def corpus_sizes(sf: float) -> dict:
    return {
        "customer": int(150_000 * sf),
        "supplier": max(10, int(10_000 * sf)),
        "part": int(200_000 * sf),
        "orders": int(1_500_000 * sf),
        "lineitem": int(6_000_000 * sf),
        "events": int(1_000_000 * sf),
        # the dedup oracles compare every document pair, so the
        # document count stays small enough for a per-run check
        "documents": max(250, int(40_000 * sf)),
        "embeddings": max(500, int(20_000 * sf)),
    }


def write_corpus(out: Path, seed: int, sf: float) -> dict:
    """Write one parquet file per table; return the row counts."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    n = corpus_sizes(sf)
    out.mkdir(parents=True, exist_ok=True)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    def money(lo, hi, k):
        return np.round(rng.uniform(lo, hi, k), 2)

    def days(start, end, k):
        span = (end - start).days
        base = np.datetime64(start.date(), "us")
        return base + rng.integers(0, span + 1, k).astype("timedelta64[D]").astype("timedelta64[us]")

    def pick(options, k):
        return np.array(options, dtype=object)[rng.integers(0, len(options), k)]

    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), i32),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }),
    }
    k = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(k), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(k)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, k), i32),
        "c_acctbal": pa.array(money(-999.99, 9999.99, k), f64),
        "c_mktsegment": pa.array(pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], k), s),
    })
    k = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(k), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(k)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, k), i32),
        "s_acctbal": pa.array(money(-999.99, 9999.99, k), f64),
    })
    k = n["part"]
    adjectives = ["small", "red", "blue", "green", "large", "steel", "brass", "matte"]
    nouns = ["ring", "widget", "bolt", "gear", "valve", "panel", "spring", "clip"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(k), i64),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(pick(adjectives, k), pick(nouns, k))], s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, k)], s),
        "p_type": pa.array(pick(["ECONOMY", "SMALL", "STANDARD", "LARGE", "MEDIUM", "PROMO"], k), s),
        "p_size": pa.array(rng.integers(1, 51, k), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(k) % 1000) / 10, 2), f64),
    })
    k = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(k), i64),
        "o_custkey": pa.array(rng.integers(0, n["customer"], k), i64),
        "o_orderstatus": pa.array(pick(["F", "O", "P"], k), s),
        "o_totalprice": pa.array(money(1000, 500_000, k), f64),
        "o_orderdate": pa.array(days(datetime(1995, 1, 1), datetime(2001, 8, 1), k), ts),
        "o_orderpriority": pa.array(pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], k), s),
    })
    k = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], k), i64),
        "l_partkey": pa.array(rng.integers(0, n["part"], k), i64),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], k), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, k), i32),
        "l_quantity": pa.array(rng.integers(1, 51, k).astype(float), f64),
        "l_extendedprice": pa.array(money(900, 100_000, k), f64),
        "l_discount": pa.array(rng.integers(0, 11, k) / 100, f64),
        "l_tax": pa.array(rng.integers(0, 9, k) / 100, f64),
        "l_returnflag": pa.array(pick(["A", "N", "R"], k), s),
        "l_linestatus": pa.array(pick(["F", "O"], k), s),
        "l_shipdate": pa.array(days(datetime(1995, 1, 2), datetime(2001, 11, 4), k), ts),
    })
    k = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400 * 10**6, k)).astype("timedelta64[us]")
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(k), i64),
        "ts": pa.array(start + offsets, ts),
        "user_id": pa.array(rng.integers(0, 150, k), i64),
        "event_type": pa.array(pick(["click", "error", "purchase", "signup", "view"], k), s),
        "value": pa.array(money(0.01, 490.02, k), f64),
        "props": pa.array([json.dumps({"k": int(v)}) for v in rng.integers(0, 100, k)], s),
    })
    k = n["documents"]
    texts: list[str] = []
    for i in range(k):
        if i > 10 and rng.random() < 0.05:
            # a near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(pick(WORDS, int(rng.integers(8, 30)))))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(k), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(pick(LANGS, k), s),
        "source": pa.array([f"src{v}" for v in rng.integers(0, 20, k)], s),
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    k = n["embeddings"]
    vecs = rng.normal(size=(k, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(k), i64),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, k), i32),
    })
    for name, table in tables.items():
        pq.write_table(table, out / f"{name}.parquet")
    return {name: t.num_rows for name, t in tables.items()}
