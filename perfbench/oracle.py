"""Independent reference results, computed with DuckDB outside every
timed region.

- ``fold_events``: the final state of one CDC table as a single-threaded
  ordered apply of the snapshot plus the event log (max seq wins per
  key; a PK-changing update deletes its old key at the same seq).
- ``frame_hash``: the order-free hash the registry's correctness gate
  uses (columns sorted by name, rows stringified and sorted).

``python3 -m perfbench.oracle`` hashes query results in a process of
its own: it reads ``{"corpus", "tables", "sqls"}`` as JSON on standard
input and writes ``{name: hash}`` as JSON on standard output.
"""

from __future__ import annotations

import hashlib
import json
import sys

import duckdb
import pandas as pd


def fold_events(snapshot_jsonl: str, event_files: list[str], table: str, columns: list[str]) -> pd.DataFrame:
    """Rows of ``table`` after applying ``event_files`` in seq order."""
    con = duckdb.connect()
    try:
        cols = ", ".join(columns)
        after = ", ".join(
            f"json_extract_string(after_json, '$.{c}') AS {c}" for c in columns if c != "id"
        )
        nulls = ", ".join(f"NULL AS {c}" for c in columns if c != "id")
        snap_cols = ", ".join(f"CAST({c} AS VARCHAR) AS {c}" for c in columns if c != "id")
        files = "[" + ", ".join(f"'{f}'" for f in event_files) + "]"
        ev = (
            f"SELECT * FROM read_json({files}, format='newline_delimited', columns={{"
            "op: 'VARCHAR', seq: 'BIGINT', source_table: 'VARCHAR', key_json: 'VARCHAR', "
            "after_json: 'VARCHAR', before_key_json: 'VARCHAR'})"
            if event_files
            else "SELECT NULL::VARCHAR AS op, NULL::BIGINT AS seq, NULL::VARCHAR AS source_table, "
            "NULL::VARCHAR AS key_json, NULL::VARCHAR AS after_json, "
            "NULL::VARCHAR AS before_key_json WHERE false"
        )
        return con.execute(
            f"""
WITH ev AS ({ev}), t AS (SELECT * FROM ev WHERE source_table = '{table}'),
actions AS (
  SELECT CAST(json_extract(key_json, '$.id') AS BIGINT) AS id, seq,
         CASE WHEN op = 'delete' THEN 'delete' ELSE 'upsert' END AS act, {after}
  FROM t WHERE json_extract(key_json, '$.id') IS NOT NULL
    AND json_extract_string(key_json, '$.id') IS NOT NULL
  UNION ALL
  SELECT CAST(json_extract(before_key_json, '$.id') AS BIGINT), seq, 'delete', {nulls}
  FROM t WHERE before_key_json IS NOT NULL
    AND json_extract(before_key_json, '$.id') IS DISTINCT FROM json_extract(key_json, '$.id')
  UNION ALL
  SELECT id, 0, 'upsert', {snap_cols}
  FROM read_json('{snapshot_jsonl}', format='newline_delimited')
), latest AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY seq DESC) AS rn FROM actions
)
SELECT {cols} FROM latest WHERE rn = 1 AND act = 'upsert' ORDER BY id
"""
        ).fetchdf()
    finally:
        con.close()


def frame_hash(df: pd.DataFrame) -> str:
    df = df.reindex(sorted(df.columns), axis=1)
    rows = sorted(tuple(str(x) for x in r) for r in df.itertuples(index=False))
    return hashlib.sha256(str(rows).encode()).hexdigest()[:16]


def corpus_connection(corpus_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in tables:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{corpus_dir}/{name}.parquet')")
    return con


def main() -> None:
    req = json.load(sys.stdin)
    con = corpus_connection(req["corpus"], req["tables"])
    try:
        hashes = {name: frame_hash(con.execute(sql).fetchdf()) for name, sql in req["sqls"].items()}
    finally:
        con.close()
    json.dump(hashes, sys.stdout)


if __name__ == "__main__":
    main()
