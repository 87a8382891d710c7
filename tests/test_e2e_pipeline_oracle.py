"""The one e2e oracle previously not mechanized (round-5 stretch):
a deterministic-seed event mix through the FULL CdcPipeline —
snapshot → multi-batch CDC (inserts/updates/deletes/PK-changes/bad
rows) → DLQ replay with a repair → final drain — checked against a
DuckDB fold of the SAME event log.

The fold is the reference's compareDataConsistency semantics
(single-threaded ordered apply, common_test.go:36-40) written as one
DuckDB query over the log's jsonl files themselves: every event
(including the re-stamped replay batch the pipeline appended) becomes
an action row, PK-changing updates expand into an old-key delete +
new-key upsert, the snapshot seeds seq-0 inserts, and the final state
is argmax-seq per key, kept if it is an upsert. Because replay_dlq
re-stamps above the log max, max-seq-wins equals the pipeline's
batch-ordered apply."""

from __future__ import annotations

import json
import os
import sys
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from bench_streaming import build_log  # noqa: E402
from sync_spark.spec import SyncSpec
from sync_spark.streaming.pipeline import CdcPipeline, TableTarget, replay_dlq, snapshot_if_empty

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("name", T.StringType()),
        T.StructField("balance", T.DoubleType()),
    ]
)


def _duckdb_fold(event_dir: str, snapshot_rows: list[tuple]) -> dict:
    """Final {id: (name, balance)} per the ordered-apply oracle."""
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE snap(id BIGINT, name VARCHAR, balance DOUBLE)"
    )
    con.executemany("INSERT INTO snap VALUES (?, ?, ?)", snapshot_rows)
    pattern = os.path.join(event_dir, "events-*.jsonl")
    rows = con.execute(
        f"""
WITH ev AS (
  SELECT * FROM read_json_auto('{pattern}', union_by_name=true)
), actions AS (
  -- the event's own action (null-key rows never reached the target)
  SELECT CAST(json_extract(key_json, '$.id') AS BIGINT) AS id,
         seq,
         CASE WHEN op = 'delete' THEN 'delete' ELSE 'upsert' END AS act,
         json_extract_string(after_json, '$.name') AS name,
         CAST(json_extract(after_json, '$.balance') AS DOUBLE) AS balance
  FROM ev
  WHERE json_extract(key_json, '$.id') IS NOT NULL
  UNION ALL
  -- PK-changing update: the before-image key is deleted at the same seq
  SELECT CAST(json_extract(before_key_json, '$.id') AS BIGINT),
         seq, 'delete', NULL, NULL
  FROM ev
  WHERE before_key_json IS NOT NULL
    AND json_extract(before_key_json, '$.id')
        IS DISTINCT FROM json_extract(key_json, '$.id')
  UNION ALL
  SELECT id, 0, 'upsert', name, balance FROM snap
), latest AS (
  SELECT id, act, name, balance,
         ROW_NUMBER() OVER (PARTITION BY id ORDER BY seq DESC) AS rn
  FROM actions
)
SELECT id, name, balance FROM latest WHERE rn = 1 AND act = 'upsert'
"""
    ).fetchall()
    con.close()
    return {r[0]: (r[1], r[2]) for r in rows}


@pytest.mark.parametrize("seed", [7, 23])
def test_full_pipeline_matches_duckdb_fold(spark, tmp_path, seed):
    from sync_spark.sources.bucketed import read_target
    from sync_spark.sources.snapshots import snapshot_create, snapshot_diff

    dirs = {k: str(tmp_path / k) for k in ["events", "target", "ckpt", "dlq"]}
    snap_rows = [(i, f"s{i}", float(i)) for i in range(200)]
    src = spark.createDataFrame([Row(id=i, name=n, balance=b) for i, n, b in snap_rows], SCHEMA)
    assert snapshot_if_empty(spark, src, dirs["target"], key_cols=["id"])

    counts = build_log(dirs["events"], n_batches=4, per_batch=120, seed=seed)
    assert counts["bad"] > 0 and counts["pk_change"] > 0, "mix must cover all legs"

    def mk_pipe():
        return CdcPipeline(
            spark,
            SyncSpec(task_id=1, type="parquet"),
            [TableTarget("accounts", dirs["target"], SCHEMA, ["id"])],
            event_log_dir=dirs["events"],
            checkpoint_dir=dirs["ckpt"],
            dlq_path=dirs["dlq"],
            max_files_per_trigger=2,  # force multiple micro-batches
        )

    mk_pipe().run_available()
    v_before = snapshot_create(spark, dirs["target"], note="pre-replay")

    # repair: quarantined null-key rows get fresh deterministic ids
    base = 5_000_000 + seed

    def fix(df):
        w_id = F.when(
            F.col("id").isNull(), base + F.row_number().over(
                __import__("pyspark.sql.window", fromlist=["Window"]).Window.orderBy("seq")
            )
        ).otherwise(F.col("id"))
        return df.withColumn("id", w_id)

    replayed, remaining = replay_dlq(
        spark, dirs["dlq"], dirs["events"], "accounts", SCHEMA, ["id"], fix=fix
    )
    assert replayed == counts["bad"] and remaining == 0
    mk_pipe().run_available()
    v_after = snapshot_create(spark, dirs["target"], note="post-replay")

    # snapshot diff between the two versions = exactly the replayed keys
    diff = {
        (r.id, r.change)
        for r in snapshot_diff(spark, dirs["target"], v_before, v_after, ["id"]).collect()
    }
    assert diff == {(base + i, "added") for i in range(1, counts["bad"] + 1)}

    got = {
        r.id: (r.name, r.balance)
        for r in read_target(spark, dirs["target"]).collect()
    }
    want = _duckdb_fold(dirs["events"], snap_rows)
    assert got == want
    assert len(got) > 200  # net inserts landed
