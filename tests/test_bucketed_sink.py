"""Incremental bucketed CDC target (sources/bucketed.py): untouched
buckets must be byte-identical across batches, touched-bucket reads
must partition-prune, deletes may empty a bucket without losing the
schema, and a micro-batch must issue O(1) probe jobs + one staged
write per non-idle table (not 2 probe jobs × N tables)."""

from __future__ import annotations

import hashlib
import json
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sync_spark.sources.bucketed import (
    BUCKET_COL,
    OLD_PREFIX,
    UNKNOWN_LAYOUT_BUCKETS,
    bucket_expr,
    bucketize_in_place,
    is_bucketed,
    overwrite_buckets,
    read_buckets,
    read_meta,
    read_target,
    recover_interrupted_swaps,
    write_bucketed,
)
from sync_spark.sources.cdc import ENVELOPE_SCHEMA, write_event_batch
from sync_spark.spec import SyncSpec
from sync_spark.streaming.pipeline import CdcPipeline, TableTarget, snapshot_if_empty

SCHEMA = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("v", T.StringType())]
)
N_BUCKETS = 8


def _ev(seq, op, vid, table="users"):
    return {
        "op": op,
        "seq": seq,
        "ts": "2024-01-01T00:00:00Z",
        "source_table": table,
        "key_json": json.dumps({"id": vid}),
        "after_json": json.dumps({"id": vid, "v": f"v{seq}"}) if op != "delete" else None,
    }


def _bucket_of(spark, vid: int, n_buckets: int = N_BUCKETS) -> int:
    return (
        spark.createDataFrame([Row(id=vid)], "id long")
        .select(bucket_expr(["id"], n_buckets).alias("b"))
        .collect()[0]["b"]
    )


def _dir_fingerprint(path: str) -> dict[str, str]:
    """filename → md5 of every file under a bucket dir."""
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            p = os.path.join(root, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, path)] = hashlib.md5(fh.read()).hexdigest()
    return out


def _pipeline(spark, tmp_path, tables=None, cls=CdcPipeline, **kw):
    tables = tables or [
        TableTarget("users", str(tmp_path / "t_users"), SCHEMA, ["id"])
    ]
    return cls(
        spark,
        SyncSpec(task_id=1, type="parquet"),
        tables,
        event_log_dir=str(tmp_path / "ev"),
        checkpoint_dir=str(tmp_path / "ck"),
        **kw,
    )


def test_untouched_buckets_byte_identical(spark, tmp_path):
    tgt = str(tmp_path / "t_users")
    rows = [Row(id=i, v=f"r{i}") for i in range(1, 41)]
    snapshot_if_empty(
        spark,
        spark.createDataFrame(rows, SCHEMA),
        tgt,
        key_cols=["id"],
        n_buckets=N_BUCKETS,
    )
    assert is_bucketed(tgt)

    # pick a key and a bucket that key does NOT hash into
    touched_b = _bucket_of(spark, 1)
    untouched = [
        b for b in range(N_BUCKETS)
        if b != touched_b and os.path.isdir(os.path.join(tgt, f"{BUCKET_COL}={b}"))
    ]
    assert untouched, "need at least one other populated bucket"
    before = {
        b: _dir_fingerprint(os.path.join(tgt, f"{BUCKET_COL}={b}")) for b in untouched
    }

    write_event_batch(str(tmp_path / "ev"), [_ev(1, "update", 1)], 1)
    _pipeline(spark, tmp_path).run_available()

    after = {
        b: _dir_fingerprint(os.path.join(tgt, f"{BUCKET_COL}={b}")) for b in untouched
    }
    assert after == before  # untouched buckets: same files, same bytes
    got = {r.id: r.v for r in read_target(spark, tgt).collect()}
    assert got[1] == "v1" and len(got) == 40


def test_delete_can_empty_a_bucket(spark, tmp_path):
    tgt = str(tmp_path / "t_users")
    snapshot_if_empty(
        spark,
        spark.createDataFrame([Row(id=1, v="a"), Row(id=2, v="b")], SCHEMA),
        tgt,
        key_cols=["id"],
        n_buckets=N_BUCKETS,
    )
    b1, b2 = _bucket_of(spark, 1), _bucket_of(spark, 2)
    write_event_batch(str(tmp_path / "ev"), [_ev(1, "delete", 1)], 1)
    _pipeline(spark, tmp_path).run_available()

    got = {r.id for r in read_target(spark, tgt).collect()}
    assert got == {2}
    if b1 != b2:
        # the emptied bucket dir stays readable (schema-only parquet)
        sub = spark.read.parquet(os.path.join(tgt, f"{BUCKET_COL}={b1}"))
        assert sub.count() == 0 and set(sub.columns) == {"id", "v"}


def test_legacy_flat_target_migrates_once(spark, tmp_path):
    tgt = str(tmp_path / "t_users")
    snapshot_if_empty(spark, spark.createDataFrame([Row(id=1, v="a")], SCHEMA), tgt)
    assert not is_bucketed(tgt)
    write_event_batch(str(tmp_path / "ev"), [_ev(1, "insert", 2)], 1)
    _pipeline(spark, tmp_path).run_available()
    assert is_bucketed(tgt)
    assert {r.id for r in read_target(spark, tgt).collect()} == {1, 2}


def test_touched_bucket_read_partition_prunes(spark, tmp_path):
    tgt = str(tmp_path / "t_users")
    rows = [Row(id=i, v=f"r{i}") for i in range(1, 41)]
    snapshot_if_empty(
        spark,
        spark.createDataFrame(rows, SCHEMA),
        tgt,
        key_cols=["id"],
        n_buckets=N_BUCKETS,
    )
    df = read_buckets(spark, tgt, [_bucket_of(spark, 1)])
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and BUCKET_COL in plan


def test_one_probe_job_per_batch_not_per_table(spark, tmp_path):
    """8 mapped tables, events for 1: the batch must cost one summary
    job + the single merge's jobs — nowhere near the 2-probes-per-
    table round-1 behavior (≥16 jobs before any merge work)."""
    tables = []
    for i in range(8):
        tgt = str(tmp_path / f"t_{i}")
        snapshot_if_empty(
            spark,
            spark.createDataFrame([Row(id=1, v="a")], SCHEMA),
            tgt,
            key_cols=["id"],
            n_buckets=N_BUCKETS,
        )
        tables.append(TableTarget(f"tab{i}", tgt, SCHEMA, ["id"]))
    write_event_batch(
        str(tmp_path / "ev"), [_ev(1, "update", 1, table="tab3")], 1
    )
    p = _pipeline(spark, tmp_path, tables=tables)
    batch = spark.read.schema(ENVELOPE_SCHEMA).json(str(tmp_path / "ev"))

    sc = spark.sparkContext
    group = "probe-count-test"
    sc.setJobGroup(group, "count jobs in one micro-batch", False)
    try:
        p._apply_batch(batch, 0)
    finally:
        sc.setJobGroup("", "", False)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    # 1 summary + merge staging (+ a couple of AQE sub-jobs); the old
    # per-table probing alone was 16 jobs for this shape
    assert 0 < n_jobs <= 10, f"micro-batch ran {n_jobs} jobs"


# ---------------------------------------------------------------------------
# crash-safety / contract hardening
# ---------------------------------------------------------------------------


def _snapshot40(spark, tgt):
    rows = [Row(id=i, v=f"r{i}") for i in range(1, 41)]
    snapshot_if_empty(
        spark,
        spark.createDataFrame(rows, SCHEMA),
        tgt,
        key_cols=["id"],
        n_buckets=N_BUCKETS,
    )


def test_crash_between_renames_recovers_old_bucket(spark, tmp_path):
    """Simulate a crash between _swap_dir's two renames: the live
    bucket dir is gone, only the parked copy exists. A replayed merge
    must see the parked rows, not an empty bucket (ADVICE T4 item)."""
    tgt = str(tmp_path / "t_users")
    _snapshot40(spark, tgt)
    b = _bucket_of(spark, 1)
    live = os.path.join(tgt, f"{BUCKET_COL}={b}")
    os.rename(live, os.path.join(tgt, f"{OLD_PREFIX}{BUCKET_COL}={b}"))

    # read path recovers transparently
    got = {r.id: r.v for r in read_target(spark, tgt).collect()}
    assert len(got) == 40 and got[1] == "r1"
    assert os.path.isdir(live)

    # and a replayed merge through the pipeline sees the restored rows
    os.rename(live, os.path.join(tgt, f"{OLD_PREFIX}{BUCKET_COL}={b}"))
    write_event_batch(str(tmp_path / "ev"), [_ev(1, "update", 1)], 1)
    _pipeline(spark, tmp_path).run_available()
    got = {r.id: r.v for r in read_target(spark, tgt).collect()}
    assert len(got) == 40 and got[1] == "v1"  # no silent row loss


def test_crash_between_root_renames_keeps_parked_target(spark, tmp_path):
    """A crash between the two renames of a ROOT swap (write_bucketed,
    as bucketize_in_place runs it) leaves no live target dir, only the
    parked '.old_<name>' copy. The next batch must restore it before
    deciding the target is missing — bootstrapping an empty target
    would make _swap_dir delete the only copy."""
    tgt = str(tmp_path / "t_users")
    rows = [Row(id=i, v=f"r{i}") for i in range(1, 51)]
    write_bucketed(spark.createDataFrame(rows, SCHEMA), tgt, ["id"], N_BUCKETS)
    parked = os.path.join(str(tmp_path), f"{OLD_PREFIX}t_users")
    os.rename(tgt, parked)
    write_event_batch(str(tmp_path / "ev"), [_ev(1, "insert", 51)], 1)
    _pipeline(spark, tmp_path).run_available()
    assert read_target(spark, tgt).count() == 51
    assert not [e for e in os.listdir(tmp_path) if e.startswith(OLD_PREFIX)]


def test_completed_swap_leftover_is_dropped(spark, tmp_path):
    """Crash after the second rename: both live and parked exist →
    recovery drops the stale parked dir."""
    tgt = str(tmp_path / "t_users")
    _snapshot40(spark, tgt)
    b = _bucket_of(spark, 1)
    parked = os.path.join(tgt, f"{OLD_PREFIX}{BUCKET_COL}={b}")
    import shutil

    shutil.copytree(os.path.join(tgt, f"{BUCKET_COL}={b}"), parked)
    recover_interrupted_swaps(tgt)
    assert not os.path.exists(parked)
    assert len(read_target(spark, tgt).collect()) == 40


def test_legacy_dunder_old_leftover_recovers(spark, tmp_path):
    """Pre-hardening layouts parked old dirs as ``__bucket=N__old``
    INSIDE the partition namespace; recovery must heal those too."""
    tgt = str(tmp_path / "t_users")
    _snapshot40(spark, tgt)
    b = _bucket_of(spark, 1)
    live = os.path.join(tgt, f"{BUCKET_COL}={b}")
    os.rename(live, f"{live}__old")
    got = {r.id for r in read_target(spark, tgt).collect()}
    assert len(got) == 40 and os.path.isdir(live)


def test_pipeline_adopts_store_bucket_count_not_corrupts(spark, tmp_path):
    """Target written with 32 buckets: the pipeline reads the count
    from the store's meta and merges under it — touched-set math
    under any other count would swap the wrong dirs and leave stale
    duplicates — and the layout stays at 32."""
    tgt = str(tmp_path / "t_users")
    rows = [Row(id=i, v=f"r{i}") for i in range(1, 41)]
    write_bucketed(spark.createDataFrame(rows, SCHEMA), tgt, ["id"], 32)
    assert read_meta(tgt)["n_buckets"] == 32

    write_event_batch(str(tmp_path / "ev"), [_ev(1, "update", 1)], 1)
    _pipeline(spark, tmp_path).run_available()

    got = {r.id: r.v for r in read_target(spark, tgt).collect()}
    assert len(got) == 40 and got[1] == "v1"  # no stale duplicate of id=1
    assert read_meta(tgt) == {"n_buckets": 32, "key_cols": ["id"]}


def test_overwrite_buckets_raises_on_contract_mismatch(spark, tmp_path):
    tgt = str(tmp_path / "t_users")
    write_bucketed(
        spark.createDataFrame([Row(id=1, v="a")], SCHEMA), tgt, ["id"], 32
    )
    df = spark.createDataFrame([Row(id=1, v="b")], SCHEMA)
    import pytest

    with pytest.raises(ValueError, match="re-bucketize"):
        overwrite_buckets(df, tgt, ["id"], N_BUCKETS, [0])


def test_overwrite_buckets_raises_on_stray_bucket(spark, tmp_path):
    """Rows hashing outside the declared touched set must abort the
    swap loudly instead of being dropped in the finally (VERDICT
    silent-row-loss item)."""
    tgt = str(tmp_path / "t_users")
    rows = [Row(id=i, v=f"r{i}") for i in range(1, 41)]
    write_bucketed(spark.createDataFrame(rows, SCHEMA), tgt, ["id"], N_BUCKETS)
    before = {r.id: r.v for r in read_target(spark, tgt).collect()}
    df = spark.createDataFrame(rows, SCHEMA)  # hashes into many buckets
    b = _bucket_of(spark, 1)
    import pytest

    with pytest.raises(ValueError, match="outside the"):
        overwrite_buckets(df, tgt, ["id"], N_BUCKETS, [b])
    # target untouched by the aborted swap
    assert {r.id: r.v for r in read_target(spark, tgt).collect()} == before


def test_empty_source_snapshot_is_readable_and_mergeable(spark, tmp_path):
    """partitionBy on an empty frame writes only _SUCCESS; the sink
    must still leave a schema-bearing bucketed layout so is_bucketed /
    read_target / the first merge behave like the flat path (ADVICE
    item)."""
    tgt = str(tmp_path / "t_users")
    empty = spark.createDataFrame([], SCHEMA)
    assert snapshot_if_empty(spark, empty, tgt, key_cols=["id"], n_buckets=N_BUCKETS)
    assert is_bucketed(tgt)
    assert read_target(spark, tgt).count() == 0

    # first merge into the empty bucketed target works
    write_event_batch(str(tmp_path / "ev"), [_ev(1, "insert", 7)], 1)
    _pipeline(spark, tmp_path).run_available()
    got = {r.id: r.v for r in read_target(spark, tgt).collect()}
    assert got == {7: "v1"}


def test_meta_less_bucketed_layout_is_not_trusted(spark, tmp_path):
    """A bucketed layout without .sync_meta.json may predate the meta
    contract and use ANY n_buckets — check_meta must return False so
    the caller re-bucketizes, never adopt the caller's settings
    (review finding: adoption makes a divergence silently permanent)."""
    from sync_spark.sources.bucketed import check_meta, write_bucketed, META_FILE

    path = str(tmp_path / "t")
    df = spark.createDataFrame([Row(id=1, v="a"), Row(id=2, v="b")])
    write_bucketed(df, path, ["id"], n_buckets=8)
    os.remove(os.path.join(path, META_FILE))
    assert check_meta(path, ["id"], 8) is False  # even same settings: unknowable
    # and a meta-bearing layout only matches its own contract
    write_bucketed(df, path, ["id"], n_buckets=8)
    assert check_meta(path, ["id"], 8) is True
    assert check_meta(path, ["id"], 16) is False


def test_stale_stage_dirs_are_cleaned(spark, tmp_path):
    from sync_spark.sources.bucketed import recover_interrupted_swaps, write_bucketed

    path = str(tmp_path / "t")
    df = spark.createDataFrame([Row(id=1, v="a")])
    write_bucketed(df, path, ["id"], n_buckets=4)
    stale = path + "__stage_deadbeef"
    os.makedirs(os.path.join(stale, "__bucket=0"))
    recover_interrupted_swaps(path)
    assert not os.path.exists(stale)


def test_lookup_keys_point_read(spark, tmp_path):
    """PK point lookup: partition-prunes to the keys' buckets, pushes
    the key predicate into the scan, returns exactly the asked rows."""
    from sync_spark.sources.bucketed import lookup_keys, write_bucketed

    tgt = str(tmp_path / "t")
    rows = [Row(id=i, v=f"v{i}") for i in range(100)]
    write_bucketed(spark.createDataFrame(rows, SCHEMA), tgt, ["id"], 8)

    out = lookup_keys(spark, tgt, [(7,), (42,), (99,)])
    got = {r.id: r.v for r in out.collect()}
    assert got == {7: "v7", 42: "v42", 99: "v99"}

    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # pruned: not all 8 buckets scanned (3 keys touch <= 3 buckets)
    import re

    pf = plan.split("PartitionFilters:")[1].splitlines()[0]
    assert "__bucket" in pf
    assert "PushedFilters" in plan and "id" in plan.split("PushedFilters:")[1][:200]

    # missing keys return nothing; empty key list returns empty frame
    assert lookup_keys(spark, tgt, [(12345,)]).count() == 0
    assert lookup_keys(spark, tgt, []).count() == 0


def test_lookup_keys_validates_layout_and_arity(spark, tmp_path):
    import pytest

    from sync_spark.sources.bucketed import lookup_keys, write_bucketed

    with pytest.raises(ValueError, match="bucketed layout"):
        lookup_keys(spark, str(tmp_path / "nope"), [(1,)])
    tgt = str(tmp_path / "t2")
    write_bucketed(
        spark.createDataFrame([Row(id=1, v="a")], SCHEMA), tgt, ["id"], 4
    )
    with pytest.raises(ValueError, match="key tuple"):
        lookup_keys(spark, tgt, [(1, 2)])


def test_bucket_files_are_key_sorted(spark, tmp_path):
    """write_bucketed sorts within tasks so parquet rowgroup min/max
    stats are selective for point lookups."""
    import glob

    import pyarrow.parquet as pq

    from sync_spark.sources.bucketed import write_bucketed

    tgt = str(tmp_path / "t3")
    rows = [Row(id=i, v=f"v{i}") for i in range(200, 0, -1)]  # reverse order in
    write_bucketed(spark.createDataFrame(rows, SCHEMA), tgt, ["id"], 4)
    files = glob.glob(f"{tgt}/__bucket=*/*.parquet")
    assert files
    checked = 0
    for f in files:
        ids = pq.read_table(f, columns=["id"]).column("id").to_pylist()
        assert ids == sorted(ids), f
        checked += 1
    assert checked >= 4


def test_recover_cleans_committed_over_parked_root(spark, tmp_path):
    """A crash between _swap_dir's second rename and its cleanup
    leaves '.old_<name>' beside a LIVE dir: recover must delete the
    parked copy (it is committed-over), not leak it — and never
    resurrect it after a later legitimate rmtree of the live dir
    (r8 review finding)."""
    import os
    import shutil

    from sync_spark.sources.bucketed import (
        read_target,
        recover_interrupted_swaps,
        write_bucketed,
    )

    tgt = str(tmp_path / "t_users")
    df_old = spark.createDataFrame([(1, "old")], "id long, name string")
    df_new = spark.createDataFrame([(2, "new")], "id long, name string")
    write_bucketed(df_new, tgt, ["id"], 4)
    # simulate the crash leftover: parked OLD copy beside the live dir
    parked = str(tmp_path / ".old_t_users")
    shutil.copytree(tgt, parked)
    recover_interrupted_swaps(tgt)
    assert not os.path.exists(parked)  # committed-over leftover removed
    assert [r.name for r in read_target(spark, tgt).collect()] == ["new"]
    # and a later legitimate rmtree cannot resurrect stale data
    shutil.copytree(tgt, parked)
    recover_interrupted_swaps(tgt)  # cleans again while live exists
    shutil.rmtree(tgt)
    recover_interrupted_swaps(tgt)
    assert not os.path.exists(tgt)  # nothing to resurrect


def test_swap_dir_bumps_store_generation(tmp_path):
    from sync_spark.sources import bucketed

    gen0 = bucketed._store_mutation_gen
    stage = tmp_path / "stage"
    stage.mkdir()
    (stage / "f.txt").write_text("x")
    dst = tmp_path / "store"
    bucketed._swap_dir(str(stage), str(dst))
    assert bucketed._store_mutation_gen == gen0 + 1
    assert os.path.exists(dst / "f.txt")


# ---------------------------------------------------------------------------
# store codec: every file the layout writer makes is zstd
# ---------------------------------------------------------------------------


def _bucket_dirs(tgt: str) -> dict[int, str]:
    return {
        int(e.split("=", 1)[1]): os.path.join(tgt, e)
        for e in os.listdir(tgt)
        if e.startswith(f"{BUCKET_COL}=")
    }


def _chunk_codecs(bucket_dir: str) -> set[str]:
    """The codec of every column chunk of a bucket dir's parquet files."""
    import pyarrow.parquet as pq

    out = set()
    for f in os.listdir(bucket_dir):
        if f.endswith(".parquet"):
            md = pq.ParquetFile(os.path.join(bucket_dir, f)).metadata
            for i in range(md.num_row_groups):
                out |= {md.row_group(i).column(j).compression for j in range(md.num_columns)}
    return out


def _name_codecs(bucket_dir: str) -> set[str]:
    """The codec Spark names each file by (``part-*.zstd.parquet``): the
    one trace of the codec a schema-only file carries, since it has no
    row groups and so no column chunks."""
    return {f.split(".")[-2] for f in os.listdir(bucket_dir) if f.endswith(".parquet")}


def _ids_by_bucket(spark, ids) -> dict[int, set[int]]:
    out: dict[int, set[int]] = {}
    for r in spark.createDataFrame([(i,) for i in ids], "id long").select(
        "id", bucket_expr(["id"], N_BUCKETS).alias("b")
    ).collect():
        out.setdefault(r.b, set()).add(r.id)
    return out


def test_snapshot_merge_and_emptied_buckets_are_zstd(spark, tmp_path):
    tgt = str(tmp_path / "t_users")
    _snapshot40(spark, tgt)
    for d in _bucket_dirs(tgt).values():
        assert _chunk_codecs(d) == {"ZSTD"}, d
        assert _name_codecs(d) == {"zstd"}, d

    by_bucket = _ids_by_bucket(spark, range(1, 41))
    emptied = _bucket_of(spark, 1)
    rewritten = next(b for b in sorted(by_bucket) if b != emptied)
    kept = min(by_bucket[rewritten])
    events = [_ev(s, "delete", i) for s, i in enumerate(sorted(by_bucket[emptied]), 1)]
    events.append(_ev(len(events) + 1, "update", kept))
    write_event_batch(str(tmp_path / "ev"), events, 1)
    _pipeline(spark, tmp_path).run_available()

    dirs = _bucket_dirs(tgt)
    assert _chunk_codecs(dirs[rewritten]) == {"ZSTD"}
    assert _name_codecs(dirs[rewritten]) == {"zstd"}
    # the emptied bucket keeps one schema-only file, written zstd
    assert spark.read.parquet(dirs[emptied]).count() == 0
    assert _chunk_codecs(dirs[emptied]) == set()
    assert _name_codecs(dirs[emptied]) == {"zstd"}
    got = {r.id: r.v for r in read_target(spark, tgt).collect()}
    assert got[kept] == f"v{len(events)}"
    assert not set(got) & by_bucket[emptied]


def test_merge_into_snappy_store_recompresses_only_touched_buckets(
    spark, tmp_path, monkeypatch
):
    """A store written Snappy (the format before zstd) stays readable
    and mergeable: a merge rewrites its touched buckets zstd, leaves
    the untouched ones byte-identical Snappy, and the mixed-codec store
    reads the same rows as an all-Snappy control given the same merge."""
    from sync_spark.sources import bucketed
    from sync_spark.sources.bucketed import lookup_keys

    events = [_ev(1, "update", 1), _ev(2, "delete", 2), _ev(3, "insert", 1000)]
    touched = {_bucket_of(spark, i) for i in (1, 2, 1000)}
    stores = {}
    for name in ("mixed", "control"):
        base = tmp_path / name
        tgt = str(base / "t_users")
        with monkeypatch.context() as m:
            m.setattr(bucketed, "STORE_CODEC", "snappy")
            _snapshot40(spark, tgt)
        before = {b: _dir_fingerprint(d) for b, d in _bucket_dirs(tgt).items()}
        write_event_batch(str(base / "ev"), events, 1)
        with monkeypatch.context() as m:
            if name == "control":
                m.setattr(bucketed, "STORE_CODEC", "snappy")
            _pipeline(spark, base).run_available()
        stores[name] = tgt

        dirs = _bucket_dirs(tgt)
        assert touched <= set(dirs)
        for b, d in dirs.items():
            if name == "control":
                assert _name_codecs(d) == {"snappy"}, d
            elif b in touched:
                assert _name_codecs(d) == {"zstd"}, d
                assert _chunk_codecs(d) <= {"ZSTD"}, d
            else:
                assert _dir_fingerprint(d) == before[b], d
                assert _chunk_codecs(d) == {"SNAPPY"}, d
        assert set(dirs) - touched, "need at least one untouched bucket"

    def rows(df):
        return sorted((r.id, r.v) for r in df.collect())

    mixed, control = stores["mixed"], stores["control"]
    assert rows(read_target(spark, mixed)) == rows(read_target(spark, control))
    assert len(rows(read_target(spark, mixed))) == 40  # -1 delete, +1 insert
    keys = [(i,) for i in [*range(1, 41), 1000, 9999]]
    assert rows(lookup_keys(spark, mixed, keys)) == rows(lookup_keys(spark, control, keys))


# ---------------------------------------------------------------------------
# bucket count sized from the data; the pipeline adopts the store's count
# ---------------------------------------------------------------------------

MAX_SPLIT = "spark.sql.files.maxPartitionBytes"


def _file_source(spark, tmp_path, ids, name="src"):
    """A parquet-backed source frame of ``ids`` (four files) and the
    bytes of the data files behind it."""
    path = str(tmp_path / name)
    spark.createDataFrame([Row(id=i, v=f"r{i}") for i in ids], SCHEMA).repartition(
        4
    ).write.parquet(path)
    size = sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if not f.startswith((".", "_"))
    )
    return spark.read.parquet(path), size


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
        if not f.startswith((".", "_"))
    )


class _Recorder(CdcPipeline):
    """Records each batch summary with the store metas it ran against."""

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.seen = []

    def _batch_summary(self, batch):
        out = super()._batch_summary(batch)
        self.seen.append((out, {t.source_table: read_meta(t.target_path) for t in self.tables}))
        return out


def _touched(summary) -> set[int]:
    return {b for r in summary if not r["bad"] for b in r["buckets"]}


def test_file_backed_snapshot_gets_one_bucket_per_input_split(spark, tmp_path):
    src, size = _file_source(spark, tmp_path, range(1, 201))
    split = size // 3 + 1
    tgt = str(tmp_path / "t_users")
    spark.conf.set(MAX_SPLIT, str(split))
    try:
        assert snapshot_if_empty(spark, src, tgt, key_cols=["id"])
    finally:
        spark.conf.unset(MAX_SPLIT)
    assert read_meta(tgt) == {"n_buckets": -(-size // split), "key_cols": ["id"]}
    assert read_meta(tgt)["n_buckets"] == 3
    assert {r.id for r in read_target(spark, tgt).collect()} == set(range(1, 201))
    # clustered by bucket: one file each, not one per input split
    for d in _bucket_dirs(tgt).values():
        assert len([f for f in os.listdir(d) if f.endswith(".parquet")]) == 1, d

    # a re-bucketize with no count is sized from the store's own files
    store_bytes = _dir_bytes(tgt)
    spark.conf.set(MAX_SPLIT, str(split))
    try:
        bucketize_in_place(spark, tgt, ["id"])
    finally:
        spark.conf.unset(MAX_SPLIT)
    assert read_meta(tgt)["n_buckets"] == -(-store_bytes // split)
    for d in _bucket_dirs(tgt).values():
        assert len([f for f in os.listdir(d) if f.endswith(".parquet")]) == 1, d
    assert {r.id for r in read_target(spark, tgt).collect()} == set(range(1, 201))

    # at the default split size a small source is one split: one bucket
    small = str(tmp_path / "t_small")
    assert snapshot_if_empty(spark, src, small, key_cols=["id"])
    assert read_meta(small)["n_buckets"] == 1
    assert list(_bucket_dirs(small)) == [0]


def test_in_memory_snapshot_keeps_unknown_layout_count(spark, tmp_path):
    tgt = str(tmp_path / "t_users")
    rows = [Row(id=i, v=f"r{i}") for i in range(1, 41)]
    assert snapshot_if_empty(spark, spark.createDataFrame(rows, SCHEMA), tgt, key_cols=["id"])
    assert UNKNOWN_LAYOUT_BUCKETS == 16
    assert read_meta(tgt)["n_buckets"] == 16


@pytest.mark.parametrize("n_buckets", [1, 32])
def test_pipeline_merges_under_the_store_count(spark, tmp_path, n_buckets):
    """The touched set is hashed under the store's own count, the merge
    is correct, and at 32 buckets every untouched bucket stays
    byte-identical."""
    tgt = str(tmp_path / "t_users")
    if n_buckets == 1:
        src, _ = _file_source(spark, tmp_path, range(1, 41))
        assert snapshot_if_empty(spark, src, tgt, key_cols=["id"])
    else:
        rows = [Row(id=i, v=f"r{i}") for i in range(1, 41)]
        write_bucketed(spark.createDataFrame(rows, SCHEMA), tgt, ["id"], n_buckets)
    assert read_meta(tgt)["n_buckets"] == n_buckets
    before = {b: _dir_fingerprint(d) for b, d in _bucket_dirs(tgt).items()}

    write_event_batch(
        str(tmp_path / "ev"),
        [_ev(1, "update", 1), _ev(2, "delete", 2), _ev(3, "insert", 1000)],
        1,
    )
    p = _pipeline(spark, tmp_path, cls=_Recorder)
    p.run_available()

    want = {_bucket_of(spark, i, n_buckets) for i in (1, 2, 1000)}
    [(summary, metas)] = p.seen
    assert _touched(summary) == want
    assert metas["users"]["n_buckets"] == n_buckets
    assert read_meta(tgt) == {"n_buckets": n_buckets, "key_cols": ["id"]}
    got = {r.id: r.v for r in read_target(spark, tgt).collect()}
    assert got == {**{i: f"r{i}" for i in range(3, 41)}, 1: "v1", 1000: "v3"}
    untouched = set(before) - want
    assert bool(untouched) == (n_buckets == 32)
    for b in untouched:
        assert _dir_fingerprint(_bucket_dirs(tgt)[b]) == before[b], b


def test_legacy_flat_target_migrates_before_summary(spark, tmp_path):
    """A flat target is bucketed, sized from its own files, before the
    summary hashes the batch: the touched set is derived under the
    migrated count, so the merge raises no stray-bucket error and
    leaves no stale duplicate."""
    tgt = str(tmp_path / "t_users")
    rows = [Row(id=i, v=f"r{i}") for i in range(1, 41)]
    snapshot_if_empty(spark, spark.createDataFrame(rows, SCHEMA), tgt)
    assert not is_bucketed(tgt)
    split = _dir_bytes(tgt) // 2 + 1
    write_event_batch(
        str(tmp_path / "ev"),
        [_ev(1, "update", 1), _ev(2, "delete", 2), _ev(3, "insert", 41)],
        1,
    )
    p = _pipeline(spark, tmp_path, cls=_Recorder)
    spark.conf.set(MAX_SPLIT, str(split))
    try:
        p.run_available()
    finally:
        spark.conf.unset(MAX_SPLIT)

    [(summary, metas)] = p.seen
    assert metas["users"] == {"n_buckets": 2, "key_cols": ["id"]}
    assert _touched(summary) == {_bucket_of(spark, i, 2) for i in (1, 2, 41)}
    assert read_meta(tgt) == {"n_buckets": 2, "key_cols": ["id"]}
    ids = [r.id for r in read_target(spark, tgt).collect()]
    assert len(ids) == len(set(ids)) == 40
    assert set(ids) == set(range(1, 42)) - {2}


def test_replay_after_crash_mid_swap_converges_on_one_bucket_store(
    spark, tmp_path, monkeypatch
):
    """The merge dies between the bucket swap's two renames (live
    bucket parked, staged one not landed); the replayed batch restores
    the parked bucket, merges again and lands the same state, still
    one bucket."""
    from sync_spark.sources import bucketed

    tgt = str(tmp_path / "t_users")
    src, _ = _file_source(spark, tmp_path, range(1, 41))
    assert snapshot_if_empty(spark, src, tgt, key_cols=["id"])
    assert read_meta(tgt)["n_buckets"] == 1
    write_event_batch(
        str(tmp_path / "ev"),
        [_ev(1, "update", 1), _ev(2, "delete", 2), _ev(3, "insert", 41)],
        1,
    )

    def crash(src_dir, dst):
        os.rename(dst, bucketed._old_name(dst))
        raise RuntimeError("crash mid-swap")

    with monkeypatch.context() as m:
        m.setattr(bucketed, "_swap_dir", crash)
        with pytest.raises(Exception, match="crash mid-swap"):
            _pipeline(spark, tmp_path).run_available()
    assert os.listdir(tgt).count(f"{OLD_PREFIX}{BUCKET_COL}=0") == 1
    assert f"{BUCKET_COL}=0" not in os.listdir(tgt)

    _pipeline(spark, tmp_path).run_available()
    got = {r.id: r.v for r in read_target(spark, tgt).collect()}
    assert got == {**{i: f"r{i}" for i in range(3, 41)}, 1: "v1", 41: "v3"}
    assert read_meta(tgt) == {"n_buckets": 1, "key_cols": ["id"]}
    assert list(_bucket_dirs(tgt)) == [0]
    assert not [e for e in os.listdir(tgt) if e.startswith(OLD_PREFIX)]
