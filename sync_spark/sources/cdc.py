"""CDC change-event envelope + event-log source (SURVEY.md §2.1
S2/S4/S6/S10, §3.1 IR #2).

The canonical envelope re-expresses every reference change feed
(Mongo change stream events mongodb.go:550-607, binlog RowsEvents
mysql.go:475-522, pgoutput messages postgresql.go:671-723, Redis
stream entries redis.go:234-279) as one schema:

    op STRING            -- insert | update | replace | delete
    seq LONG             -- monotonic position (resume token / binlog
                            pos / LSN / stream id) — ORDERING SOURCE
    ts TIMESTAMP         -- event time
    source_table STRING  -- originating table/collection
    key_json STRING      -- JSON of the key fields
    after_json STRING    -- JSON after-image (null for deletes)

JSON payloads (not structs) so one stream carries heterogeneous
tables — exactly how the reference's .bsonstream disk buffer kept raw
BSON (mongodb.go:693-780). Per-table projection parses after_json
with an explicit schema (from_json), keeping everything JVM-side.

Files-in-a-directory is the transport (the Auto-Loader pattern);
Structured Streaming checkpoints replace the reference's resume-token
files (T3: mongodb.go:1561-1638 etc.) byte-for-byte in function.
"""

from __future__ import annotations

import json
import os
from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

ENVELOPE_SCHEMA = T.StructType(
    [
        T.StructField("op", T.StringType(), False),
        T.StructField("seq", T.LongType(), False),
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("source_table", T.StringType(), False),
        T.StructField("key_json", T.StringType(), False),
        T.StructField("after_json", T.StringType(), True),
        # PK-changing updates (the reference's binlog UPDATE applies
        # SET new-values WHERE old-key, mysql.go:600-616 — cited for
        # parity, not ported): the producer puts the BEFORE-image key
        # here; absent/null means the key did not change. Old event
        # logs simply read NULL — schema-compatible.
        T.StructField("before_key_json", T.StringType(), True),
        # True for events whose after-image ALREADY passed
        # fieldSecurity (DLQ replays re-inject the secured payload):
        # the pipeline must not mask/encrypt such rows a second time
        # (double-encryption corrupts; DLQ payloads are secured by
        # design so the queue is no plaintext side-channel).
        T.StructField("secured", T.BooleanType(), True),
    ]
)

def write_event_batch(path: str, events: Iterable[dict[str, Any]], batch_id: int) -> str:
    """Append one JSONL event file to the log directory (test/demo
    producer; a real deployment points the stream at Kafka or a
    connector-emitted file feed)."""
    os.makedirs(path, exist_ok=True)
    fname = os.path.join(path, f"events-{batch_id:010d}.jsonl")
    # DOT-prefixed temp: Spark's file listing ignores only '.'/'_'
    # prefixes, so a sibling 'x.tmp' would be visible mid-write and
    # the half-written file could be ingested (then again after the
    # rename) — the dot prefix is what makes write-then-rename atomic
    # TO SPARK, like the reference's buffer files (mongodb.go:693-780)
    tmp = os.path.join(path, f".events-{batch_id:010d}.jsonl.tmp")
    with open(tmp, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")
    os.rename(tmp, fname)
    # strictly-increasing mtimes: Spark's file source orders ready
    # files by modification time and breaks ties ARBITRARILY, so two
    # files landing in the same clock tick can be batched in either
    # order. The reference processes buffer files in name (time)
    # order (mongodb.go:1656-1712); bumping the mtime past every
    # sibling restores that determinism for mtime-ordered consumers.
    # Spark tracks file timestamps in MILLISECONDS — compare at that
    # granularity, or same-ms files (distinct only in the ns digits)
    # still tie. Integer-ns API throughout: float-seconds arithmetic
    # ((prev_ms+1)/1000.0) loses the added millisecond to double
    # rounding at epoch magnitudes (~238ns spacing) and the tie
    # survives the "fix"
    prev_ms = max(
        (
            os.stat(os.path.join(path, e)).st_mtime_ns // 1_000_000
            for e in os.listdir(path)
            if e.startswith("events-") and e != os.path.basename(fname)
        ),
        default=0,
    )
    if os.stat(fname).st_mtime_ns // 1_000_000 <= prev_ms:
        ns = (prev_ms + 1) * 1_000_000
        os.utime(fname, ns=(ns, ns))
    return fname


def read_event_stream(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
    format: str = "files",
    kafka_options: dict[str, str] | None = None,
) -> DataFrame:
    """Streaming view of the change envelope.

    ``format="files"`` (default): JSONL directory source; trigger
    sizing via maxFilesPerTrigger (T1/T2 — the analog of the
    reference's 100-events-or-2s / ≤256MB smart batches).

    ``format="kafka"``: ``path`` is the TOPIC; the raw Kafka frame is
    mapped onto the same envelope by :func:`kafka_envelope` (seq =
    offset). This is the Debezium/connector wire path — the reference
    tails live change feeds over the network
    (mongodb.go:527-610 change-stream watcher; cited for parity, not
    ported) where this engine subscribes to the topic those
    connectors publish. Requires the spark-sql-kafka package on the
    session's classpath; ``kafka_options`` must carry at least
    ``kafka.bootstrap.servers``. Downstream (projection, compaction,
    merge) is IDENTICAL — the contract test pins that both transports
    produce the same envelope schema and the same compaction result.
    """
    if format == "kafka":
        opts = dict(kafka_options or {})
        if "kafka.bootstrap.servers" not in opts:
            raise ValueError(
                "format='kafka' needs kafka_options={'kafka.bootstrap.servers': ...}"
            )
        # parity with the file transport, which replays every existing
        # JSONL file on first attach: Spark's Kafka source defaults to
        # startingOffsets='latest', which would silently skip the
        # topic's whole CDC backlog on the first (checkpoint-less) run
        # (r8 review). Callers can still override via kafka_options.
        opts.setdefault("startingOffsets", "earliest")
        reader = spark.readStream.format("kafka").option("subscribe", path)
        for k, v in opts.items():
            reader = reader.option(k, v)
        return kafka_envelope(reader.load())
    if format != "files":
        raise ValueError(f"unknown event-stream format {format!r}")
    reader = spark.readStream.schema(ENVELOPE_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


# The Spark Kafka source's fixed output schema (public contract of
# spark-sql-kafka): what kafka_envelope consumes. Kept as a constant
# so the offline contract test can synthesize raw frames without a
# broker or the connector jar.
KAFKA_RAW_SCHEMA = T.StructType(
    [
        T.StructField("key", T.BinaryType(), True),
        T.StructField("value", T.BinaryType(), True),
        T.StructField("topic", T.StringType(), True),
        T.StructField("partition", T.IntegerType(), True),
        T.StructField("offset", T.LongType(), True),
        T.StructField("timestamp", T.TimestampType(), True),
        T.StructField("timestampType", T.IntegerType(), True),
    ]
)

# envelope payload carried in the Kafka message VALUE: the file
# envelope minus seq (the broker's offset supplies ordering)
_KAFKA_VALUE_SCHEMA = T.StructType(
    [f for f in ENVELOPE_SCHEMA.fields if f.name != "seq"]
)


def kafka_envelope(raw: DataFrame) -> DataFrame:
    """Map a Kafka-source frame (KAFKA_RAW_SCHEMA) onto the canonical
    change envelope — the wire-transport twin of the JSONL file
    source, so every downstream stage (changes_for_table, compaction,
    apply_changes, the full pipeline) is transport-agnostic.

    Contract (what a Debezium-style producer must do, and why the
    mapping is exact):

    - ``seq = offset``: Kafka guarantees offsets are monotonic PER
      PARTITION, and a CDC producer keys messages by document/row key
      (Debezium does), so every key's events share a partition and
      ``seq`` is monotonic per key — precisely the property
      ``compact_latest_per_key`` needs (last-wins by seq). Global
      cross-key ordering is neither provided nor required (the file
      source's global seq is stronger than the merge contract).
    - ``value`` is the JSON envelope payload (op/ts/source_table/
      key_json/after_json/before_key_json/secured); ``key_json``
      falls back to the MESSAGE KEY when the payload omits it (the
      Debezium layout: key struct rides the message key).
    - ``ts`` falls back to the broker timestamp when the payload
      carries none.

    Works identically on a batch frame of the same shape — which is
    how the offline contract test drives it without a broker."""
    payload = F.from_json(F.col("value").cast("string"), _KAFKA_VALUE_SCHEMA)
    cols = []
    for f_ in ENVELOPE_SCHEMA.fields:
        if f_.name == "seq":
            cols.append(F.col("offset").cast("long").alias("seq"))
        elif f_.name == "key_json":
            cols.append(
                F.coalesce(
                    payload["key_json"], F.col("key").cast("string")
                ).alias("key_json")
            )
        elif f_.name == "ts":
            cols.append(F.coalesce(payload["ts"], F.col("timestamp")).alias("ts"))
        else:
            cols.append(payload[f_.name].alias(f_.name))
    return raw.select(*cols)


DEBEZIUM_OP_CASE = (
    "CASE __dbz_op WHEN 'c' THEN 'insert' WHEN 'r' THEN 'insert' "
    "WHEN 'u' THEN 'update' WHEN 'd' THEN 'delete' END"
)


def debezium_envelope(raw: DataFrame) -> DataFrame:
    """Map Debezium wire records (a KAFKA_RAW_SCHEMA frame whose
    ``value`` carries Debezium's change-event JSON) onto the canonical
    change envelope — the adapter that lets a real Debezium topic
    drive the pipeline with no custom producer, closing the
    live-change-stream seam offline (reference behavior:
    pkg/syncer/mongodb/mongodb.go:527-610 tails the raw change stream;
    a Debezium deployment publishes the same events to Kafka).

    Layout consumed — both standard JsonConverter renderings:
    ``schemas.enable=true`` ({"schema": ..., "payload": {event}}) and
    ``schemas.enable=false`` (the event object at top level), where
    event = {"before": obj|null, "after": obj|null,
    "source": {"table": ...} (relational connectors) or
    {"db": ..., "rs": ..., "collection": ...} (the MongoDB
    connector — no "table" field), "op": "c"|"r"|"u"|"d",
    "ts_ms": millis} and the message KEY carries the PK struct the
    same two ways.

    Mapping onto ENVELOPE_SCHEMA:
    - op: c/r → insert (r = snapshot read; the idempotent MERGE makes
      snapshot rows indistinguishable from stream inserts), u →
      update, d → delete. An UNKNOWN op code maps to NULL and flows
      to the pipeline's malformed-op quarantine — never silently
      dropped (the changes_for_table no-silent-drop contract).
    - TOMBSTONES (value IS NULL — Debezium's log-compaction marker
      after every delete) are transport artifacts, not data: dropped
      here, exactly once, where the wire layout is known.
    - ts: payload.ts_ms (epoch millis).
    - key_json: the key struct (Debezium rides the PK on the message
      key); after_json: the after image (null on delete → key-only
      row downstream); before_key_json: the before image when the
      connector publishes one — a PK-changing UPDATE then folds into
      changes_for_table's synthesized old-key delete. Connectors that
      instead SPLIT a PK change into DELETE + CREATE (+ tombstone)
      need no synthesis and fold identically (both shapes pinned in
      tests/test_debezium_fixture.py).
    - seq = offset: same per-partition monotonicity argument as
      kafka_envelope (Debezium keys messages by PK, so each key's
      events share a partition).

    get_json_object extracts the nested objects as JSON TEXT without
    needing the table's row schema — the envelope stays schemaless and
    changes_for_table applies the typed projection later, exactly as
    for the file transport."""
    v = F.col("value").cast("string")
    k = F.col("key").cast("string")

    def field(path: str):
        # schemas.enable=true nests the event under $.payload
        return F.coalesce(
            F.get_json_object(v, f"$.payload.{path}"),
            F.get_json_object(v, f"$.{path}"),
        )

    key_json = F.coalesce(
        F.get_json_object(k, "$.payload"), F.get_json_object(k, "$"),
    )
    return (
        raw.filter(F.col("value").isNotNull())  # tombstones out
        .withColumn("__dbz_op", field("op"))
        .select(
            F.expr(DEBEZIUM_OP_CASE).alias("op"),
            # broker timestamp is the fallback when the payload
            # carries no ts_ms (same rule as kafka_envelope)
            F.coalesce(
                F.timestamp_millis(field("ts_ms").cast("long")),
                F.col("timestamp"),
            ).alias("ts"),
            # relational connectors put the table name at source.table;
            # the MongoDB connector (the reference's actual source)
            # emits source.collection and NO table field — coalesce so
            # real Mongo topics don't yield NULL source_table (which
            # changes_for_table's equality filter would silently drop,
            # violating the no-silent-drop contract)
            F.coalesce(
                field("source.table"), field("source.collection")
            ).alias("source_table"),
            key_json.alias("key_json"),
            field("after").alias("after_json"),
            field("before").alias("before_key_json"),
            F.lit(False).alias("secured"),
            F.col("offset").cast("long").alias("seq"),
        )
    )


def pk_changed_pred(
    envelope_cols: list[str],
    row_schema: T.StructType,
    key_cols: list[str],
):
    """Predicate for events whose BEFORE-image key differs from the
    effective (after) key — shared by the change projection (which
    synthesizes the old-key delete) and the pipeline's touched-bucket
    probe (which must read the OLD key's bucket too, or the stale row
    is stranded). None when the envelope has no before_key_json."""
    if "before_key_json" not in envelope_cols:
        return None
    key_schema = T.StructType([f for f in row_schema.fields if f.name in key_cols])
    after = F.from_json("after_json", row_schema)
    key = F.from_json("key_json", key_schema)
    bkey = F.from_json("before_key_json", key_schema)
    differs = None
    usable = None
    for k in key_cols:
        d = ~F.coalesce(after[k], key[k]).eqNullSafe(bkey[k])
        differs = d if differs is None else (differs | d)
        # a malformed / field-incomplete before key must NOT match:
        # it would synthesize a NULL-key delete that the pipeline's
        # good-row filter silently discards (no DLQ entry — bad_n is
        # derived from the envelope keys, which are valid here),
        # leaving the stale-duplicate hazard with no trace.
        # Conservative rule: unusable before key ⇒ behave as if the
        # producer sent none.
        u = bkey[k].isNotNull()
        usable = u if usable is None else (usable & u)
    return (
        F.col("op").isin("update", "replace")
        & F.col("before_key_json").isNotNull()
        & usable
        & differs
    )


def changes_for_table(
    envelope: DataFrame,
    source_table: str,
    row_schema: T.StructType,
    key_cols: list[str],
    ignore_source_deletes: bool = False,
) -> DataFrame:
    """Project one table's events out of the envelope: parse the
    after-image into typed columns (delete rows keep key-only), attach
    (op, seq).

    PK-changing updates (before_key_json present and different from
    the after key) become TWO change rows: a synthesized delete of the
    OLD key plus the normal upsert of the new key, both at the event's
    seq — the relational re-expression of the reference's
    ``UPDATE ... SET new WHERE old_pk`` (mysql.go:600-616). Without
    the synthesized delete the old row would survive as a stale
    duplicate.

    ``ignore_source_deletes`` drops the SOURCE's delete events (P11,
    the ignoreDeleteOps mapping flag) at the envelope level — BEFORE
    the PK-change synthesis, so a synthesized old-key delete (which is
    part of an update, not a user delete; the reference's UPDATE moves
    the row even under ignore-delete configs) always survives."""
    # reserved envelope bookkeeping names: the projection attaches
    # (op, seq, secured) to every change row, and downstream
    # apply_changes/schema-evolution treats those names as envelope
    # columns unconditionally — a source payload column with one of
    # these names would be silently shadowed (and never evolve into
    # the target), so refuse loudly instead (r8 ADVICE)
    collide = {"op", "seq", "secured"} & {f.name for f in row_schema.fields}
    if collide:
        raise ValueError(
            f"source table {source_table!r} schema contains reserved "
            f"envelope column name(s) {sorted(collide)}; rename them at "
            "the source (op/seq/secured are CDC bookkeeping columns)"
        )
    ev = envelope.filter(F.col("source_table") == source_table)
    if ignore_source_deletes:
        # keep NULL-op rows: `op != 'delete'` is NULL for them and a
        # bare filter would drop malformed events here, BEFORE the
        # pipeline's quarantine could see them (r8 review)
        ev = ev.filter((F.col("op") != "delete") | F.col("op").isNull())
    key_schema = T.StructType([f for f in row_schema.fields if f.name in key_cols])
    after = F.from_json("after_json", row_schema)
    key = F.from_json("key_json", key_schema)
    cols = []
    for f_ in row_schema.fields:
        if f_.name in key_cols:
            cols.append(F.coalesce(after[f_.name], key[f_.name]).alias(f_.name))
        else:
            cols.append(after[f_.name].alias(f_.name))
    secured = (
        F.coalesce(F.col("secured"), F.lit(False))
        if "secured" in envelope.columns
        else F.lit(False)
    )
    main = ev.select(*cols, F.col("op"), F.col("seq"), secured.alias("secured"))
    changed = pk_changed_pred(envelope.columns, row_schema, key_cols)
    if changed is None:
        return main
    bkey = F.from_json("before_key_json", key_schema)
    del_cols = []
    for f_ in row_schema.fields:
        if f_.name in key_cols:
            del_cols.append(bkey[f_.name].alias(f_.name))
        else:
            del_cols.append(F.lit(None).cast(f_.dataType).alias(f_.name))
    dels = ev.filter(changed).select(
        *del_cols, F.lit("delete").alias("op"), F.col("seq"),
        F.lit(False).alias("secured"),
    )
    return main.unionByName(dels)


def committed_event_files(checkpoint_dir: str) -> set[str]:
    """Absolute paths of event-log files whose processing the
    Structured Streaming checkpoint has COMMITTED — the safe-to-delete
    set for retention.

    Derivation walks the checkpoint's own WAL (public on-disk layout):
    ``commits/<b>`` marks batch b fully applied; ``offsets/<b>``
    records, per source, the file-source metadata-log index that batch
    read up to (``{"logOffset": k}``); ``sources/0/<j>`` (and the
    periodic ``<j>.compact`` rollups) list the concrete files
    discovered at index j. Everything listed at an index <= the last
    COMMITTED logOffset has been both read and applied. A planned-but-
    uncommitted batch (offsets written, commits absent — the crash
    window) is correctly excluded because the cut is taken at
    max(commits), not max(offsets). Single-source checkpoints only
    (the CdcPipeline reads exactly one file stream)."""
    import json as _json
    from urllib.parse import unquote, urlparse

    commits_dir = os.path.join(checkpoint_dir, "commits")
    if not os.path.isdir(commits_dir):
        return set()
    committed = [
        int(e) for e in os.listdir(commits_dir) if e.isdigit()
    ]
    if not committed:
        return set()
    offsets_file = os.path.join(checkpoint_dir, "offsets", str(max(committed)))
    try:
        with open(offsets_file) as fh:
            lines = [ln for ln in fh.read().splitlines() if ln.strip()]
        # v1 header, metadata json, then one offset line per source
        log_offset = _json.loads(lines[2])["logOffset"]
    except (OSError, IndexError, KeyError, TypeError, ValueError):
        return set()
    paths: set[str] = set()
    src_dir = os.path.join(checkpoint_dir, "sources", "0")
    if not os.path.isdir(src_dir):
        return set()
    for entry in os.listdir(src_dir):
        base = entry[: -len(".compact")] if entry.endswith(".compact") else entry
        if not base.isdigit() or int(base) > log_offset:
            continue
        try:
            with open(os.path.join(src_dir, entry)) as fh:
                for ln in fh:
                    ln = ln.strip()
                    if not ln or ln == "v1":
                        continue
                    rec = _json.loads(ln)
                    p = urlparse(rec["path"])
                    if p.scheme in ("file", ""):
                        paths.add(os.path.abspath(unquote(p.path)))
        except (OSError, KeyError, ValueError):
            continue
    return paths


def auto_prune_event_log(event_log_dir: str, checkpoint_dir: str) -> list[str]:
    """Checkpoint-aware retention: delete exactly the event files the
    streaming checkpoint has committed — the caller-owned cut-off of
    ``prune_event_log`` derived automatically, and by PATH rather than
    by id threshold. An id cut-off would be wrong here: DLQ-replayed
    batches carry ids in the reserved 9e9 range (never-reuse rule), so
    "max committed id + 1" would leap over — and delete — newer NORMAL
    batches the stream has not consumed yet. Matching the committed
    path set cannot touch an unprocessed file by construction.

    Caveat (documented, not a correctness hole): ``replay_dlq``
    re-stamps repaired events above the max seq found in the LOG;
    pruning shrinks what that scan sees, so an operator replaying
    long-delayed repairs after aggressive retention should expect
    replay-wins ordering relative to the retained suffix only.
    Returns deleted file names (sorted)."""
    committed = committed_event_files(checkpoint_dir)
    if not committed or not os.path.isdir(event_log_dir):
        return []
    deleted = []
    for entry in sorted(os.listdir(event_log_dir)):
        if not (entry.startswith("events-") and entry.endswith(".jsonl")):
            continue
        # NEVER prune replay-range files (reserved 9e9 ids): replay_dlq
        # derives its never-reused batch id from the files still on
        # disk, so deleting a consumed replay file would reset that
        # derivation, recreate an already-seen filename on the next
        # replay, and the checkpointed source (seen-map keys on path)
        # would silently skip it — repaired events lost with a success
        # report. Replay batches are failure-grain-small; keeping them
        # costs bytes, pruning them costs data.
        if entry.startswith("events-9"):
            continue
        full = os.path.abspath(os.path.join(event_log_dir, entry))
        if full in committed:
            os.remove(full)
            deleted.append(entry)
    return deleted


def prune_event_log(path: str, before_batch_id: int) -> list[str]:
    """Retention for the file event log: delete ``events-N.jsonl``
    files with ``N < before_batch_id``. The log otherwise grows
    forever — the reference deletes its buffer files after apply
    (mongodb.go:1656-1712 processes then removes); the streaming
    analog has to keep files until every consumer's CHECKPOINT has
    committed them, so the cut-off is explicit and caller-owned:
    prune only below the lowest batch id all checkpoints have passed.
    Files at/above the cut-off and non-matching names are untouched.
    Returns the deleted file names (sorted)."""
    if not os.path.isdir(path):
        return []
    deleted = []
    for entry in sorted(os.listdir(path)):
        if not (entry.startswith("events-") and entry.endswith(".jsonl")):
            continue
        try:
            bid = int(entry[len("events-"):-len(".jsonl")])
        except ValueError:
            continue
        if bid < before_batch_id:
            os.remove(os.path.join(path, entry))
            deleted.append(entry)
    return deleted
