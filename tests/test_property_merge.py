"""Property-based tests (hypothesis): apply_changes vs a sequential
fold oracle under arbitrary event logs and orderings, and tz window
invariants — the randomized layer the reference's test suite lacks
(SURVEY.md §5)."""

from __future__ import annotations

import random as _random
from datetime import date, timedelta

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import types as T

from sync_spark import tz
from sync_spark.operators.merge import apply_changes

SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("v", T.LongType()),
        T.StructField("op", T.StringType()),
        T.StructField("seq", T.LongType()),
    ]
)

TARGET_SCHEMA = T.StructType(
    [T.StructField("id", T.LongType()), T.StructField("v", T.LongType())]
)


events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),  # key
        st.sampled_from(["upsert", "delete"]),
        st.integers(min_value=0, max_value=1000),  # value
    ),
    min_size=0,
    max_size=25,
)

initial_strategy = st.dictionaries(
    st.integers(min_value=0, max_value=5), st.integers(min_value=0, max_value=1000), max_size=6
)


@settings(max_examples=25, deadline=None, suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(initial=initial_strategy, events=events_strategy, shuffle_seed=st.integers(0, 99))
def test_merge_equals_sequential_fold(spark, initial, events, shuffle_seed):
    # oracle: strict-sequence fold
    state = dict(initial)
    numbered = [(seq, k, op, v) for seq, (k, op, v) in enumerate(events)]
    for seq, k, op, v in numbered:
        if op == "delete":
            state.pop(k, None)
        else:
            state[k] = v

    target = spark.createDataFrame(
        [Row(id=k, v=v) for k, v in initial.items()], TARGET_SCHEMA
    )
    shuffled = list(numbered)
    _random.Random(shuffle_seed).shuffle(shuffled)  # arrival order must not matter
    changes = spark.createDataFrame(
        [Row(id=k, v=v, op=op, seq=seq) for seq, k, op, v in shuffled], SCHEMA
    )
    merged = apply_changes(target, changes, keys=["id"])
    got = {r.id: r.v for r in merged.collect()}
    assert got == state


def _fold_oracle(initial: dict, events: list) -> dict:
    """Sequential apply of ``(key, op, value, seq)`` events in the
    merge's order: NULL-seq events first (they lose to every sequenced
    change), then ascending seq, and on a seq tie op DESCENDING, so the
    lexicographically-least op — a delete beside an insert — lands
    last and wins."""
    by_op = sorted(events, key=lambda e: e[1], reverse=True)
    state = dict(initial)
    for k, op, v, _ in sorted(by_op, key=lambda e: (e[3] is not None, e[3] or 0)):
        if op == "delete":
            state.pop(k, None)
        else:
            state[k] = v
    return state


# (initial target, events as (key, op, value, seq)) — the corners the
# random fold above never draws: NULL seq, seq ties, and the
# delete + upsert pair a primary-key change becomes
EDGE_CASES = {
    "null_seq_upsert_beats_stored_row": ({1: 10, 2: 20}, [(1, "upsert", 99, None)]),
    "null_seq_delete_drops_stored_row": ({1: 10, 2: 20}, [(1, "delete", None, None)]),
    "null_seq_loses_to_sequenced_change": (
        {1: 10},
        [(1, "upsert", 5, None), (1, "upsert", 7, 3), (1, "delete", None, None)],
    ),
    "delete_and_reinsert_at_same_seq_delete_wins": (
        {1: 10, 2: 20},
        [(1, "delete", None, 5), (1, "insert", 11, 5), (3, "insert", 30, 6), (3, "delete", None, 6)],
    ),
    "delete_then_reinsert_at_later_seq": (
        {1: 10},
        [(1, "delete", None, 5), (1, "insert", 11, 6)],
    ),
    # key 1 moves to key 4 (and key 2 onto the stored key 3) at one
    # seq: the old key's synthesized delete and the new key's upsert
    "pk_change": (
        {1: 10, 2: 20, 3: 30},
        [(1, "delete", None, 4), (4, "upsert", 10, 4), (2, "delete", None, 5), (3, "upsert", 20, 5)],
    ),
}


@pytest.mark.parametrize("case", sorted(EDGE_CASES))
def test_merge_edge_cases_equal_fold(spark, case):
    initial, events = EDGE_CASES[case]
    target = spark.createDataFrame(
        [Row(id=k, v=v) for k, v in initial.items()], TARGET_SCHEMA
    )
    changes = spark.createDataFrame(
        [Row(id=k, v=v, op=op, seq=seq) for k, op, v, seq in events], SCHEMA
    )
    merged = apply_changes(target, changes, keys=["id"])
    assert {r.id: r.v for r in merged.collect()} == _fold_oracle(initial, events)


def test_pk_change_from_envelope_equals_fold(spark):
    """A primary-key change as the envelope carries it (one update
    whose before_key_json names the old key) moves the row through
    changes_for_table's synthesized delete."""
    import json

    from sync_spark.sources.cdc import ENVELOPE_SCHEMA, changes_for_table

    def ev(op, seq, key, v=None, before=None):
        return Row(
            op=op, seq=seq, ts=None, source_table="t",
            key_json=json.dumps({"id": key}),
            after_json=None if op == "delete" else json.dumps({"id": key, "v": v}),
            before_key_json=None if before is None else json.dumps({"id": before}),
            secured=None,
        )

    envelope = spark.createDataFrame(
        [ev("update", 1, 4, 10, before=1), ev("update", 2, 2, 21), ev("update", 3, 5, 21, before=2)],
        ENVELOPE_SCHEMA,
    )
    target = spark.createDataFrame(
        [Row(id=k, v=v) for k, v in {1: 10, 2: 20, 3: 30}.items()], TARGET_SCHEMA
    )
    changes = changes_for_table(envelope, "t", TARGET_SCHEMA, ["id"])
    merged = apply_changes(target, changes, keys=["id"])
    assert {r.id: r.v for r in merged.collect()} == _fold_oracle(
        {1: 10, 2: 20, 3: 30},
        [(1, "delete", None, 1), (4, "update", 10, 1), (2, "update", 21, 2),
         (2, "delete", None, 3), (5, "update", 21, 3)],
    )


@given(
    day=st.dates(min_value=date(2020, 1, 1), max_value=date(2030, 12, 31)),
)
@settings(max_examples=200, deadline=None)
def test_tz_windows_are_half_open_partitions(day):
    # consecutive day windows tile exactly
    s1, e1 = tz.jst_day_range(day)
    s2, e2 = tz.jst_day_range(day + timedelta(days=1))
    assert e1 == s2
    assert (e1 - s1) == timedelta(days=1)
    # week contains the day, starts Sunday, spans exactly 7 days
    ws, we = tz.jst_week_range(day)
    assert ws <= tz.jst_to_utc(
        __import__("datetime").datetime(day.year, day.month, day.day)
    ) < we
    assert (we - ws) == timedelta(days=7)
    assert (ws + tz.JST_OFFSET).weekday() == 6  # Sunday
    # month window covers the day and starts on the 1st
    ms, me = tz.jst_month_range(day)
    assert (ms + tz.JST_OFFSET).day == 1
    assert ms <= tz.jst_to_utc(
        __import__("datetime").datetime(day.year, day.month, day.day)
    ) < me


def test_compaction_null_seq_loses(spark):
    """A malformed event whose seq read as NULL (Spark's JSON reader
    does not enforce nullable=False) must LOSE compaction to any
    sequenced change — the window form's `seq DESC` was NULLS LAST,
    and the min_by(struct(-seq, ...)) rewrite needs an explicit
    nulls-last flag to preserve that (r8 review)."""
    from sync_spark.operators.merge import compact_latest_per_key

    rows = [
        (1, "k1", None, "upsert", "malformed"),
        (2, "k1", 5, "upsert", "good"),
        (3, "k2", None, "upsert", "only-null"),
    ]
    df = spark.createDataFrame(
        rows, "rid long, key string, seq long, op string, payload string"
    )
    out = {r.key: r for r in compact_latest_per_key(df, ["key"]).collect()}
    assert out["k1"].payload == "good"        # sequenced row wins
    assert out["k2"].payload == "only-null"   # all-null group still emits
