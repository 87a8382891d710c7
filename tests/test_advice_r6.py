"""Regression tests for the round-6 ADVICE findings (dedup.py side;
the vacuum crash-window fix is covered in test_delta_export.py::
TestCheckpoint::test_vacuum_base_commit_self_corrects_checkpoint_replay).
"""

from __future__ import annotations

import os

import pytest

from sync_spark.operators import dedup
from sync_spark.sources.readers import read_table


class TestParseByteSize:
    """dedup._parse_byte_size handles the full Spark byte-size conf
    grammar instead of int(value.rstrip('b'))."""

    @pytest.mark.parametrize(
        "raw, expect",
        [
            ("134217728", 134217728),
            ("134217728b", 134217728),
            ("128m", 128 * 1024 * 1024),
            ("128MB", 128 * 1024 * 1024),
            ("128k", 128 * 1024),
            ("1g", 1 << 30),
            ("2t", 2 << 40),
            ("  64M  ", 64 * 1024 * 1024),
        ],
    )
    def test_grammar(self, raw, expect):
        assert dedup._parse_byte_size(raw) == expect

    def test_unparseable_falls_back(self):
        assert dedup._parse_byte_size("garbage") == 134217728
        assert dedup._parse_byte_size("", default=7) == 7
        assert dedup._parse_byte_size(None, default=7) == 7

    def test_hint_survives_suffixed_session_conf(self, spark, sf_small):
        """A session with maxPartitionBytes set to '128m' must not
        raise at query construction (ADVICE r6 low)."""
        sess = spark.newSession()
        sess.conf.set("spark.sql.files.maxPartitionBytes", "128m")
        try:
            hint = dedup.spread_hint(read_table(sess, sf_small, "documents"))
            assert isinstance(hint, str)
        finally:
            sess.conf.unset("spark.sql.files.maxPartitionBytes")


class TestUnknownLayoutNoHint:
    """ADVICE r6 medium: a frame with no local files behind it
    (in-memory rows, remote storage) must get NO repartition — an
    unconditional REPARTITION(defaultParallelism) at 100 TB forces a
    full-corpus shuffle and can SHRINK a thousands-split scan."""

    def test_width_zero_on_unknown_layout(self, spark):
        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        assert dedup._frame_spread_width(df) == 0
        assert dedup.spread_for_kernel(df) is df

    def test_hint_empty_on_unknown_layout(self, spark):
        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        assert dedup.spread_hint(df) == ""

    def test_known_toy_layout_still_spreads(self, spark, sf_small):
        # the sf0.001 documents table is a single tiny file: the
        # conditional must still fire there (narrow scan, real kernel)
        assert dedup._frame_spread_width(read_table(spark, sf_small, "documents")) >= 2


@pytest.mark.parametrize("table", ["documents", "embeddings", "customer"])
def test_frame_width_follows_file_byte_rule(spark, sf_small, sf_oracle, table):
    """The frame width is the ~32 KB/task rule over the table file's
    os.stat bytes, capped at defaultParallelism, and fires only when
    the expected scan splits are fewer than that width."""
    cap = spark.sparkContext.defaultParallelism
    max_split = dedup._parse_byte_size(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    for sf_dir in (sf_small, sf_oracle):
        size = os.stat(os.path.join(sf_dir, f"{table}.parquet")).st_size
        width = max(2, min(cap, size // (32 * 1024) + 1))
        want = width if -(-size // max_split) < width else 0
        df = read_table(spark, sf_dir, table)
        assert dedup._frame_spread_width(df) == want
        assert dedup.spread_hint(df) == (f"/*+ REPARTITION({want}) */" if want else "")
