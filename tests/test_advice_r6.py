"""Regression tests for the round-6 ADVICE findings (dedup.py side;
the vacuum crash-window fix is covered in test_delta_export.py::
TestCheckpoint::test_vacuum_base_commit_self_corrects_checkpoint_replay).
"""

from __future__ import annotations

import pytest

from sync_spark.operators import dedup


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
            hint = dedup.kernel_spread_hint(sess, sf_small, "documents")
            assert isinstance(hint, str)
        finally:
            sess.conf.unset("spark.sql.files.maxPartitionBytes")


class TestUnknownLayoutNoHint:
    """ADVICE r6 medium: unknown table layout (remote storage,
    non-.parquet names) must produce NO repartition hint — an
    unconditional REPARTITION(defaultParallelism) at 100 TB forces a
    full-corpus shuffle and can SHRINK a thousands-split scan."""

    def test_width_zero_on_unknown_layout(self, spark, tmp_path):
        assert (
            dedup.kernel_spread_width_from_files(spark, str(tmp_path), "documents")
            == 0
        )

    def test_hint_empty_on_unknown_layout(self, spark, tmp_path):
        assert dedup.kernel_spread_hint(spark, str(tmp_path), "documents") == ""

    def test_known_toy_layout_still_spreads(self, spark, sf_small):
        # the sf0.001 documents table is a single tiny file: the
        # conditional must still fire there (narrow scan, real kernel)
        assert dedup.kernel_spread_width_from_files(spark, sf_small, "documents") >= 2
