"""Streaming corpus curation: quality gate + streaming exact dedup
over the CDC envelope, checked against a batch-computed oracle
(quality filter + first-arrival-per-fingerprint)."""

from __future__ import annotations

import json

import pytest

from sync_spark.sources.cdc import write_event_batch
from sync_spark.streaming.curation import CurationPipeline

GOOD_A = "the quick brown fox jumps over the lazy dog and runs away to the hills"
GOOD_B = "a model is trained on the data and the loss goes down as it learns"
GOOD_C = "the cat sat on the mat and the dog sat on the log by the fire"
LOW_QUALITY = "!!! ??? *** ### $$$ %%% ^^^ &&& @@@ ;;;"  # punctuation soup
TOO_SHORT = "the tiny one"
WRONG_LANG = "le chat est sur la table et le chien est dans le jardin"  # fr text, lang=en


def _event(seq, doc_id, text, lang="en", ts="2024-01-01T10:00:00Z"):
    return {
        "op": "insert",
        "seq": seq,
        "ts": ts,
        "source_table": "documents",
        "key_json": json.dumps({"doc_id": doc_id}),
        "after_json": json.dumps({"doc_id": doc_id, "text": text, "lang": lang}),
    }


@pytest.fixture
def dirs(tmp_path):
    return {
        "events": str(tmp_path / "events"),
        "out": str(tmp_path / "curated"),
        "ckpt": str(tmp_path / "ckpt"),
    }


def _pipeline(spark, dirs):
    return CurationPipeline(
        spark,
        event_log_dir=dirs["events"],
        out_path=dirs["out"],
        checkpoint_dir=dirs["ckpt"],
        watermark="1 hour",
    )


def _curated(spark, dirs):
    return {r.doc_id: r for r in spark.read.parquet(dirs["out"]).collect()}


def test_quality_gate_and_in_batch_dedup(spark, dirs):
    events = [
        _event(1, 1, GOOD_A),
        _event(2, 2, LOW_QUALITY),
        _event(3, 3, TOO_SHORT),
        _event(4, 4, WRONG_LANG),
        _event(5, 5, GOOD_A),  # exact dup of doc 1 — dropped
        _event(6, 6, GOOD_B),
    ]
    write_event_batch(dirs["events"], events, 1)
    _pipeline(spark, dirs).run_available()
    out = _curated(spark, dirs)
    assert set(out) == {1, 6}
    assert out[1].fp == out[1].fp  # fingerprint column present
    assert out[1].n_tokens == len(GOOD_A.split())
    assert out[6].quality >= 0.3


def test_cross_batch_dedup_within_watermark(spark, dirs):
    """A fingerprint seen in batch 1 is dropped when re-sent in batch
    2 (same event-time horizon) — streaming state, not in-batch
    compaction."""
    write_event_batch(dirs["events"], [_event(1, 1, GOOD_A)], 1)
    p = _pipeline(spark, dirs)
    p.run_available()
    write_event_batch(
        dirs["events"],
        [
            _event(2, 9, GOOD_A, ts="2024-01-01T10:10:00Z"),  # re-send, same text
            _event(3, 7, GOOD_C, ts="2024-01-01T10:10:00Z"),  # new
        ],
        2,
    )
    _pipeline(spark, dirs).run_available()  # fresh pipeline object, same checkpoint
    out = _curated(spark, dirs)
    assert set(out) == {1, 7}


def test_deletes_and_other_tables_ignored(spark, dirs):
    events = [
        _event(1, 1, GOOD_A),
        {**_event(2, 2, GOOD_B), "op": "delete", "after_json": None},
        {**_event(3, 3, GOOD_C), "source_table": "orders"},
    ]
    write_event_batch(dirs["events"], events, 1)
    _pipeline(spark, dirs).run_available()
    assert set(_curated(spark, dirs)) == {1}


def test_matches_batch_oracle(spark, dirs):
    """Stream result == batch oracle: quality gate + min-seq winner
    per fingerprint, computed with plain batch ops on the same log."""
    from pyspark.sql import functions as F

    from sync_spark.sources.cdc import read_event_log
    from sync_spark.streaming.curation import DOC_SCHEMA, curation_signals

    texts = [GOOD_A, GOOD_B, GOOD_C, LOW_QUALITY, TOO_SHORT, WRONG_LANG]
    events = []
    seq = 0
    for rep in range(3):  # every text sent three times across batches
        for i, t in enumerate(texts):
            seq += 1
            events.append(_event(seq, 100 * rep + i, t))
    for b in range(3):
        write_event_batch(dirs["events"], events[b * 6 : (b + 1) * 6], b + 1)
    # one file per micro-batch: ACROSS batches the first-processed
    # fingerprint wins (file order = seq order here), which makes the
    # min-seq oracle exact. WITHIN one micro-batch the survivor among
    # simultaneous duplicates is operator-chosen — the weaker
    # fingerprint-set contract, asserted in the other tests.
    p = CurationPipeline(
        spark,
        event_log_dir=dirs["events"],
        out_path=dirs["out"],
        checkpoint_dir=dirs["ckpt"],
        watermark="1 hour",
        max_files_per_trigger=1,
    )
    p.run_available()

    env = read_event_log(spark, dirs["events"])
    after = F.from_json("after_json", DOC_SCHEMA)
    docs = env.filter(
        (F.col("source_table") == "documents") & (F.col("op") != "delete")
    ).select(*[after[f.name].alias(f.name) for f in DOC_SCHEMA.fields], "seq")
    sig = curation_signals(docs)
    gated = sig.filter(
        (F.col("n_tokens") >= 5)
        & (F.col("quality") >= 0.3)
        & (F.col("lang_pred") == F.col("lang"))
    )
    first = (
        gated.groupBy("fp")
        .agg(F.min("seq").alias("seq"))
        .join(gated, ["fp", "seq"])
        .select("doc_id")
    )
    expected = {r.doc_id for r in first.collect()}
    assert set(_curated(spark, dirs)) == expected
    assert expected  # non-degenerate: something survived


def test_streaming_decontamination_gate(spark, dirs):
    """A streaming doc sharing a verbatim >= k+window-1 token run with
    the benchmark never reaches the curated corpus; clean docs do."""
    from pyspark.sql import Row

    bench_run = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    benchmark = spark.createDataFrame(
        [Row(doc_id=1, text=f"the benchmark includes {bench_run} verbatim")],
    )
    contaminated = (
        f"the model is trained on the data and {bench_run} appears in the middle of it"
    )
    events = [
        _event(1, 1, GOOD_A),
        _event(2, 2, contaminated),
        _event(3, 3, GOOD_B),
    ]
    write_event_batch(dirs["events"], events, 1)
    p = CurationPipeline(
        spark,
        event_log_dir=dirs["events"],
        out_path=dirs["out"],
        checkpoint_dir=dirs["ckpt"],
        watermark="1 hour",
        benchmark=benchmark,
    )
    p.run_available()
    assert set(_curated(spark, dirs)) == {1, 3}


def test_coverage_model_gate(spark, dirs):
    """Model-assisted streaming gate: docs whose bigrams never appear
    in the reference corpus (gibberish transitions) die in the scan
    stage; docs made of reference-corpus transitions pass, and the
    streaming column equals the batch computation of the same score."""
    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from sync_spark.streaming.curation import (
        CurationPipeline,
        lm_coverage_col,
        train_topk_bigrams,
    )

    ref = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate([GOOD_A, GOOD_B, GOOD_C])]
    )
    model = train_topk_bigrams(ref, k=4096)
    assert model and all(isinstance(m, str) for m in model)

    fluent = GOOD_C  # transitions all inside the reference corpus
    gibberish = "dog the fox hills quick away brown lazy runs jumps the over and to"
    write_event_batch(
        dirs["events"],
        [_event(1, 1, fluent), _event(2, 2, gibberish)],
        1,
    )
    pipe = CurationPipeline(
        spark,
        event_log_dir=dirs["events"],
        out_path=dirs["out"],
        checkpoint_dir=dirs["ckpt"],
        coverage_model=model,
        min_coverage_e6=500_000,
    )
    pipe.run_available()
    got = _curated(spark, dirs)
    assert 1 in got and 2 not in got
    assert got[1]["lm_coverage_e6"] == 1_000_000
    # streaming column == batch computation of the same score
    batch = spark.createDataFrame([Row(text=fluent)]).select(
        lm_coverage_col(F.col("text"), model)
    ).collect()[0][0]
    assert batch == got[1]["lm_coverage_e6"]
    # unscorable doc (single token, no bigram): NULL coverage passes
    # the coverage gate but min_tokens still owns the short-doc gate
    one = spark.createDataFrame([Row(text="hello")]).select(
        lm_coverage_col(F.col("text"), model)
    ).collect()[0][0]
    assert one is None


def test_schema_stable_across_coverage_toggle(spark, dirs):
    """ADVICE r5 (low): lm_coverage_e6 is always in the sink schema
    (null when no coverage model), so re-running the pipeline on an
    existing out_path with the option toggled never appends parquet
    files with a different schema."""
    write_event_batch(dirs["events"], [_event(1, 1, GOOD_A)], 1)
    _pipeline(spark, dirs).run_available()
    first = spark.read.parquet(dirs["out"])
    assert "lm_coverage_e6" in first.columns
    assert first.collect()[0]["lm_coverage_e6"] is None

    # second run over the SAME out_path, coverage model now on
    write_event_batch(dirs["events"], [_event(2, 2, GOOD_B)], 2)
    CurationPipeline(
        spark,
        event_log_dir=dirs["events"],
        out_path=dirs["out"],
        checkpoint_dir=dirs["ckpt"],
        watermark="1 hour",
        coverage_model=["the\x1fquick", "a\x1fmodel"],
        min_coverage_e6=0,
    ).run_available()
    both = spark.read.parquet(dirs["out"])
    assert both.count() == 2
    got = {r.doc_id: r["lm_coverage_e6"] for r in both.collect()}
    assert got[1] is None and got[2] is not None
