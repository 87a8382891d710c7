"""Tests for the round-5 Bloom-filter decontamination and the
fastText-style hashed linear quality classifier."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from sync_spark.operators import dedup
from sync_spark.operators.text_queries import (
    d_bloom_decontaminate,
    t_quality_classifier,
)


def _split(spark, sf_small):
    d = spark.read.parquet(f"{sf_small}/documents.parquet")
    return d.filter(F.col("source") != "src0"), d.filter(F.col("source") == "src0")


class TestBloomDecontaminate:
    def test_no_false_negatives_vs_exact(self, spark, sf_small):
        """The Bloom guarantee that matters for decontamination: every
        doc the exact fingerprint join flags MUST be flagged by the
        bitmap probe (one-sided error only)."""
        corpus, bench = _split(spark, sf_small)
        exact = dedup.decontaminate(corpus, bench)
        bloom = dedup.bloom_decontaminate(corpus, bench)
        missed = (
            exact.filter(F.col("contaminated"))
            .select("doc_id")
            .join(bloom.filter(F.col("flagged")).select("doc_id"), "doc_id", "left_anti")
        )
        assert missed.count() == 0

    def test_n_maybe_at_least_exact_hits(self, spark, sf_small):
        """Per doc, the Bloom maybe-count is ≥ the exact distinct-fp
        hit floor (bits only ever over-approximate)."""
        corpus, bench = _split(spark, sf_small)
        bloom = dedup.bloom_decontaminate(corpus, bench)
        exact = dedup.decontaminate(corpus, bench)
        joined = bloom.join(exact, "doc_id").collect()
        assert joined, "corpus split is empty"
        # n_hits counts (fp, bench_doc) collisions which can exceed
        # distinct fps, so compare against the flag, not the count
        for r in joined:
            if r["contaminated"]:
                assert r["n_maybe"] >= 1

    def test_covers_every_corpus_doc(self, spark, sf_small):
        corpus, bench = _split(spark, sf_small)
        out = dedup.bloom_decontaminate(corpus, bench)
        assert out.count() == corpus.count()
        assert out.select("doc_id").distinct().count() == corpus.count()

    def test_bitmap_is_one_bounded_row(self, spark, sf_small):
        _, bench = _split(spark, sf_small)
        dedup.winnow_fingerprint_rows(bench, "text", "doc_id").createOrReplaceTempView(
            "__bm_test_fps"
        )
        bm = spark.sql(
            f"WITH {dedup.bloom_bitmap_sql('__bm_test_fps')} SELECT bloom FROM __bmbitmap"
        ).collect()
        assert len(bm) == 1
        words = bm[0]["bloom"]
        assert len(words) <= dedup.BLOOM_M_BITS // 64
        assert all(0 <= w < dedup.BLOOM_M_BITS // 64 for w in words.keys())

    def test_planted_verbatim_overlap_is_flagged(self, spark):
        """A corpus doc embedding an 8+-token verbatim run from a
        benchmark doc must be flagged (k=5, window=4 ⇒ any shared run
        of ≥ 8 tokens shares a winnowing fingerprint)."""
        run = "alpha beta gamma delta epsilon zeta eta theta"
        bench = spark.createDataFrame(
            [(100, f"prefix words {run} suffix words")], ["doc_id", "text"]
        )
        corpus = spark.createDataFrame(
            [
                (1, f"totally different opening {run} and a different ending"),
                (2, "no overlap here at all just unrelated words only"),
            ],
            ["doc_id", "text"],
        )
        out = {r["doc_id"]: r["flagged"] for r in dedup.bloom_decontaminate(
            corpus, bench
        ).collect()}
        assert out[1] is True

    def test_registry_query_runs(self, spark, sf_small):
        out = d_bloom_decontaminate(spark, sf_small)
        assert out.columns == ["doc_id", "n_maybe", "flagged"]
        assert out.count() > 0


class TestQualityClassifier:
    def test_feature_count_is_unigrams_plus_bigrams(self, spark, sf_small):
        out = t_quality_classifier(spark, sf_small)
        d = spark.read.parquet(f"{sf_small}/documents.parquet").select(
            "doc_id", F.size(F.split(F.trim("text"), r"\s+")).alias("n_tok")
        )
        joined = out.join(d, "doc_id").collect()
        assert joined
        for r in joined:
            expected = 2 * r["n_tok"] - 1 if r["n_tok"] >= 1 else 0
            assert r["n_feats"] == expected, r

    def test_empty_text_drops(self, spark):
        df = spark.createDataFrame([(1, ""), (2, "   ")], ["doc_id", "text"])
        df.createOrReplaceTempView("__qc_tmp")
        from sync_spark.operators import text_queries as tq
        from sync_spark.functions import text as T

        feats = df.select(
            "doc_id", T.tokens(F.col("text")).alias("toks")
        ).select("doc_id", F.size("toks").alias("n"))
        assert {r["n"] for r in feats.collect()} == {0}

    def test_deterministic_across_runs(self, spark, sf_small):
        a = t_quality_classifier(spark, sf_small).orderBy("doc_id").collect()
        b = t_quality_classifier(spark, sf_small).orderBy("doc_id").collect()
        assert a == b

    def test_label_matches_sign(self, spark, sf_small):
        for r in t_quality_classifier(spark, sf_small).collect():
            if r["n_feats"] == 0:
                assert r["label"] == "drop"
            else:
                assert r["label"] == ("keep" if r["w_sum"] >= 0 else "drop")
