

class TestWinnowSqlKernel:
    def test_sql_kernel_agrees_with_column_kernel(self, spark):
        """winnow_sql_kernel must stay in lockstep with
        winnow_fps_columns: same (id, fp) row set on a corpus with
        short docs, empty docs, and repeated runs."""
        from sync_spark.operators.dedup import (
            winnow_fingerprint_rows,
            winnow_sql_kernel,
        )

        rows = [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy dog again and again"),
            (3, "short doc"),
            (4, ""),
            (5, "a b c d e f g h i j k l m n o p a b c d e f g h"),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        df.createOrReplaceTempView("__wk_test_docs")
        got = spark.sql(
            "WITH __src AS (SELECT doc_id, text FROM __wk_test_docs), "
            + winnow_sql_kernel("doc_id", "text", "__src", k=5, window=4)
            + " SELECT doc_id, fp FROM __wfp"
        )
        want = winnow_fingerprint_rows(df, "text", "doc_id", k=5, window=4)
        assert {(r.doc_id, r.fp) for r in got.collect()} == {
            (r.doc_id, r.fp) for r in want.collect()
        }

    def test_prefixed_kernels_compose_in_one_statement(self, spark):
        """Two winnow_sql_kernel instantiations (distinct prefixes)
        must coexist in one WITH clause — the shape the r7 bloom
        pipeline uses for its corpus + benchmark sides."""
        from sync_spark.operators.dedup import winnow_sql_kernel

        rows = [(1, "a b c d e f g h i j"), (2, "a b c d e f g h i j"), (3, "")]
        spark.createDataFrame(rows, ["doc_id", "text"]).createOrReplaceTempView(
            "__pk_docs"
        )
        ka = winnow_sql_kernel("doc_id", "text", "__pk_a", k=5, window=4, prefix="__pa")
        kb = winnow_sql_kernel("doc_id", "text", "__pk_b", k=5, window=4, prefix="__pb")
        got = spark.sql(
            "WITH __pk_a AS (SELECT * FROM __pk_docs WHERE doc_id = 1), "
            "__pk_b AS (SELECT * FROM __pk_docs WHERE doc_id = 2), "
            + ka + ", " + kb
            + " SELECT a.fp FROM __pafp a JOIN __pbfp b ON a.fp = b.fp"
        )
        assert got.count() > 0  # identical docs share every fingerprint

    def test_incremental_probe_sql_agrees_with_shared_fp_counts(self, spark, sf_small):
        """The d_incremental_probe one-pass SQL must reproduce the
        shared_fp_counts composition it replaced (r11)."""
        from pyspark.sql import functions as F

        from sync_spark.operators import dedup
        from sync_spark.operators.incremental import shared_fp_counts
        from sync_spark.operators.relational import _t
        from sync_spark.operators.text_queries import (
            _WINNOW_K,
            _WINNOW_W,
            d_incremental_probe,
        )

        d = _t(spark, sf_small, "documents")
        corpus_fps = dedup.winnow_fingerprint_rows(
            d.filter(F.col("doc_id") % 7 != 0), "text", "doc_id",
            k=_WINNOW_K, window=_WINNOW_W,
        ).select("fp").distinct()
        want = shared_fp_counts(
            d.filter(F.col("doc_id") % 7 == 0).select("doc_id", "text"),
            corpus_fps, "text", "doc_id",
            k=_WINNOW_K, window=_WINNOW_W, min_shared=2,
        ).select(
            "doc_id",
            F.col("n_shared_fps").cast("long").alias("n_shared_fps"),
            "is_dup",
        )
        got = d_incremental_probe(spark, sf_small)
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        ) and got.count() > 0

    def test_simhash_pairs_sql_agrees_with_operator(self, spark, sf_small):
        """The signatures simhash_pairs_cached builds in SQL must equal
        the Column-built simhash operator's for every document — same
        lane-packed votes, same signature bits — and the chunk values
        must reassemble each signature."""
        from sync_spark.operators import dedup
        from sync_spark.operators.relational import _t

        d = _t(spark, sf_small, "documents")
        want = {r.doc_id: r.simhash for r in dedup.simhash(d, "text", "doc_id").collect()}
        d.createOrReplaceTempView("__sh_sig_docs")
        dedup.simhash_pairs_cached(spark, "__sh_sig_docs")
        chunks = dedup._live_chunk_cache[-1].collect()
        got, parts = {}, {}
        for r in chunks:
            got[r.doc_id] = r.simhash
            parts[r.doc_id] = parts.get(r.doc_id, 0) | (r.chunk_val << (16 * r.chunk))
        assert got == want and len(got) > 0
        assert all(parts[i] == got[i] & 0xFFFFFFFFFFFFFFFF for i in got)

    def test_simhash_pairs_cached_agrees_with_twin(self, spark, sf_small):
        """Pigeonhole on 4×16-bit chunks is EXACT for hamming ≤ 3 (three
        differing bits leave at least one chunk equal), so the shipped
        pair set must equal a brute force over ALL document pairs of the
        independent Column-built signatures."""
        from sync_spark.operators import dedup
        from sync_spark.operators.relational import _t

        d = _t(spark, sf_small, "documents")
        sigs = {r.doc_id: r.simhash for r in dedup.simhash(d, "text", "doc_id").collect()}
        ids = sorted(sigs)
        want = set()
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                ham = bin((sigs[a] ^ sigs[b]) & 0xFFFFFFFFFFFFFFFF).count("1")
                if ham <= 3:
                    want.add((a, b, ham))
        d.createOrReplaceTempView("__sh_exact_docs")
        got = {tuple(r) for r in dedup.simhash_pairs_cached(spark, "__sh_exact_docs").collect()}
        assert got == want and len(got) > 0

    def test_winnow_pairs_sql_agrees_with_operator(self, spark):
        """winnow_pairs (one spark.sql statement) must equal pairs
        counted on the driver from the Column-kernel fingerprints of
        winnow_fingerprint_rows: postings per fingerprint, postings
        longer than max_posting dropped, pairs sharing ≥ min_shared."""
        from sync_spark.operators.dedup import winnow_fingerprint_rows, winnow_pairs

        rows = [
            (i, "the quick brown fox jumps over the lazy dog near the river bank " + tail)
            for i, tail in [
                (1, "alpha beta"), (2, "alpha beta"), (3, "gamma delta"),
                (4, "totally different words entirely here now indeed"),
            ]
        ] + [(5, "short"), (6, "")]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        postings = {}
        for r in winnow_fingerprint_rows(df, "text", "doc_id", k=5, window=4).collect():
            postings.setdefault(r.fp, set()).add(r.doc_id)
        shared = {}
        for ids in postings.values():
            ids = sorted(ids)
            if 2 <= len(ids) <= 100:
                for i, a in enumerate(ids):
                    for b in ids[i + 1:]:
                        shared[(a, b)] = shared.get((a, b), 0) + 1
        want = {(a, b, n) for (a, b), n in shared.items() if n >= 2}
        got = winnow_pairs(df, "text", "doc_id", k=5, window=4,
                           min_shared=2, max_posting=100)
        assert {tuple(r) for r in got.collect()} == want and len(want) > 0


def test_simhash_chunk_cache_bounded_to_one_entry(spark, sf_small):
    from sync_spark.operators import dedup
    from sync_spark.session import load_tables

    load_tables(spark, sf_small)
    dedup.simhash_pairs_cached(spark, "documents").count()
    assert len(dedup._live_chunk_cache) == 1
    first = dedup._live_chunk_cache[0]
    dedup.simhash_pairs_cached(spark, "documents").count()
    assert len(dedup._live_chunk_cache) == 1
    assert dedup._live_chunk_cache[0] is not first
