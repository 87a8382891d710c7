"""Retrieval-family tests (round 8): BM25 top-k and RAG chunking —
edge cases on handcrafted corpora plus DuckDB-oracle agreement on a
corpus small enough to reason about by hand."""

from __future__ import annotations

import duckdb
import pytest

from sync_spark.operators import retrieval as rt

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def write_docs(spark, tmp_path, rows, name="sf_rt"):
    d = str(tmp_path / name)
    spark.createDataFrame(
        [(i, t, "en", "src0", len(t) if t is not None else 0) for i, t in rows],
        DOC_SCHEMA,
    ).write.parquet(f"{d}/documents.parquet")
    return d


def duck_on(d):
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{d}/documents.parquet/*.parquet')"
    )
    return con


class TestChunkDocs:
    def test_boundaries_and_overlap(self, spark, tmp_path):
        """64 tokens → 1 chunk; 65 → 2; 112 → 2; 113 → 3; stride-48
        windows mean consecutive chunks share exactly 16 tokens."""
        mk = lambda n: " ".join(f"w{i}" for i in range(n))
        d = write_docs(
            spark,
            tmp_path,
            [(1, mk(64)), (2, mk(65)), (3, mk(112)), (4, mk(113)), (5, mk(1))],
        )
        out = rt.t_chunk_docs(spark, d).collect()
        per_doc = {}
        for r in out:
            per_doc.setdefault(r.doc_id, []).append(r)
        assert {k: len(v) for k, v in per_doc.items()} == {1: 1, 2: 2, 3: 2, 4: 3, 5: 1}
        # full coverage: last chunk reaches the last token
        for doc_id, n in [(1, 64), (2, 65), (3, 112), (4, 113), (5, 1)]:
            chunks = sorted(per_doc[doc_id], key=lambda r: r.chunk_idx)
            last = chunks[-1]
            assert last.start_tok + last.chunk_len == n
            # offsets are stride-spaced, full chunks are CHUNK_TOKENS wide
            for c in chunks:
                assert c.start_tok == c.chunk_idx * rt.CHUNK_STRIDE
                assert c.chunk_len == min(rt.CHUNK_TOKENS, n - c.start_tok)
            # overlap: chunk i+1 repeats the last SIZE-STRIDE tokens
            for a, b in zip(chunks, chunks[1:]):
                assert (
                    a.chunk_text.split()[rt.CHUNK_STRIDE :]
                    == b.chunk_text.split()[: rt.CHUNK_TOKENS - rt.CHUNK_STRIDE]
                )

    def test_empty_and_null_docs_emit_nothing(self, spark, tmp_path):
        d = write_docs(
            spark, tmp_path, [(1, ""), (2, "   "), (3, None), (4, "one two")]
        )
        out = rt.t_chunk_docs(spark, d).collect()
        assert [r.doc_id for r in out] == [4]
        assert out[0].chunk_text == "one two" and out[0].chunk_len == 2

    def test_oracle_agreement_micro(self, spark, tmp_path):
        mk = lambda n, p: " ".join(f"{p}{i}" for i in range(n))
        d = write_docs(
            spark,
            tmp_path,
            [(1, mk(200, "a")), (2, ""), (3, mk(64, "b")), (4, mk(65, "c"))],
        )
        got = sorted(tuple(r) for r in rt.t_chunk_docs(spark, d).collect())
        want = sorted(tuple(r) for r in duck_on(d).execute(rt.T_CHUNK_SQL).fetchall())
        assert got == want


class TestBM25:
    def test_ranking_and_exclusion(self, spark, tmp_path):
        """A doc stuffed with a query term outranks a doc mentioning it
        once at equal length; docs with zero query-term hits never
        appear under that query."""
        d = write_docs(
            spark,
            tmp_path,
            [
                (1, "spark " * 5 + "pad " * 5),
                (2, "spark " + "pad " * 9),
                (3, "pad " * 10),
                (4, "hash merge filter " * 3),
            ],
        )
        rows = rt.t_bm25_topk(spark, d).collect()
        q0 = {r.doc_id: r for r in rows if r.query_id == 0}
        assert set(q0) == {1, 2}  # doc 3/4 have no q0 terms
        assert q0[1].score_e4 > q0[2].score_e4
        assert q0[1].rk == 1 and q0[2].rk == 2
        q1 = {r.doc_id for r in rows if r.query_id == 1}
        assert q1 == {4}

    def test_shorter_doc_wins_at_equal_tf(self, spark, tmp_path):
        """BM25 length normalization: same tf, shorter doc scores
        higher (b = 0.75 > 0)."""
        d = write_docs(
            spark,
            tmp_path,
            [(1, "spark " + "pad " * 4), (2, "spark " + "pad " * 20)],
        )
        rows = {r.doc_id: r for r in rt.t_bm25_topk(spark, d).collect() if r.query_id == 0}
        assert rows[1].score_e4 > rows[2].score_e4

    def test_k_bound_and_tiebreak(self, spark, tmp_path):
        """More than K matching docs → exactly K rows, lowest doc_id
        wins ties (identical docs score identically)."""
        d = write_docs(
            spark, tmp_path, [(i, "spark pad") for i in range(rt.BM25_K + 5)]
        )
        rows = sorted(
            (r for r in rt.t_bm25_topk(spark, d).collect() if r.query_id == 0),
            key=lambda r: r.rk,
        )
        assert len(rows) == rt.BM25_K
        assert [r.doc_id for r in rows] == list(range(rt.BM25_K))
        assert len({r.score_e4 for r in rows}) == 1

    def test_oracle_agreement_micro(self, spark, tmp_path):
        d = write_docs(
            spark,
            tmp_path,
            [
                (1, "spark join window spark"),
                (2, "hash merge filter hash merge"),
                (3, "customer order value pad pad pad"),
                (4, ""),
                (5, "spark " * 30),
                (6, "join window join window pad"),
            ],
        )
        got = sorted(tuple(r) for r in rt.t_bm25_topk(spark, d).collect())
        want = sorted(tuple(r) for r in duck_on(d).execute(rt.T_BM25_SQL).fetchall())
        assert got == want

    def test_int64_bounds_documented(self):
        """The module's overflow bound: largest intermediate at
        L = 2.7e9, tf = 500, N = 5e7 stays under 2^63."""
        L, tf, N = 2_700_000_000, 500, 50_000_000
        assert 44 * L * tf * 10_000 < 2**63
        idf_max = ((2 * N + 1) * 10_000) // 1
        tfc_max = 22_000  # tf·(k1+1)/tf ≤ 2.2, scaled 1e4
        assert idf_max * tfc_max < 2**63


class TestBM25Index:
    """Persisted inverted-index path: bit-identical to the scan form
    (the index is an optimization, never a semantics change — the
    incremental.py contract)."""

    def test_index_agrees_with_scan_form(self, spark, tmp_path, sf_small):
        d = f"{sf_small}"
        idx = str(tmp_path / "bm25_idx")
        stats = rt.build_bm25_index(
            spark.read.parquet(f"{d}/documents.parquet"), idx
        )
        assert stats["n_docs"] > 0 and stats["total_tokens"] > stats["n_docs"]
        got = sorted(tuple(r) for r in rt.bm25_index_topk(spark, idx).collect())
        want = sorted(tuple(r) for r in rt.t_bm25_topk(spark, d).collect())
        assert got == want

    def test_index_micro_and_missing_terms(self, spark, tmp_path):
        d = write_docs(
            spark,
            tmp_path,
            [
                (1, "spark join window spark pad"),
                (2, "hash merge filter"),
                (3, "pad pad pad"),
                (4, ""),
            ],
        )
        idx = str(tmp_path / "idx2")
        rt.build_bm25_index(spark.read.parquet(f"{d}/documents.parquet"), idx)
        got = sorted(tuple(r) for r in rt.bm25_index_topk(spark, idx).collect())
        want = sorted(tuple(r) for r in rt.t_bm25_topk(spark, d).collect())
        assert got == want
        # a query set whose terms are all absent returns zero rows
        none = rt.bm25_index_topk(spark, idx, queries=[(9, ["zzz", "qqq"])])
        assert none.count() == 0

    def test_postings_are_bucket_pruned(self, spark, tmp_path):
        """The query-time read must not scan the whole postings store:
        the FileScan's partition filter pins __bucket membership."""
        d = write_docs(spark, tmp_path, [(i, f"tok{i} spark") for i in range(20)])
        idx = str(tmp_path / "idx3")
        rt.build_bm25_index(spark.read.parquet(f"{d}/documents.parquet"), idx)
        df = rt.bm25_index_topk(spark, idx, queries=[(0, ["spark"])])
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "__bucket" in plan  # partition-pruned postings read
        assert plan.count("BatchEvalPython") == 0


class TestRRF:
    def test_fusion_semantics_micro(self, spark, tmp_path):
        """A doc ranked #1 by both rankers fuses to 2·(10⁶//61); a doc
        present in only one list gets exactly its one reciprocal."""
        d = write_docs(
            spark,
            tmp_path,
            [
                (1, "spark spark spark join window"),  # dominant for q0
                (2, "spark pad pad pad pad pad pad pad pad"),
                (3, "pad pad"),
            ],
        )
        rows = {r.doc_id: r for r in rt.t_rrf_fuse(spark, d).collect() if r.query_id == 0}
        assert set(rows) == {1, 2}
        assert rows[1].rk == 1 and rows[2].rk == 2
        # doc 1 tops both lists, doc 2 is #2 in both
        assert rows[1].rrf_e6 == 2 * (1_000_000 // (rt.RRF_K + 1))
        assert rows[2].rrf_e6 == 2 * (1_000_000 // (rt.RRF_K + 2))

    def test_oracle_agreement_micro(self, spark, tmp_path):
        d = write_docs(
            spark,
            tmp_path,
            [
                (1, "spark join window spark"),
                (2, "hash merge filter hash merge"),
                (3, "customer order value pad pad pad"),
                (4, ""),
                (5, "spark " * 30),
                (6, "join window join window pad"),
                (7, "spark pad " * 10),
            ],
        )
        got = sorted(tuple(r) for r in rt.t_rrf_fuse(spark, d).collect())
        want = sorted(tuple(r) for r in duck_on(d).execute(rt.T_RRF_SQL).fetchall())
        assert got == want

    def test_rankers_disagree_fusion_blends(self, spark, tmp_path):
        """BM25's length normalization and TF-IDF's raw dl division
        order docs differently on a crafted corpus; the fused ranking
        still contains every doc either ranker surfaced."""
        docs = [(i, "spark " * i + "pad " * (30 - i)) for i in range(1, 11)]
        d = write_docs(spark, tmp_path, docs)
        out = [r for r in rt.t_rrf_fuse(spark, d).collect() if r.query_id == 0]
        assert len(out) == 10  # all ten docs contain 'spark'
        # fused scores are strictly positive multiples of one or two
        # reciprocals, monotone in rk
        ordered = sorted(out, key=lambda r: r.rk)
        scores = [r.rrf_e6 for r in ordered]
        assert scores == sorted(scores, reverse=True)


class TestBM25IndexExtend:
    def test_extend_equals_rebuild(self, spark, tmp_path):
        a = [(1, "spark join window spark pad"), (2, "hash merge filter")]
        b = [(3, "spark " * 8 + "pad"), (4, "customer order value")]
        da = write_docs(spark, tmp_path, a, "corpA")
        dab = write_docs(spark, tmp_path, a + b, "corpAB")
        idx = str(tmp_path / "idx_ext")
        rt.build_bm25_index(spark.read.parquet(f"{da}/documents.parquet"), idx)
        slice_b = spark.createDataFrame(
            [(i, t, "en", "src0", len(t)) for i, t in b], DOC_SCHEMA
        )
        touched = rt.extend_bm25_index(slice_b, idx)
        assert touched > 0
        got = sorted(tuple(r) for r in rt.bm25_index_topk(spark, idx).collect())
        want = sorted(tuple(r) for r in rt.t_bm25_topk(spark, dab).collect())
        assert got == want

    def test_extend_idempotent(self, spark, tmp_path):
        a = [(1, "spark join"), (2, "hash merge")]
        b = [(3, "spark window pad")]
        da = write_docs(spark, tmp_path, a, "corpA2")
        idx = str(tmp_path / "idx_ext2")
        rt.build_bm25_index(spark.read.parquet(f"{da}/documents.parquet"), idx)
        slice_b = spark.createDataFrame(
            [(i, t, "en", "src0", len(t)) for i, t in b], DOC_SCHEMA
        )
        rt.extend_bm25_index(slice_b, idx)
        first = sorted(tuple(r) for r in rt.bm25_index_topk(spark, idx).collect())
        stats1 = spark.read.parquet(rt._stats_path(idx)).first()
        rt.extend_bm25_index(slice_b, idx)  # re-send the same slice
        second = sorted(tuple(r) for r in rt.bm25_index_topk(spark, idx).collect())
        stats2 = spark.read.parquet(rt._stats_path(idx)).first()
        assert first == second
        assert (stats1.n, stats1.l) == (stats2.n, stats2.l) == (3, 7)


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

# random corpora over the query vocabulary + noise words, so query
# terms hit with every tf/df mix including 0 and all-docs
_VOCAB = ["spark", "join", "window", "hash", "merge", "filter",
          "customer", "order", "value", "pad", "x", "yy"]
corpus_strategy = st.lists(
    st.lists(st.sampled_from(_VOCAB), min_size=0, max_size=12),
    min_size=1,
    max_size=8,
)


class TestRetrievalProperties:
    @settings(
        max_examples=12,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(corpus=corpus_strategy, split=st.integers(0, 7))
    def test_bm25_scan_oracle_index_agree(self, spark, tmp_path_factory, corpus, split):
        """On arbitrary corpora over the query vocabulary: the scan
        form, the DuckDB oracle, and the persisted index (built from
        a prefix and extended with the remainder) all emit identical
        rows."""
        tmp_path = tmp_path_factory.mktemp("rtprop")
        rows = [(i, " ".join(toks)) for i, toks in enumerate(corpus)]
        d = write_docs(spark, tmp_path, rows)
        scan = sorted(tuple(r) for r in rt.t_bm25_topk(spark, d).collect())
        oracle = sorted(
            tuple(r) for r in duck_on(d).execute(rt.T_BM25_SQL).fetchall()
        )
        assert scan == oracle
        split = min(split, len(rows))
        head, tail = rows[:split], rows[split:]
        idx = str(tmp_path / "idx")
        rt.build_bm25_index(
            spark.createDataFrame(
                [(i, t, "en", "s", len(t)) for i, t in head], DOC_SCHEMA
            ),
            idx,
            n_buckets=4,
        )
        if tail:
            rt.extend_bm25_index(
                spark.createDataFrame(
                    [(i, t, "en", "s", len(t)) for i, t in tail], DOC_SCHEMA
                ),
                idx,
            )
        indexed = sorted(
            tuple(r) for r in rt.bm25_index_topk(spark, idx).collect()
        )
        assert indexed == scan


class TestHybridFuse:
    """Dense+sparse RRF hybrid: BM25 over documents ∪ exact cosine
    over embeddings, fused by integer reciprocal rank."""

    def _write_pair(self, spark, tmp_path, docs, embs, name="sf_hy"):
        d = write_docs(spark, tmp_path, docs, name=name)
        spark.createDataFrame(
            embs, "vec_id long, embedding array<float>, label int"
        ).write.parquet(f"{d}/embeddings.parquet")
        return d

    def _duck(self, d):
        con = duck_on(d)
        con.execute(
            "CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{d}/embeddings.parquet/*.parquet')"
        )
        return con

    def micro(self, spark, tmp_path):
        # qid 0 terms are ["spark", "join", "window"] (BM25_QUERIES);
        # doc 10 = strong BOTH legs (terms + embedding near query 0),
        # doc 11 = dense-only (near embedding, no terms),
        # doc 12 = sparse-only (terms, orthogonal embedding),
        # doc 0  = the query's own row (no terms: unreachable — dense
        #          drops the self-hit, sparse never scores it)
        docs = [
            (0, "alpha beta gamma"),
            (1, "delta epsilon"),
            (2, "zeta eta theta"),
            (10, "spark join window spark join"),
            (11, "iota kappa lambda"),
            (12, "spark join window spark window join spark"),
            (13, "mu nu xi"),
        ]
        embs = [
            (0, [1.0, 0.0, 0.0], 0),
            (1, [0.0, 1.0, 0.0], 0),
            (2, [0.0, 0.0, 1.0], 0),
            (10, [0.9, 0.1, 0.0], 0),
            (11, [0.95, 0.05, 0.0], 0),
            (12, [0.0, 0.5, 0.5], 0),
            (13, [0.1, 0.2, 0.9], 0),
        ]
        return self._write_pair(spark, tmp_path, docs, embs)

    def test_oracle_agreement_micro(self, spark, tmp_path):
        d = self.micro(spark, tmp_path)
        got = sorted(tuple(r) for r in rt.t_hybrid_fuse(spark, d).collect())
        want = sorted(
            tuple(r) for r in self._duck(d).execute(rt.T_HYBRID_SQL).fetchall()
        )
        assert got == want
        assert len(got) > 0

    def test_fusion_semantics(self, spark, tmp_path):
        d = self.micro(spark, tmp_path)
        rows = {
            (r.query_id, r.doc_id): (r.rk, r.rrf_e6)
            for r in rt.t_hybrid_fuse(spark, d).collect()
        }
        q0 = {doc: v for (q, doc), v in rows.items() if q == 0}
        # both-legs doc 10 must outrank dense-only 11 and sparse-only 12
        assert q0[10][0] == 1
        assert q0[10][1] > q0[11][1] and q0[10][1] > q0[12][1]
        # dense-only and sparse-only docs still surface
        assert 11 in q0 and 12 in q0
        # the query's own doc is unreachable: dense drops the
        # self-hit and it shares no terms
        assert 0 not in q0

    def test_sf_oracle_agreement(self, spark, sf_oracle):
        got = sorted(tuple(r) for r in rt.t_hybrid_fuse(spark, sf_oracle).collect())
        con = duckdb.connect()
        for t in ("documents", "embeddings"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_oracle}/{t}.parquet')"
            )
        want = sorted(tuple(r) for r in con.execute(rt.T_HYBRID_SQL).fetchall())
        assert got == want


class TestRetrievalEval:
    """recall@k / MRR / nDCG of BM25 vs the TF-IDF ground truth —
    integer-exact metric math over the shared stacked score table."""

    def test_perfect_agreement_single_match(self, spark, tmp_path):
        """Exactly one doc matches each query's terms: both rankers
        agree trivially → every metric is exactly 10^6."""
        d = write_docs(
            spark, tmp_path,
            [
                (1, "spark join window"),
                (2, "hash merge filter"),
                (3, "customer order value"),
                (4, "nothing relevant here"),
            ],
            name="sf_ev1",
        )
        rows = {r.query_id: r for r in rt.t_retrieval_eval(spark, d).collect()}
        assert set(rows) == {0, 1, 2}
        for r in rows.values():
            assert (r.n_rel, r.hits) == (1, 1)
            assert r.recall_e6 == 1_000_000
            assert r.mrr_e6 == 1_000_000
            assert r.ndcg_e6 == 1_000_000

    def test_same_set_same_order_is_perfect(self, spark, tmp_path):
        """≤10 matching docs → both top-10 lists hold the same SET;
        with equal dl the orders also coincide → nDCG = 10^6."""
        d = write_docs(
            spark, tmp_path,
            [
                (1, "spark join window pad"),
                (2, "spark spark join window"),  # higher tf, same dl
                (3, "spark join pad pad"),
            ],
            name="sf_ev2",
        )
        r = {x.query_id: x for x in rt.t_retrieval_eval(spark, d).collect()}[0]
        assert r.n_rel == r.hits == 3
        assert r.recall_e6 == 1_000_000 and r.ndcg_e6 == 1_000_000

    def test_oracle_agreement_divergent_corpus(self, spark, tmp_path):
        """>10 matching docs with varied tf/dl so the BM25 (saturating
        tf) and TF-IDF (linear tf/dl) top-10 SETS diverge — the
        non-trivial metric regime — and both engines agree bit-exactly."""
        rows = []
        for i in range(16):
            # vary tf of 'spark' and padding length independently
            text = " ".join(["spark"] * (1 + i % 5) + ["join"] * (i % 3) + ["pad"] * (i * 7 % 23))
            rows.append((i, text))
        rows.append((100, "unrelated text entirely"))
        d = write_docs(spark, tmp_path, rows, name="sf_ev3")
        got = sorted(tuple(r) for r in rt.t_retrieval_eval(spark, d).collect())
        want = sorted(
            tuple(r)
            for r in duck_on(d).execute(rt.T_RETRIEVAL_EVAL_SQL).fetchall()
        )
        assert got == want
        by_q = {t[0]: t for t in got}
        # qid 0 has 16 candidates for 10 slots: divergence is possible,
        # perfection is not guaranteed — but bounds always hold
        for q, (qid, n_rel, hits, rec, mrr, ndcg) in by_q.items():
            assert 1 <= n_rel <= 10 and 0 <= hits <= n_rel
            assert 0 <= rec <= 1_000_000 and 0 <= mrr <= 1_000_000
            assert 0 <= ndcg <= 1_000_000

    def test_sf_oracle_agreement(self, spark, sf_oracle):
        got = sorted(
            tuple(r) for r in rt.t_retrieval_eval(spark, sf_oracle).collect()
        )
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{sf_oracle}/documents.parquet')"
        )
        want = sorted(
            tuple(r) for r in con.execute(rt.T_RETRIEVAL_EVAL_SQL).fetchall()
        )
        assert got == want
        # the fixture has lexical signal: at least one nonzero recall
        assert any(t[3] > 0 for t in got)

    def test_discount_table_is_shared_literals(self):
        """The discount table must be Python-computed literals (no
        engine libm): spot-check the first entries and monotonicity."""
        assert rt._DISC_E6[0] == 1_000_000           # 1/log2(2)
        assert rt._DISC_E6[1] == round(1_000_000 / 1.584962500721156)
        assert all(a > b for a, b in zip(rt._DISC_E6, rt._DISC_E6[1:]))
        assert rt._IDCG_E6[0] == rt._DISC_E6[0]
        assert rt._IDCG_E6[-1] == sum(rt._DISC_E6)


class TestBM25IndexRemove:
    def test_remove_equals_rebuild_without(self, spark, tmp_path):
        rows = [(i, f"spark join doc{i} filler") for i in range(8)]
        d = write_docs(spark, tmp_path, rows, name="sf_rm")
        idx = str(tmp_path / "bm_rm")
        docs = spark.read.parquet(f"{d}/documents.parquet")
        rt.build_bm25_index(docs, idx)
        import pyspark.sql.functions as F

        assert rt.remove_from_bm25_index(docs.filter(F.col("doc_id") < 3), idx) > 0
        got = sorted(tuple(r) for r in rt.bm25_index_topk(spark, idx).collect())
        ref = str(tmp_path / "bm_rm_ref")
        rt.build_bm25_index(docs.filter(F.col("doc_id") >= 3), ref)
        want = sorted(tuple(r) for r in rt.bm25_index_topk(spark, ref).collect())
        assert got == want
        # stats re-derived exactly
        s_got = spark.read.parquet(rt._stats_path(idx)).first()
        s_want = spark.read.parquet(rt._stats_path(ref)).first()
        assert tuple(s_got) == tuple(s_want)

    def test_update_cycle_matches_scan_form(self, spark, tmp_path):
        """remove(old doc 0) + extend(mutated doc 0) == scan-form BM25
        over the mutated corpus — the full CDC-style update path."""
        rows = [(i, f"spark join window doc{i}") for i in range(6)]
        d = write_docs(spark, tmp_path, rows, name="sf_upd")
        docs = spark.read.parquet(f"{d}/documents.parquet")
        idx = str(tmp_path / "bm_upd")
        rt.build_bm25_index(docs, idx)
        import pyspark.sql.functions as F

        old0 = docs.filter(F.col("doc_id") == 0)
        new0 = spark.createDataFrame(
            [(0, "hash merge filter rewritten", "en", "src0", 27)], DOC_SCHEMA
        )
        rt.remove_from_bm25_index(old0, idx)
        rt.extend_bm25_index(new0, idx)
        got = sorted(tuple(r) for r in rt.bm25_index_topk(spark, idx).collect())
        d2 = write_docs(
            spark, tmp_path,
            [(0, "hash merge filter rewritten")] + rows[1:],
            name="sf_upd_ref",
        )
        want = sorted(
            tuple(r)
            for r in rt.t_bm25_topk(spark, d2)
            .select("query_id", "rk", "doc_id", "score_e4")
            .collect()
        )
        assert got == want


class TestHybridIndexTopk:
    def test_index_hybrid_equals_scan_fusion(self, spark, tmp_path):
        """The persisted-index serving path must equal the fusion of
        the two scan forms at the same parameters (each index leg is
        pinned to its scan form; the fusion tail is one definition)."""
        import pyspark.sql.functions as F

        from sync_spark.operators import ann_index as ai
        from sync_spark.operators import similarity as sim

        docs = [
            (0, "alpha beta"), (1, "spark join window"),
            (2, "hash merge filter"), (3, "customer order value"),
            (10, "spark join window spark"), (11, "iota kappa"),
            (12, "hash merge hash filter"), (13, "customer value order"),
        ]
        embs = [
            (i, [float((i * 31 + j * 17) % 13) - 6.0 for j in range(8)], 0)
            for i, _ in docs
        ]
        d = str(tmp_path / "sf_hix")
        spark.createDataFrame(
            [(i, t, "en", "src0", len(t)) for i, t in docs], DOC_SCHEMA
        ).write.parquet(f"{d}/documents.parquet")
        emb = spark.createDataFrame(
            embs, "vec_id long, embedding array<float>, label int"
        )
        qvecs = emb.filter(F.col("vec_id").isin([0, 1, 2]))
        bm_idx, ann_idx = str(tmp_path / "hix_bm"), str(tmp_path / "hix_ann")
        rt.build_bm25_index(spark.read.parquet(f"{d}/documents.parquet"), bm_idx)
        ann_params = dict(n_planes=2, n_tables=4, dim=8, seed=42)
        ai.build_ann_index(emb, ann_idx, n_buckets=8, **ann_params)

        got = sorted(
            tuple(r)
            for r in rt.hybrid_index_topk(
                spark, bm_idx, ann_idx, qvecs, k=5, list_depth=10
            ).collect()
        )

        # independent reference: scan-form legs + the shared fusion
        dlist = sim.ann_lsh_topk(qvecs, emb, k=10, **ann_params).select(
            F.col("query_id").cast("int").alias("query_id"),
            F.col("neighbor_id").alias("doc_id"),
            F.col("rank").alias("rk"),
        )
        spark.read.parquet(f"{d}/documents.parquet").createOrReplaceTempView(
            "__hix_docs"
        )
        slist = spark.sql(rt._bm25_sql("spark", "", "__hix_docs", k=10)).select(
            "query_id", "doc_id", "rk"
        )
        want = sorted(
            tuple(r) for r in rt.rrf_fuse_ranked(dlist, slist, 5).collect()
        )
        assert got == want
        assert len(got) > 0


class TestIndexedRegistryRows:
    """r9 registry rows: the index-serving twins must be bit-identical
    to their scan-form semantics on the REAL sf tables, and their
    plans must be bucket-pruned (PartitionFilters), never corpus
    scans."""

    def test_t_rrf_indexed_equals_scan_form(self, spark, sf_small):
        got = sorted(
            tuple(r) for r in rt.t_rrf_indexed(spark, sf_small).collect()
        )
        want = sorted(
            tuple(r) for r in rt.t_rrf_fuse(spark, sf_small).collect()
        )
        assert got == want
        assert len(got) > 0

    def test_t_hybrid_indexed_equals_leg_fusion(self, spark, sf_small):
        """The registry row == fusing its own two index legs through
        the shared tail at the same parameters (the legs themselves
        are pinned == their scan forms elsewhere)."""
        from pyspark.sql import functions as F

        from sync_spark.operators import ann_index as ai

        bm = rt._corpus_bm25_index(spark, sf_small)
        ann = rt._corpus_ann_index(spark, sf_small)
        qvecs = (
            rt._t(spark, sf_small, "embeddings")
            .filter(F.col("vec_id").isin(rt.HYBRID_QIDS))
        )
        slist = rt.bm25_index_topk(spark, bm, k=rt.RRF_LIST).select(
            "query_id", "doc_id", "rk"
        )
        dlist = ai.ann_index_topk(spark, ann, qvecs, k=rt.RRF_LIST).select(
            F.col("query_id").cast("int").alias("query_id"),
            F.col("neighbor_id").alias("doc_id"),
            F.col("rank").alias("rk"),
        )
        want = sorted(
            tuple(r)
            for r in rt.rrf_fuse_ranked(dlist, slist, rt.RRF_TOPK).collect()
        )
        got = sorted(
            tuple(r) for r in rt.t_hybrid_indexed(spark, sf_small).collect()
        )
        assert got == want
        assert len(got) > 0

    def test_t_rrf_indexed_plan_bucket_pruned(self, spark, sf_small):
        """The fused single-pass serving plan (rrf_index_topk) is
        itself bucket-pruned (PartitionFilters IN-list over __bucket),
        never scans the documents corpus, and reads the posting store
        EXACTLY ONCE (the r10 restructure: df via a tok window over
        the one scan, both rankers in one projection, no fusion
        join)."""
        import re

        path = rt._corpus_bm25_index(spark, sf_small)
        leg = rt.bm25_index_topk(spark, path, k=rt.RRF_LIST)
        leg_plan = leg._jdf.queryExecution().executedPlan().toString()
        assert re.search(r"PartitionFilters: \[__bucket#\d+ IN", leg_plan), leg_plan[:1500]

        df = rt.t_rrf_indexed(spark, sf_small)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "documents.parquet" not in plan
        assert re.search(r"PartitionFilters: \[__bucket#\d+ IN", plan), plan[:1500]
        # ONE store scan in the whole serving plan
        n_scans = len(re.findall(r"Scan parquet", plan))
        assert n_scans == 1, f"expected 1 posting scan, got {n_scans}"

    def test_index_store_reuse_and_staleness_key(self, spark, sf_small, tmp_path):
        """Second call reuses the same on-disk home (no rebuild); a
        different source fingerprint yields a different home."""
        import os

        p1 = rt._corpus_bm25_index(spark, sf_small)
        mtime = os.path.getmtime(p1)
        p2 = rt._corpus_bm25_index(spark, sf_small)
        assert p1 == p2
        assert os.path.getmtime(p2) == mtime  # untouched on reuse
        # a different corpus (different stat fingerprint) → new home
        k1 = rt._src_stat(sf_small, "documents")
        k2 = rt._src_stat("/root/testdata/sf0.01", "documents")
        assert k1 != k2


def test_qmap_values_escapes_quotes_and_parses(spark):
    from sync_spark.operators.retrieval import _qmap_values

    vals = _qmap_values([(1, ["o'brien", "plain"])])
    assert "''" in vals  # SQL-standard doubling, not a raw quote
    rows = spark.sql(
        f"SELECT * FROM VALUES {vals} AS q(query_id, tok) ORDER BY tok"
    ).collect()
    assert [r.tok for r in rows] == ["o'brien", "plain"]


def test_qmap_values_empty_yields_joinable_null_row(spark):
    from sync_spark.operators.retrieval import _qmap_values

    vals = _qmap_values([])
    # parses, and the NULL tok matches nothing in an inner join
    q = spark.sql(f"SELECT * FROM VALUES {vals} AS q(query_id, tok)")
    posting = spark.createDataFrame([("a", 1)], "tok string, doc_id int")
    assert posting.join(q, "tok").count() == 0
