"""Property tests for the approximate operators (MinHash-LSH, SimHash,
ANN-LSH) that have no SQL oracle: recall against the exact operator,
signature invariants, determinism."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from sync_spark.operators import dedup, similarity
from sync_spark.operators.relational import _t


def test_minhash_identical_docs_same_signature(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="a b c d e f g h"), Row(doc_id=2, text="a b c d e f g h")]
    )
    # identical shingle sets ⇒ identical signatures ⇒ every band
    # collides, so the pair is found and verified at Jaccard 1.0
    pairs = dedup.minhash_lsh_pairs(df, "text", "doc_id").collect()
    assert [tuple(p) for p in pairs] == [(1, 2, 1.0)]


def test_minhash_lsh_recall_vs_exact(spark, sf_small):
    d = _t(spark, sf_small, "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in dedup.ngram_jaccard_pairs(d, "text", "doc_id", threshold=0.8).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in dedup.minhash_lsh_pairs(d, "text", "doc_id", threshold=0.8).collect()
    }
    # verification step ⇒ no false positives
    assert lsh <= exact
    # banding at (32 hashes, 8 bands) ⇒ collision prob ≥ 99.9% at j=0.8
    if exact:
        assert len(lsh) / len(exact) >= 0.9


def test_simhash_duplicate_is_zero_distance(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=2, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=3, text="entirely different words about spark engines"),
        ]
    )
    df.createOrReplaceTempView("__sh_crafted_docs")
    pairs = dedup.simhash_pairs_cached(spark, "__sh_crafted_docs", max_hamming=3).collect()
    assert {(p.id_a, p.id_b, p.hamming) for p in pairs} == {(1, 2, 0)}


def test_ann_lsh_subset_of_exact_rankings(spark, sf_small):
    emb = _t(spark, sf_small, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(q, emb, k=5).collect()
    approx = similarity.ann_lsh_topk(q, emb, k=5, n_planes=4).collect()
    exact_map = {(r.query_id, r.neighbor_id): r.cosine for r in exact}
    # every approx hit has a true cosine equal to the exact computation
    approx_pairs = {(r.query_id, r.neighbor_id) for r in approx}
    assert len(approx) > 0
    # determinism: second run identical
    approx2 = similarity.ann_lsh_topk(q, emb, k=5, n_planes=4).collect()
    assert sorted(map(tuple, approx)) == sorted(map(tuple, approx2))


def test_ivf_deterministic_and_correct_cosines(spark, sf_small):
    emb = _t(spark, sf_small, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(q, emb, k=50).collect()
    exact_cos = {(r.query_id, r.neighbor_id): r.cosine for r in exact}
    ivf = similarity.ivf_topk(q, emb, k=5, n_lists=8, n_probe=3).collect()
    assert len(ivf) > 0
    # every IVF hit reports the TRUE cosine (same quantized math)
    for r in ivf:
        key = (r.query_id, r.neighbor_id)
        if key in exact_cos:
            assert r.cosine == exact_cos[key]
    ivf2 = similarity.ivf_topk(q, emb, k=5, n_lists=8, n_probe=3).collect()
    assert sorted(map(tuple, ivf)) == sorted(map(tuple, ivf2))


def test_ivfpq_deterministic_exact_rescore_and_recall(spark, sf_small):
    """IVF-PQ: ADC selects, the exact rescore emits — so every
    returned pair must carry the IDENTICAL quantized cosine as the
    brute-force operator, recall must clear the chk_ floor at the
    registry parameters, and the whole pipeline is seed-deterministic."""
    emb = _t(spark, sf_small, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    exact = similarity.cosine_topk(q, emb, k=5).collect()
    exact_cos = {(r.query_id, r.neighbor_id): r.cosine for r in exact}
    kwargs = dict(k=5, n_lists=16, n_probe=6, m=16, n_codes=32, refine=6, max_iter=10)
    pq = similarity.ivfpq_topk(q, emb, **kwargs).collect()
    assert len(pq) > 0
    got = {(r.query_id, r.neighbor_id): r.cosine for r in pq}
    for key, cos in got.items():
        if key in exact_cos:
            assert cos == exact_cos[key]  # exact rescore, never ADC output
    recall = len(set(got) & set(exact_cos)) / len(exact_cos)
    assert recall >= 0.6, recall
    pq2 = similarity.ivfpq_topk(q, emb, **kwargs).collect()
    assert sorted(map(tuple, pq)) == sorted(map(tuple, pq2))


def test_exact_dedup_counts(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="Hello, World!"),
            Row(doc_id=2, text="hello world"),  # same after normalization
            Row(doc_id=3, text="something else"),
        ]
    )
    out = {r.survivor_id: r.n_dups for r in dedup.exact_dedup(df, "text", "doc_id").collect()}
    assert out == {1: 2, 3: 1}


# --- embedding-cosine near-dup ---


def _vec_df(spark, rows):
    return spark.createDataFrame(
        [Row(vec_id=i, embedding=[float(x) for x in v]) for i, v in rows]
    )


def test_embed_neardup_exact_known_pairs(spark):
    """Crafted 4-vector set: (0,1) parallel (cos 1), (0,2) orthogonal,
    (0,3)/(1,3) at cos≈0.894. Exercises cross-block id normalization:
    with n_blocks=4 and xxhash64 block assignment the near pairs land
    in off-diagonal tiles in both id orders."""
    df = _vec_df(
        spark,
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [2.0, 0.0, 0.0, 0.0]),
            (2, [0.0, 1.0, 0.0, 0.0]),
            (3, [2.0, 1.0, 0.0, 0.0]),
        ],
    )
    got = {
        (r.id1, r.id2): r.cosine
        for r in similarity.embed_neardup_exact(df, threshold=0.5, n_blocks=4).collect()
    }
    assert set(got) == {(0, 1), (0, 3), (1, 3)}
    assert got[(0, 1)] == 1.0
    assert abs(got[(0, 3)] - 0.894427) < 1e-6
    assert abs(got[(1, 3)] - 0.894427) < 1e-6


def test_embed_neardup_exact_matches_bruteforce(spark, sf_small):
    """Tiled plan ≡ naive plan on the real table (independent code
    paths: applyInPandas numpy tiles vs a plain crossJoin)."""
    emb = _t(spark, sf_small, "embeddings")
    tiled = {
        (r.id1, r.id2): r.cosine
        for r in similarity.embed_neardup_exact(emb, threshold=0.3, n_blocks=8).collect()
    }
    a = emb.select(F.col("vec_id").alias("id1"), F.col("embedding").alias("e1"))
    b = emb.select(F.col("vec_id").alias("id2"), F.col("embedding").alias("e2"))
    naive = (
        a.crossJoin(b)
        .filter(F.col("id1") < F.col("id2"))
        .select(
            "id1",
            "id2",
            F.round(
                F.aggregate(
                    F.zip_with(
                        F.transform("e1", lambda x: F.round(x.cast("double") * 1000000).cast("long")),
                        F.transform("e2", lambda x: F.round(x.cast("double") * 1000000).cast("long")),
                        lambda x, y: x * y,
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, v: acc + v,
                ).cast("double")
                / (
                    F.sqrt(
                        F.aggregate(
                            F.transform("e1", lambda x: F.round(x.cast("double") * 1000000).cast("long")),
                            F.lit(0).cast("long"),
                            lambda acc, v: acc + v * v,
                        ).cast("double")
                    )
                    * F.sqrt(
                        F.aggregate(
                            F.transform("e2", lambda x: F.round(x.cast("double") * 1000000).cast("long")),
                            F.lit(0).cast("long"),
                            lambda acc, v: acc + v * v,
                        ).cast("double")
                    )
                ),
                6,
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.3)
    )
    expect = {(r.id1, r.id2): r.cosine for r in naive.collect()}
    assert tiled == expect


def test_embed_neardup_lsh_subset_and_recall(spark, sf_small):
    emb = _t(spark, sf_small, "embeddings")
    exact = {
        (r.id1, r.id2)
        for r in similarity.embed_neardup_exact(emb, threshold=0.35).collect()
    }
    lsh = {
        (r.id1, r.id2)
        for r in similarity.embed_neardup_lsh(emb, threshold=0.35).collect()
    }
    assert lsh <= exact  # exact verification ⇒ precision 1
    if exact:
        assert len(lsh) / len(exact) >= 0.6


def test_embed_neardup_null_embedding_dropped(spark):
    df = spark.createDataFrame(
        [Row(vec_id=0, embedding=[1.0, 0.0]), Row(vec_id=1, embedding=None),
         Row(vec_id=2, embedding=[1.0, 0.0])]
    )
    got = similarity.embed_neardup_exact(df, threshold=0.5, n_blocks=2).collect()
    assert {(r.id1, r.id2) for r in got} == {(0, 2)}


# --- binned range join ---


def test_range_join_binned_boundaries(spark):
    """Half-open [start, end): start included, end excluded; matches
    across bin boundaries are found; no duplicate matches when an
    interval spans several bins."""
    import datetime as dt

    from sync_spark.operators.temporal import range_join_binned

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ts(minutes, micros=0):
        return t0 + dt.timedelta(minutes=minutes, microseconds=micros)

    left = spark.createDataFrame(
        [
            Row(event_id=1, ts=ts(0)),        # == start -> in
            Row(event_id=2, ts=ts(90)),       # mid-interval, crosses 1h bin
            Row(event_id=3, ts=ts(120)),      # == end -> out
            Row(event_id=4, ts=ts(119, 999999)),  # just inside
            Row(event_id=5, ts=ts(-1)),       # before -> out
        ]
    )
    intervals = spark.createDataFrame([Row(w_id=10, s=ts(0), e=ts(120))])
    got = sorted(
        r.event_id
        for r in range_join_binned(
            left, intervals, ts_col="ts", start_col="s", end_col="e", bin_seconds=3600
        ).collect()
    )
    assert got == [1, 2, 4]


def test_embed_neardup_chk_gate_survives_empty_pair_set(spark, sf_small):
    """With a threshold nothing reaches, the gate must still emit the
    (0, 0, 0, True) row — not NULLs from empty ungrouped sums."""
    from sync_spark.operators import check_queries as ck
    from sync_spark.operators import text_queries as tq

    emb = _t(spark, sf_small, "embeddings")
    exact = similarity.embed_neardup_exact(emb, threshold=0.999).select(
        "id1", "id2", F.col("cosine").alias("exact_cos")
    )
    lsh = similarity.embed_neardup_lsh(emb, threshold=0.999).select(
        "id1", "id2", F.col("cosine").alias("lsh_cos")
    )
    assert exact.count() == 0
    j = exact.join(lsh, ["id1", "id2"], "full")
    n_exact = F.coalesce(F.sum(F.when(F.col("exact_cos").isNotNull(), 1).otherwise(0)), F.lit(0))
    row = j.agg(
        n_exact.cast("long").alias("n"),
        (
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("exact_cos").isNotNull() & F.col("lsh_cos").isNotNull(), 1
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            >= n_exact * F.lit(ck.EMBED_NEARDUP_RECALL_FLOOR)
        ).alias("ok"),
    ).collect()[0]
    assert (row.n, row.ok) == (0, True)


def test_embed_neardup_property_random_frames(spark):
    """Property sweep: the tiled kernel must equal a numpy brute-force
    reference on random vector sets across dims / block counts /
    thresholds (one Spark job per case keeps the sweep fast)."""
    import numpy as np

    rng = np.random.RandomState(7)
    for trial, (n, dim, blocks, tau) in enumerate(
        [(23, 8, 3, 0.5), (40, 16, 5, 0.3), (17, 4, 8, 0.7), (31, 12, 2, 0.0)]
    ):
        X = rng.randn(n, dim).astype(np.float32)
        # plant a few near-identical pairs so high thresholds hit
        X[1] = X[0] + 0.01 * rng.randn(dim).astype(np.float32)
        X[5] = -X[4]
        df = spark.createDataFrame(
            [Row(vec_id=i, embedding=[float(x) for x in X[i]]) for i in range(n)]
        )
        got = {
            (r.id1, r.id2): r.cosine
            for r in similarity.embed_neardup_exact(df, threshold=tau, n_blocks=blocks).collect()
        }
        # reference: same quantized-int arithmetic in numpy
        Q = np.round(X.astype(np.float64) * 1_000_000).astype(np.int64)
        D = Q @ Q.T
        nrm = np.sqrt(np.diag(D).astype(np.float64))
        want = {}
        for i in range(n):
            for j in range(i + 1, n):
                c = round(float(D[i, j]) / (nrm[i] * nrm[j]), 6)
                if c >= tau:
                    want[(i, j)] = c
        assert got == want, f"trial {trial}: {len(got)} vs {len(want)}"


def test_range_join_binned_random_vs_naive(spark):
    """Randomized sweep: the binned rewrite must equal a naive
    BETWEEN join for random events/intervals across bin widths
    (including bins much smaller and larger than interval lengths)."""
    import datetime as dt
    import random

    from sync_spark.operators.temporal import range_join_binned

    rng = random.Random(11)
    t0 = dt.datetime(2024, 3, 1)
    events = [
        Row(event_id=i, ts=t0 + dt.timedelta(seconds=rng.randint(0, 7200)))
        for i in range(120)
    ]
    intervals = []
    for j in range(15):
        s = t0 + dt.timedelta(seconds=rng.randint(0, 6800))
        intervals.append(
            Row(w_id=j, s=s, e=s + dt.timedelta(seconds=rng.randint(1, 900)))
        )
    ev = spark.createDataFrame(events)
    iv = spark.createDataFrame(intervals)
    naive = {
        (r.event_id, r.w_id)
        for r in ev.crossJoin(iv)
        .filter((F.col("ts") >= F.col("s")) & (F.col("ts") < F.col("e")))
        .collect()
    }
    for bin_s in (60, 600, 3600):
        got = {
            (r.event_id, r.w_id)
            for r in range_join_binned(
                ev, iv, ts_col="ts", start_col="s", end_col="e", bin_seconds=bin_s
            ).collect()
        }
        assert got == naive, f"bin={bin_s}: {len(got)} vs {len(naive)}"


def test_span_dedup_removes_embedded_boilerplate(spark):
    """A 6-token boilerplate run shared by two docs is removed from
    the non-owner doc only; unique remainders survive in both."""
    from sync_spark.operators.dedup import span_dedup

    boiler = "all rights reserved see license file"
    rows = [
        (1, f"alpha beta {boiler} gamma delta"),
        (2, f"unrelated words here {boiler} epsilon zeta eta"),
        (3, "completely unique document with no shared spans at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in span_dedup(df, k=5, min_docs=2).collect()}
    # owner (doc 1) keeps everything
    assert out[1].clean_text == f"alpha beta {boiler} gamma delta"
    assert out[1].n_removed == 0
    # doc 2 loses exactly the boilerplate tokens
    assert out[2].clean_text == "unrelated words here epsilon zeta eta"
    assert out[2].n_removed == 6
    # untouched doc
    assert out[3].n_removed == 0 and out[3].clean_text == rows[2][1]


def test_span_dedup_fully_duplicated_doc_empties(spark):
    from sync_spark.operators.dedup import span_dedup

    text = "one two three four five six seven"
    df = spark.createDataFrame(
        [(10, text), (20, text), (30, "")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in span_dedup(df, k=5, min_docs=2).collect()}
    assert out[10].clean_text == text  # owner keeps its copy
    assert out[20].clean_text == "" and out[20].n_kept == 0 and out[20].n_removed == 7
    assert out[30].clean_text == "" and out[30].n_removed == 0  # empty doc passes through


def test_span_dedup_short_docs_never_match(spark):
    """Docs shorter than k have no k-grams — identical short docs are
    untouched (span dedup is not whole-doc dedup)."""
    from sync_spark.operators.dedup import span_dedup

    df = spark.createDataFrame(
        [(1, "tiny dup text"), (2, "tiny dup text")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in span_dedup(df, k=5, min_docs=2).collect()}
    assert out[1].n_removed == 0 and out[2].n_removed == 0


def test_span_dedup_plan_stays_jvm_side(spark, sf_small):
    from sync_spark.operators.text_queries import d_span_dedup

    plan = d_span_dedup(spark, sf_small)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan


def test_margin_mine_matches_numpy(spark, sf_small):
    """Independent numpy re-derivation of the margin criterion: for
    each query, the emitted pair must be the forward-kNN candidate
    with the highest ratio margin, computed through the identical
    quantize→round(6dp)→e6→integer-mean discipline."""
    import numpy as np
    import pandas as pd

    from sync_spark.registry import all_queries

    out = all_queries()["e_margin_mine"].spark_fn(spark, sf_small).toPandas()
    emb = pd.read_parquet(f"{sf_small}/embeddings.parquet")
    vecs = {
        int(r.vec_id): np.round(np.asarray(r.embedding, dtype=np.float64) * 1e6)
        for r in emb.itertuples()
    }
    A = sorted(v for v in vecs if v % 2 == 0)
    B = sorted(v for v in vecs if v % 2 == 1)

    def cos_e6(a, b):
        va, vb = vecs[a], vecs[b]
        c = float(int((va * vb).sum())) / (np.sqrt((va * va).sum()) * np.sqrt((vb * vb).sum()))
        return int(np.round(np.round(c, 6) * 1e6))

    def topk(x, side, k=4):
        scored = sorted(((cos_e6(x, y), -y) for y in side), reverse=True)
        return [(-ny, c) for c, ny in scored[:k]]

    def tdiv(a, b):
        q = abs(a) // b
        return q if a >= 0 else -q

    # bounded re-derivation: the python loop is O(queries·|side|·dim);
    # 25 queries pin the discipline without a 2-minute test
    out = out.sort_values("src_id").head(25)
    for _, row in out.iterrows():
        x = int(row.src_id)
        fwd = topk(x, B)
        avgf = tdiv(sum(c for _, c in fwd), len(fwd))
        best = None
        for y, cxy in fwd:
            bwd = topk(y, A)
            avgb = tdiv(sum(c for _, c in bwd), len(bwd))
            m = tdiv(cxy * 2_000_000, avgf + avgb) if avgf + avgb > 0 else None
            key = (m if m is not None else -(1 << 62), -y)
            if best is None or key > best[0]:
                best = (key, y, cxy, m)
        assert int(row.tgt_id) == best[1], (x, row.tgt_id, best)
        assert int(row.cos_e6) == best[2]
        assert (row.margin_e6 is None and best[3] is None) or int(row.margin_e6) == best[3]
        assert bool(row.accepted) == (best[3] is not None and best[3] >= 1_000_000)


def test_margin_mine_plan_broadcasts_queries(spark, sf_small):
    """Scale shape: both cosine passes broadcast the bounded query
    side; the corpus is never shuffled for a join, and everything
    stays JVM-side."""
    from sync_spark.operators.text_queries import e_margin_mine

    plan = e_margin_mine(spark, sf_small)._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
