"""Self-checking invariant queries for the approximate operators
(SURVEY.md §2.4 A3, dedup/ANN family).

The six approximate registry entries (MinHash-LSH, SimHash, ANN-LSH,
ANN-IVF, HLL distinct, quantile sketch) are rows-only for the driver:
their raw output is engine-specific, so no DuckDB hash can gate them.
These companion ``chk_*`` queries turn each one's QUALITY CONTRACT
into a deterministic row the driver CAN gate:

- data-derived columns (exact pair/row/group counts) force the oracle
  to recompute the same ground truth independently in DuckDB;
- invariant columns (violation counts, recall floors) are exactly 0 /
  TRUE when the approximate operator honors its contract, and the
  oracle states them as constants — any regression flips the hash.

Recall floors are set from measured behavior at sf0.001/0.01/0.1 with
margin (ANN ≥ 0.6 measured 0.82-0.96; MinHash ≥ 0.9 measured 1.0);
all candidate-verify invariants (exact-Jaccard agreement, exact
hamming, exact cosine) must hold identically — they cross-check two
independent code paths, not the same one.

Reference parity: the reference has no approximate operators to cite;
this is the LLM-pipeline extension surface (minhash/simhash/ANN) made
driver-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sync_spark.operators import dedup, similarity
from sync_spark.operators import text_queries as tq

MINHASH_RECALL_FLOOR = 0.9
ANN_RECALL_FLOOR = 0.6


def chk_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH contract: every emitted pair is a true Jaccard≥0.8
    pair under the independent inverted-index exact operator
    (nonsubset_pairs = 0 — two different code paths must agree), and
    banding recalls ≥90% of the exact pair set."""
    d = tq._t(spark, sf_dir, "documents")
    w = tq._doc_kernel_width(spark, sf_dir)
    exact = dedup.ngram_jaccard_pairs(
        d, "text", "doc_id", n=3, threshold=0.8, spread_width=w
    )
    lsh = dedup.minhash_lsh_pairs(
        d, "text", "doc_id", n=3, num_hashes=32, bands=8, threshold=0.8,
        spread_width=w,
    )
    e = exact.select("id_a", "id_b").withColumn("in_exact", F.lit(1))
    l = lsh.select("id_a", "id_b").withColumn("in_lsh", F.lit(1))
    j = e.join(l, ["id_a", "id_b"], "full")
    n_exact = F.sum(F.coalesce(F.col("in_exact"), F.lit(0)))
    matched = F.sum(
        F.when(F.col("in_exact").isNotNull() & F.col("in_lsh").isNotNull(), 1).otherwise(0)
    )
    return j.agg(
        n_exact.cast("long").alias("n_exact_pairs"),
        F.sum(F.when(F.col("in_exact").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("nonsubset_pairs"),
        (matched >= n_exact * F.lit(MINHASH_RECALL_FLOOR)).alias("recall_ok"),
    )


CHK_MINHASH_SQL = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
       CAST(0 AS BIGINT) AS nonsubset_pairs,
       TRUE AS recall_ok
FROM ({tq.D_JACCARD_SQL}) exact_pairs
"""


def chk_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash contract: pairs are ordered and unique, and the
    REPORTED hamming equals an independent popcount(xor) of the two
    signatures and is within the max_hamming=3 bound. The pairs come
    from dedup.simhash_pairs_cached — the operator d_simhash_pairs
    ships — and the signatures from the independent Column-built
    dedup.simhash."""
    pairs = tq.d_simhash_pairs(spark, sf_dir)
    sig = dedup.simhash(tq._t(spark, sf_dir, "documents"), "text", "doc_id")
    v = (
        pairs.join(
            sig.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sig_a")), "id_a"
        )
        .join(sig.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sig_b")), "id_b")
        .withColumn("true_ham", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
    )
    return v.agg(
        F.sum(F.when(F.col("id_a") >= F.col("id_b"), 1).otherwise(0))
        .cast("long")
        .alias("misordered"),
        (F.count(F.lit(1)) - F.countDistinct(F.struct("id_a", "id_b")))
        .cast("long")
        .alias("dup_pairs"),
        F.sum(
            F.when((F.col("true_ham") != F.col("hamming")) | (F.col("true_ham") > 3), 1).otherwise(
                0
            )
        )
        .cast("long")
        .alias("bad_hamming"),
    )


CHK_SIMHASH_SQL = """
SELECT CAST(0 AS BIGINT) AS misordered,
       CAST(0 AS BIGINT) AS dup_pairs,
       CAST(0 AS BIGINT) AS bad_hamming
"""


def _ann_check(spark: SparkSession, sf_dir: str, ann: DataFrame) -> DataFrame:
    """Shared ANN gate: exact ground truth from the brute-force
    operator; the candidate operator must (a) score any pair it
    returns with the IDENTICAL quantized cosine and (b) recall ≥60%
    of the true top-k set."""
    exact = tq.e_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id", "cosine")
    a = ann.select("query_id", "neighbor_id", F.col("cosine").alias("ann_cosine"))
    j = exact.join(a, ["query_id", "neighbor_id"], "left")
    found = F.sum(F.when(F.col("ann_cosine").isNotNull(), 1).otherwise(0))
    return j.agg(
        F.countDistinct("query_id").cast("long").alias("n_queries"),
        F.count(F.lit(1)).cast("long").alias("exact_rows"),
        F.sum(
            F.when(
                F.col("ann_cosine").isNotNull() & (F.col("ann_cosine") != F.col("cosine")), 1
            ).otherwise(0)
        )
        .cast("long")
        .alias("cosine_mismatches"),
        (found >= F.count(F.lit(1)) * F.lit(ANN_RECALL_FLOOR)).alias("recall_ok"),
    )


def chk_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tq._t(spark, sf_dir, "embeddings")
    ann = similarity.ann_lsh_topk(
        emb.filter(F.col("vec_id") < 10), emb, k=5, n_planes=4, n_tables=16
    )
    return _ann_check(spark, sf_dir, ann)


def chk_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tq._t(spark, sf_dir, "embeddings")
    ann = similarity.ivf_topk(
        emb.filter(F.col("vec_id") < 10), emb, k=5, n_lists=16, n_probe=6, max_iter=3
    )
    return _ann_check(spark, sf_dir, ann)


def chk_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = tq._t(spark, sf_dir, "embeddings")
    ann = similarity.ivfpq_topk(
        emb.filter(F.col("vec_id") < 10),
        emb,
        k=5,
        n_lists=16,
        n_probe=6,
        m=16,
        n_codes=32,
        refine=6,
        max_iter=10,
    )
    return _ann_check(spark, sf_dir, ann)


_CHK_ANN_SQL = f"""
SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) AS n_queries,
       CAST(COUNT(*) AS BIGINT) AS exact_rows,
       CAST(0 AS BIGINT) AS cosine_mismatches,
       TRUE AS recall_ok
FROM ({tq.E_COSINE_SQL}) exact_topk
"""

CHK_ANN_LSH_SQL = _CHK_ANN_SQL
CHK_ANN_IVF_SQL = _CHK_ANN_SQL
CHK_ANN_PQ_SQL = _CHK_ANN_SQL


def chk_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivor-invariant gate for d_semantic_dedup: (a) every doc got
    a verdict, (b) no two SURVIVORS in one cell reach the threshold
    (the greedy would have pruned the higher id), (c) every pruned
    row's pruned_by names a kept same-cell doc that actually reaches
    the threshold. n_docs is recomputed by the oracle from the table,
    so the gate checks the data too. (At this sf every cell is far
    below the salt cap, so cell-grain verification is exact.)"""
    emb = tq._t(spark, sf_dir, "embeddings")
    flags = similarity.semantic_dedup(emb, threshold=0.35, n_cells=16)
    v = (
        emb.filter(F.col("embedding").isNotNull())
        .select(
            F.col("vec_id").alias("id"),
            similarity._quantize(F.col("embedding")).alias("qv"),
        )
        .withColumn("qn", similarity._norm2(F.col("qv")))
    )
    # the verification fans out over j four ways (two self-joins +
    # two counts): materialize once or every action re-runs the whole
    # k-means-assign + dedup-kernel pipeline (gate-harness context —
    # bounded sf, same run-once trick as the ivfpq shortlist)
    j = flags.join(v, "id").localCheckpoint(eager=True)
    cos = similarity._dot(F.col("a.qv"), F.col("b.qv")).cast("double") / (
        F.sqrt(F.col("a.qn").cast("double")) * F.sqrt(F.col("b.qn").cast("double"))
    )
    kept = j.filter(F.col("keep")).alias("a")
    dup_pairs = (
        kept.join(
            j.filter(F.col("keep")).alias("b"),
            (F.col("a.cell") == F.col("b.cell")) & (F.col("a.id") < F.col("b.id")),
        )
        .filter(cos >= 0.35)
        .count()
    )
    pruned = j.filter(~F.col("keep")).alias("b")
    good_prunes = (
        kept.join(
            pruned,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.id") == F.col("b.pruned_by")),
        )
        .filter(cos >= 0.35)
        .count()
    )
    n_pruned = j.filter(~F.col("keep")).count()
    n_docs = j.count()
    return spark.createDataFrame(
        [
            (
                n_docs,
                dup_pairs,
                n_pruned - good_prunes,
            )
        ],
        "n_docs long, dup_survivor_pairs long, bad_prunes long",
    )


CHK_SEMANTIC_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(0 AS BIGINT) AS dup_survivor_pairs,
       CAST(0 AS BIGINT) AS bad_prunes
FROM embeddings WHERE embedding IS NOT NULL
"""


def chk_semdedup_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-SWEEP gate for d_semantic_dedup (r5 verdict stretch
    item), pinning the operator against parameter-plumbing
    regressions (a flipped ≥/>, a threshold not reaching the kernel,
    a survivor rule drift) via properties that are THEOREMS of the
    greedy min-id rule — deliberately NOT the naive "raising the
    threshold never shrinks the survivor set": that is false for
    greedy-vs-KEPT dedup (at a higher threshold an early doc can
    survive and then dominate docs that its own dominator used to
    absorb — a 5-vertex cosine configuration realizes it), so
    asserting it would encode a non-theorem and flake on legitimate
    data. What IS invariant:

    - threshold > 1 (no cosine reaches it): EVERY doc survives;
    - threshold < -1 (every pair reaches it): exactly ONE survivor
      per occupied cell, and it is the cell's MIN id (the greedy
      anchor);
    - any middle threshold: per-cell min ids always survive, and the
      survivor count is bracketed by the two extremes.
    """
    emb = tq._t(spark, sf_dir, "embeddings")
    lo = similarity.semantic_dedup(emb, threshold=-1.1, n_cells=16)
    mid = similarity.semantic_dedup(emb, threshold=0.35, n_cells=16)
    hi = similarity.semantic_dedup(emb, threshold=1.1, n_cells=16)

    n_docs = emb.filter(F.col("embedding").isNotNull()).count()
    hi_kept = hi.filter(F.col("keep")).count()
    lo_k = lo.filter(F.col("keep"))
    lo_kept = lo_k.count()
    n_cells_occupied = lo.select("cell").distinct().count()
    # the low-threshold survivor must be its cell's min id
    min_ids = lo.groupBy("cell").agg(F.min("id").alias("mid"))
    lo_min_ok = (
        lo_k.join(min_ids, "cell").filter(F.col("id") == F.col("mid")).count()
        == lo_kept
    )
    mid_kept = mid.filter(F.col("keep")).count()
    mid_minid_ok = (
        mid.filter(F.col("keep"))
        .join(mid.groupBy("cell").agg(F.min("id").alias("mid")), "cell")
        .filter(F.col("id") == F.col("mid"))
        .count()
        == n_cells_occupied
    )
    return spark.createDataFrame(
        [
            (
                n_docs,
                bool(hi_kept == n_docs),
                bool(lo_kept == n_cells_occupied),
                bool(lo_min_ok),
                bool(lo_kept <= mid_kept <= hi_kept),
                bool(mid_minid_ok),
            )
        ],
        "n_docs long, all_kept_above_one boolean, one_per_cell_below_minus_one boolean, "
        "low_survivor_is_min_id boolean, sweep_bracketed boolean, mid_keeps_cell_min_ids boolean",
    )


CHK_SEMDEDUP_SWEEP_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       TRUE AS all_kept_above_one,
       TRUE AS one_per_cell_below_minus_one,
       TRUE AS low_survivor_is_min_id,
       TRUE AS sweep_bracketed,
       TRUE AS mid_keeps_cell_min_ids
FROM embeddings WHERE embedding IS NOT NULL
"""


def chk_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ contract: approx within max(3, 15%) of the exact distinct
    count (published HLL error at Spark's default rsd=0.05 is ~5%;
    the floor leaves margin). exact_users is recomputed by the
    oracle, so the gate checks the data too."""
    ev = tq._t(spark, sf_dir, "events")
    return ev.agg(
        F.countDistinct("user_id").cast("long").alias("exact_users"),
        (
            F.abs(F.approx_count_distinct("user_id") - F.countDistinct("user_id"))
            <= F.greatest(F.lit(3), F.countDistinct("user_id") * F.lit(0.15))
        ).alias("within_bound"),
    )


CHK_APPROX_DISTINCT_SQL = """
SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
       TRUE AS within_bound
FROM events
"""


def chk_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch contract, stated in RANK space (the bound a GK
    sketch actually promises): the approx value at quantile q must lie
    between the exact quantiles at q±δ. accuracy=1000 gives δ=0.001;
    we gate at δ=0.02, which also absorbs small-group discretization
    (a value-space %-bound is meaningless at p99 of a 200-row group,
    where adjacent order statistics can be far apart).
    n_groups is recomputed by the oracle."""
    ev = tq._t(spark, sf_dir, "events")
    per_group = ev.groupBy("event_type").agg(
        F.percentile_approx("value", 0.5, 1000).alias("p50_approx"),
        F.percentile_approx("value", 0.99, 1000).alias("p99_approx"),
        F.expr("percentile(value, 0.48)").alias("p50_lo"),
        F.expr("percentile(value, 0.52)").alias("p50_hi"),
        F.expr("percentile(value, 0.97)").alias("p99_lo"),
        F.max("value").alias("p99_hi"),
    )

    def bad(approx: str, lo: str, hi: str):
        return F.sum(
            F.when((F.col(approx) < F.col(lo)) | (F.col(approx) > F.col(hi)), 1).otherwise(0)
        ).cast("long")

    return per_group.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        bad("p50_approx", "p50_lo", "p50_hi").alias("bad_p50"),
        bad("p99_approx", "p99_lo", "p99_hi").alias("bad_p99"),
    )


CHK_QUANTILE_SQL = """
SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_groups,
       CAST(0 AS BIGINT) AS bad_p50,
       CAST(0 AS BIGINT) AS bad_p99
FROM events
"""


EMBED_NEARDUP_RECALL_FLOOR = 0.6


def chk_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup contract: the LSH variant must emit ONLY
    true ≥-threshold pairs (nonsubset_pairs = 0 — candidate-verify
    cross-checked against the independent block-tile exact operator),
    agree on every pair's rounded cosine, and recall ≥60% of the exact
    pair set (measured 0.85-0.95 at sf0.001-0.1; 16 tables × 4 planes
    at cos 0.35 ⇒ analytic recall ≈ 0.92)."""
    exact = tq.e_embed_neardup(spark, sf_dir).select(
        "id1", "id2", F.col("cosine").alias("exact_cos")
    )
    lsh = tq.d_embed_neardup_lsh(spark, sf_dir).select(
        "id1", "id2", F.col("cosine").alias("lsh_cos")
    )
    j = exact.join(lsh, ["id1", "id2"], "full")
    # coalesce every ungrouped sum: with ZERO near-dup pairs (data /
    # threshold dependent) the join is empty and bare sums would all
    # be NULL — turning the gate row itself into a hash mismatch
    n_exact = F.coalesce(F.sum(F.when(F.col("exact_cos").isNotNull(), 1).otherwise(0)), F.lit(0))
    matched = F.coalesce(
        F.sum(
            F.when(F.col("exact_cos").isNotNull() & F.col("lsh_cos").isNotNull(), 1).otherwise(0)
        ),
        F.lit(0),
    )
    return j.agg(
        n_exact.cast("long").alias("n_exact_pairs"),
        F.coalesce(F.sum(F.when(F.col("exact_cos").isNull(), 1).otherwise(0)), F.lit(0))
        .cast("long")
        .alias("nonsubset_pairs"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("lsh_cos").isNotNull() & (F.col("lsh_cos") != F.col("exact_cos")), 1
                ).otherwise(0)
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("cosine_mismatches"),
        (matched >= n_exact * F.lit(EMBED_NEARDUP_RECALL_FLOOR)).alias("recall_ok"),
    )


CHK_EMBED_NEARDUP_SQL = f"""
SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_pairs,
       CAST(0 AS BIGINT) AS nonsubset_pairs,
       CAST(0 AS BIGINT) AS cosine_mismatches,
       TRUE AS recall_ok
FROM ({tq.E_NEARDUP_SQL}) exact_pairs
"""


def chk_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contract for the LSH clustering composition: its cluster labels
    must agree with the exact-path clustering on ≥90% of documents
    (measured: 100% at every tested sf — banding at these parameters
    recalls every exact pair), and survivors must be exactly the
    min-id of each cluster. Exact doc count forces the oracle to
    recompute ground truth."""
    from sync_spark.operators import text_queries as tqq

    exact = tqq.d_dedup_clusters(spark, sf_dir).select(
        F.col("doc_id"), F.col("cluster_id").alias("c_exact")
    )
    lsh = tqq.d_dedup_clusters_lsh(spark, sf_dir)
    j = lsh.join(exact, "doc_id")
    n_docs = F.count(F.lit(1))
    agree = F.sum((F.col("cluster_id") == F.col("c_exact")).cast("int"))
    bad_survivor = F.sum(
        (
            F.col("is_survivor") != (F.col("doc_id") == F.col("cluster_id"))
        ).cast("int")
    )
    return j.agg(
        n_docs.cast("long").alias("n_docs"),
        (agree >= n_docs * F.lit(0.9)).alias("labels_agree"),
        bad_survivor.cast("long").alias("bad_survivors"),
    )


CHK_MINHASH_CLUSTERS_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
       TRUE AS labels_agree,
       CAST(0 AS BIGINT) AS bad_survivors
FROM documents
"""
