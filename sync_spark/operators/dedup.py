"""Deduplication family for training-data pipelines (SURVEY.md §7
Phase 4): exact, n-gram Jaccard (exact, inverted-index), MinHash+LSH
(approximate, band-bucketed), SimHash.

Scale design (the whole point of these operators):
- exact: hash-groupBy on a fingerprint — one shuffle keyed by digest,
  no skew (md5 is uniform).
- n-gram Jaccard: NEVER a cross join. Explode shingles → self-join on
  the shingle (inverted index) → per-pair intersection counts → exact
  Jaccard. Work is proportional to Σ posting-list², not n²; hot
  shingles (stopword trigrams) are the skew risk — AQE skew-join
  handles moderate cases, and `max_posting` hard-caps pathological
  shingles the way real pipelines drop ubiquitous shingles.
- MinHash LSH: k seeded hash-mins per doc → b bands of r rows →
  band-hash join produces candidates only (collision ⇒ likely
  similar), then exact Jaccard verification on candidates. Tunable
  (k, b) so the band join stays selective at 100 TB.
- SimHash: 64-bit signature via per-bit weighted votes; near-dup
  candidates by pigeonhole on 4×16-bit chunks (hamming ≤3 ⇒ at least
  one chunk equal), verified by exact hamming distance.
- winnowing (MOSS) pairs and benchmark decontamination, exact or
  through a broadcast Bloom bitmap.

Each operator has ONE implementation, the form its registry row runs.
The pair and decontamination kernels are one ``spark.sql`` statement
over a temp view (the persisted shingle table, or the caller's
frames): a Column chain of the same plan costs tenths of a second of
py4j/analysis per call at bench scale. Per-row kernels
(``winnow_fps_columns``) and the token-level operators stay Column
expressions. No Python UDFs anywhere.
"""

from __future__ import annotations

import os
from urllib.parse import unquote, urlparse

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from sync_spark.functions.text import fingerprint, shingles, tokens


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Survivor per exact-content group = min id (deterministic)."""
    return (
        df.withColumn("fp", fingerprint(F.col(text_col)))
        .groupBy("fp")
        .agg(F.min(id_col).alias("survivor_id"), F.count(F.lit(1)).alias("n_dups"))
    )




_KERNEL_CHUNK_BYTES = 32 * 1024


def spread_for_kernel(df: DataFrame) -> DataFrame:
    """Fan a narrow input out before a CPU-bound per-row kernel
    (winnowing, LM scoring, shingling). A small parquet file arrives
    as ONE input split (under files.maxPartitionBytes), which
    serializes the kernel on one core; at 100 TB the scan already has
    thousands of splits and this is a no-op — the repartition is
    strictly conditional because an unconditional one would shuffle
    the full corpus for nothing.

    The width is sized from the bytes of the frame's local input
    files (~one task per 32 KB, capped at defaultParallelism; see
    ``_spread_width_for_bytes``): at toy scale full CPU width costs
    more in task-launch waves than the kernel itself (measured 0.71s
    at 32-way vs 0.51s at 8-way for the sf0.1 winnow kernel), while
    at real scale the cap takes over. A frame with no local files
    behind it (in-memory ``createDataFrame`` rows, remote storage)
    gets NO spread — the unknown-layout rule; in-memory frames
    already arrive at defaultParallelism slices."""
    width = _frame_spread_width(df)
    return df.repartition(width) if width else df


def spread_hint(df: DataFrame) -> str:
    """``spread_for_kernel`` for SQL-string kernels: the conditional
    ``/*+ REPARTITION(n) */`` hint for a SELECT over ``df`` (a
    DataFrame-side repartition can't be injected into a ``spark.sql``
    pipeline without splitting it into two analysis passes). Empty
    string when the scan is already at least as wide as the kernel
    wants. Two calls on one frame give one width, so kernels sharing
    a persisted plan stay plan-equal."""
    width = _frame_spread_width(df)
    return f"/*+ REPARTITION({width}) */" if width else ""


def _frame_spread_width(df: DataFrame) -> int:
    """The kernel width for ``df`` from its input files' bytes. 0 for
    a frame with no local files behind it."""
    return _spread_width_for_bytes(df.sparkSession, local_input_bytes(df))


def local_input_bytes(df: DataFrame) -> int | None:
    """Bytes of the local files behind ``df``'s scans (``inputFiles``
    reads the scan's file index — no job, no plan probe). None when
    the layout is unknown: no files (in-memory rows, JDBC) or any
    file off the local filesystem (remote storage)."""
    size = 0
    for uri in df.inputFiles():
        parsed = urlparse(uri)
        if parsed.scheme not in ("", "file"):
            return None
        size += os.path.getsize(unquote(parsed.path))
    return size or None


def scan_splits(spark, size: int) -> int:
    """Input splits a scan of ``size`` bytes gets, estimated as
    ``ceil(size / spark.sql.files.maxPartitionBytes)``, at least 1."""
    max_split = _parse_byte_size(
        spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
    )
    return max(1, -(-size // max_split))


def _spread_width_for_bytes(spark, size: int | None) -> int:
    cap = spark.sparkContext.defaultParallelism
    if size is None:
        # Unknown layout (remote storage, in-memory rows): NO spread.
        # Assuming "narrow" here would emit an unconditional
        # REPARTITION(cap) that at scale forces a full-corpus shuffle
        # and can even SHRINK a thousands-split scan down to
        # defaultParallelism — the exact hazard the conditional exists
        # to prevent. A missed spread on a genuinely-narrow toy input
        # costs one slow kernel; a forced shuffle at 100 TB costs the
        # job.
        return 0
    width = max(2, min(cap, size // _KERNEL_CHUNK_BYTES + 1))
    return width if scan_splits(spark, size) < width else 0


def _parse_byte_size(value: str, default: int = 134217728) -> int:
    """Spark byte-size conf parser: bare number = bytes, with the
    standard case-insensitive k/m/g/t (optionally + 'b') suffixes
    ('128m', '128MB', '134217728b'). Falls back to ``default`` on
    anything unparseable rather than raising at query-construction
    time."""
    try:
        s = str(value).strip().lower()
        if s.endswith("b"):
            s = s[:-1]
        mult = 1
        if s and s[-1] in "kmgt":
            mult = 1024 ** ("kmgt".index(s[-1]) + 1)
            s = s[:-1]
        return int(s) * mult
    except (ValueError, AttributeError):
        return default


def gram_array(toks: Column, k: int) -> Column:
    """Word k-gram array from a MATERIALIZED token-array Column (the
    shingle path). The clamp+filter guards the
    descending-sequence hazard: for a doc shorter than k tokens a
    bare sequence(1, size-k+1) would generate DESCENDING indices and
    element_at(toks, 0) throws; a guarding CASE branch is not
    reliably skipped under codegen."""
    last = F.size(toks) - k + 1
    idx = F.filter(F.sequence(F.lit(1), F.greatest(last, F.lit(1))), lambda i: i <= last)
    return F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(k)]),
    )


def _doc_shingles(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """Two-step shingling: materialize the token array as a column
    FIRST, then build n-grams with element_at (gram_array). Higher-
    order lambdas run interpreted (no codegen), so an un-materialized
    split() child would be re-evaluated per element — measured 13×
    slower. The token frame is fanned out by ``spread_for_kernel``,
    sized from ``df``'s input files, so every kernel over one corpus
    frame builds the same shingle plan."""
    from sync_spark.functions.text import staged_expr, tokens_named

    toks = spread_for_kernel(
        df.select(F.col(id_col).alias("doc_id"), tokens_named(text_col).alias("toks"))
    )
    # memoized (r11 opt round): the gram HOF is a fixed expression over
    # the staged "toks" attribute — one build per (n, k) per context
    gram = staged_expr(f"dedup.gram_array(toks,{n})", lambda: gram_array(F.col("toks"), n))
    # the ONE persisted shingle column is stored SORTED: the jaccard
    # prefix index explodes a slice of the sorted set (a Generate over
    # a computed array_sort(...) re-evaluates the sort per generated
    # row), and every other consumer (posting explode, array_intersect,
    # size) is order-insensitive — one column serves all callers with
    # no duplicate cache footprint
    return toks.select("doc_id", F.array_sort(F.array_distinct(gram)).alias("sh"))


def _persist_slot(slots: list[DataFrame], df: DataFrame, level: StorageLevel) -> DataFrame:
    """Persist ``df`` at ``level`` as the ONE live entry of ``slots``.

    Results are lazy, so an operator can't know when the caller is
    done with its cache — instead each new entry evicts the previous
    one (bounded to ONE live cache per slot list). A
    still-lazy older result simply recomputes; long-lived sessions
    never accumulate stale persisted relations.

    Evict BEFORE persisting the replacement: Spark's cache manager
    keys on the LOGICAL PLAN, so unpersisting an old handle whose plan
    equals the new one would evict the fresh cache too."""
    while slots:
        try:
            slots.pop().unpersist()
        except Exception:
            pass  # session already stopped
    df = df.persist(level)
    slots.append(df)
    return df


# most-recent persisted shingle table (see _persist_slot)
_live_shingle_cache: list[DataFrame] = []


def _doc_shingles_cached(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """Persisted shingle table with derived size column.

    ORDER MATTERS: persist BEFORE attaching size(sh)/filters. Catalyst
    pushes projections and predicates through the shingle projection,
    substituting the full transform expression into each consumer —
    measured 3× the shingling cost when n_sh and the >0 filter sat
    below the cache barrier. Cache lifetime: one live shingle table
    per session (``_persist_slot``)."""
    base = _persist_slot(
        _live_shingle_cache, _doc_shingles(df, text_col, id_col, n),
        StorageLevel.MEMORY_AND_DISK,
    )
    return base.withColumn("n_sh", F.size("sh")).filter(F.col("n_sh") > 0)


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """EXACT Jaccard ≥ threshold pairs over word n-gram shingle sets —
    a prefix-filtered inverted index (PPJoin-style; Xiao et al.,
    "Efficient Similarity Joins for Near Duplicate Detection", WWW'08
    — public algorithm); see ``ngram_jaccard_pairs_sql``. The persisted
    shingle table registers as a temp view and the prefix index,
    candidate aggregate and two-tier verification run as ONE
    spark.sql analysis pass (r11, guide §4/§1.4: the equivalent
    ~40-call Column chain cost ~0.3s of construction per call at bench
    scale). The shingle build's spread is sized from ``df`` itself
    (see _doc_shingles), so callers sharing one corpus frame share
    one plan-equal shingle cache."""
    docs = _doc_shingles_cached(df, text_col, id_col, n)
    docs.createOrReplaceTempView("__njp_docs")
    return df.sparkSession.sql(ngram_jaccard_pairs_sql("__njp_docs", threshold))


def ngram_jaccard_pairs_sql(docs_view: str, threshold: float = 0.8) -> str:
    """PPJoin pairs over a (doc_id, sh SORTED, n_sh) shingle view.

    Exactness: sets are sorted in one global order and only the first
    ``|s| - ceil(t·|s|) + 1`` shingles are indexed. Two sets with
    Jaccard ≥ t share ≥ ceil(t·max(|A|,|B|)) elements, so their sorted
    prefixes share one — no qualifying pair is lost. The size-ratio
    filter (t·|B| ≤ |A| ≤ |B|/t) is implied by J ≥ t. Work is
    Σ|prefix-posting|² on rare shingles, never n².

    The index keys on xxhash64(shingle) (r12, guide §2.3: 8-byte
    exchange rows). A collision can only ADD a candidate; the exact
    verification decides (sf1: 250,600 pairs bit-equal, 5.1s → 4.5s).

    Positional-suffix bound (r11, guide §3): per candidate pair, keep
    the match count and the positions Pa, Pb of the LARGEST matched
    prefix shingle. Every common element ≤ it is a prefix∩prefix
    match, so |A∩B| ≤ cnt + min(n_a − Pa − 1, n_b − Pb − 1), and
    J ≥ t needs |A∩B| ≥ t·(n_a+n_b)/(1+t). Pairs that can't reach it
    drop EXACTLY (the epsilon keeps borderline ones). sf0.1: 80,381
    candidates → ~1.3k verified.

    Two-tier verify (r7): string array_intersect is interpreted and
    boxes strings (~2.5s of 3.2s at sf0.1). Tier 1 intersects
    xxhash64'd LONG arrays; collisions over-count, so it keeps a
    superset (bar a ~n²/2⁶⁴ collision inside the true intersection).
    Tier 2 computes the exact string intersection on the survivors,
    so the emitted jaccard never involves hashes."""
    t = f"{threshold!r}D"
    t1 = f"{(1.0 + threshold)!r}D"
    return f"""
WITH __nj_prefix AS (
  SELECT doc_id, n_sh, pos, xxhash64(shingle) AS shingle_h
  FROM {docs_view}
  LATERAL VIEW posexplode(slice(sh, 1,
      greatest(CAST(n_sh - ceil({t} * n_sh) + 1 AS INT), 1))) __njx AS pos, shingle
), __nj_cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM __nj_prefix a JOIN __nj_prefix b
    ON a.shingle_h = b.shingle_h AND a.doc_id < b.doc_id
   AND CAST(a.n_sh AS DOUBLE) >= {t} * b.n_sh
   AND CAST(b.n_sh AS DOUBLE) >= {t} * a.n_sh
  GROUP BY a.doc_id, a.n_sh, b.doc_id, b.n_sh
  HAVING CAST(COUNT(*) + least(a.n_sh - MAX(a.pos) - 1,
                               b.n_sh - MAX(b.pos) - 1) AS DOUBLE)
         >= {t} * CAST(a.n_sh + b.n_sh AS DOUBLE) / {t1} - 1e-9
), __nj_va AS (
  SELECT doc_id AS id_a, sh AS sh_a, n_sh AS n_a,
         transform(sh, x -> xxhash64(x)) AS shh_a
  FROM {docs_view}
), __nj_vb AS (
  SELECT doc_id AS id_b, sh AS sh_b, n_sh AS n_b,
         transform(sh, x -> xxhash64(x)) AS shh_b
  FROM {docs_view}
), __nj_t1 AS (
  SELECT id_a, id_b, n_a, n_b, sh_a, sh_b,
         size(array_intersect(shh_a, shh_b)) AS ih
  FROM __nj_cand JOIN __nj_va USING (id_a) JOIN __nj_vb USING (id_b)
), __nj_t2 AS (
  SELECT id_a, id_b, n_a, n_b, size(array_intersect(sh_a, sh_b)) AS inter
  FROM __nj_t1
  WHERE CAST(ih AS DOUBLE) / CAST(n_a + n_b - ih AS DOUBLE) >= {t}
)
SELECT id_a, id_b, jaccard FROM (
  SELECT id_a, id_b,
         CAST(inter AS DOUBLE) / CAST(n_a + n_b - inter AS DOUBLE) AS jaccard
  FROM __nj_t2
) WHERE jaccard >= {t}
"""


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
) -> DataFrame:
    """MinHash→LSH candidate generation + exact-Jaccard verification
    (see ``minhash_lsh_pairs_sql``). The persisted shingle table
    registers as a temp view and the signature aggregate, banding
    join and verification run as ONE spark.sql analysis pass (r11,
    guide §4/§1.4: the 32 per-seed min-agg Columns plus 8 band structs
    cost ~0.55s of py4j construction per call at bench scale)."""
    assert num_hashes % bands == 0
    docs = _doc_shingles_cached(df, text_col, id_col, n)
    docs.createOrReplaceTempView("__mhp_docs")
    return df.sparkSession.sql(
        minhash_lsh_pairs_sql("__mhp_docs", num_hashes, bands, threshold)
    )


def minhash_lsh_pairs_sql(
    docs_view: str,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
) -> str:
    """MinHash-LSH pairs over a (doc_id, sh, n_sh) shingle view:
    ``num_hashes`` seeded xxhash64 minima per doc, cut into ``bands``
    bands of r = num_hashes/bands rows (band hash = xxhash64 over the
    r signature longs, seed order preserved). Docs colliding in ≥1
    band are candidates — P[collision] = 1-(1-s^r)^b at Jaccard s.
    Verification recomputes EXACT Jaccard on the candidates, so false
    positives are filtered and the output carries no similarity
    estimates. There is deliberately NO hashed pre-filter tier (unlike
    ngram_jaccard_pairs_sql): banding already yields a near-precise
    candidate set (256 candidates at sf0.1 where the prefix index
    passes 80k), so the extra tier would be pure overhead."""
    assert num_hashes % bands == 0
    r = num_hashes // bands
    t = f"{threshold!r}D"
    # explode + GROUP BY signatures — REVERTED to this form in the
    # r12 opt round after an sf1 interleaved A/B. The r11 per-row
    # rewrite (array_min(transform(sh, s -> xxhash64(i, s))) × 32, no
    # exchange) computes identical minima, but every transform() is an
    # INTERPRETED higher-order function allocating a fresh array per
    # row: at sf1 (50k docs) the 32 interpreted passes measured
    # 7.0-7.9s against 3.6-4.4s for this codegen'd explode + hash-agg
    # in the same session (rows verified identical, 250,600 pairs);
    # at sf0.1 the two forms are within the per-stage floor of each
    # other (1.0-1.6 vs 1.3-1.5s interleaved) and at sf0.001 a wash.
    # The shuffle this form pays carries doc-grain PARTIAL minima
    # (map-side hash aggregation folds the exploded shingles before
    # the exchange — num_docs × 32 longs, not the shingle grain), so
    # it is also the right 100 TB shape: codegen'd per-element work,
    # bounded shuffle bytes, no interpreted lambda on the hot path.
    mins_agg = ",\n         ".join(
        f"MIN(xxhash64({i}, shingle)) AS h{i}" for i in range(num_hashes)
    )
    band_structs = ",\n      ".join(
        "struct({i} AS band, xxhash64({cols}) AS band_hash)".format(
            i=i, cols=", ".join(f"h{i * r + j}" for j in range(r))
        )
        for i in range(bands)
    )
    return f"""
WITH __mh_ex AS (
  SELECT doc_id, shingle FROM {docs_view} LATERAL VIEW explode(sh) __mhx AS shingle
), __mh_sig AS (
  SELECT doc_id,
         {mins_agg}
  FROM __mh_ex GROUP BY doc_id
), __mh_band AS (
  SELECT doc_id, b.band AS band, b.band_hash AS band_hash
  FROM __mh_sig
  LATERAL VIEW explode(array(
      {band_structs})) __mhb AS b
), __mh_cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM __mh_band a JOIN __mh_band b
    ON a.band = b.band AND a.band_hash = b.band_hash AND a.doc_id < b.doc_id
), __mh_va AS (
  SELECT doc_id AS id_a, sh AS sh_a, n_sh AS n_a FROM {docs_view}
), __mh_vb AS (
  SELECT doc_id AS id_b, sh AS sh_b, n_sh AS n_b FROM {docs_view}
)
SELECT id_a, id_b, jaccard FROM (
  SELECT id_a, id_b,
         CAST(inter AS DOUBLE) / CAST(n_a + n_b - inter AS DOUBLE) AS jaccard
  FROM (
    SELECT id_a, id_b, n_a, n_b, size(array_intersect(sh_a, sh_b)) AS inter
    FROM __mh_cand JOIN __mh_va USING (id_a) JOIN __mh_vb USING (id_b)
  )
) WHERE jaccard >= {t}
"""


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 64) -> DataFrame:
    """64-bit SimHash over the token bag: bit_i = sign of Σ ±1 votes
    from xxhash64(token) bit i. Returned as a signed long. This
    Column-built signature is the INDEPENDENT recompute that
    chk_simhash and the exactness test check ``simhash_pairs_cached``
    (which builds its signatures in SQL) against.

    The hash is materialized ONCE per token before the aggregation
    (an expression inside 64 agg functions is evaluated 64×/row), the
    ±1 vote sums are rewritten as plain bit sums (sign(Σ±1) > 0 ⇔
    2·ones > n), and each SUM lane-packs TWO bit counters into one
    long (32-bit lanes): 33 aggregate buffers instead of 65 halves
    both the agg state and the generated-code size — measured 4.3s →
    2.6s at sf0.1, bit-identical signatures (parity-tested). Lane
    overflow needs 2³² same-bit tokens in one document — not a real
    bound."""
    assert bits % 2 == 0
    toks = df.select(
        F.col(id_col).alias("doc_id"), F.explode(tokens(F.col(text_col))).alias("tok")
    ).select("doc_id", F.xxhash64("tok").alias("h"))

    def packed(j: int):
        lanes = None
        for m in range(2):
            bit = F.shiftright(F.col("h"), j * 2 + m).bitwiseAND(F.lit(1))
            t = F.shiftleft(bit, m * 32)
            lanes = t if lanes is None else lanes + t
        return F.sum(lanes).alias(f"p{j}")

    agg = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_tok"), *[packed(j) for j in range(bits // 2)]
    )
    sig = F.lit(0).cast("long")
    for i in range(bits):
        j, m = i // 2, i % 2
        ones = F.shiftright(F.col(f"p{j}"), m * 32).bitwiseAND(F.lit(0xFFFFFFFF))
        sig = sig.bitwiseOR(
            F.when(ones * 2 > F.col("n_tok"), F.shiftleft(F.lit(1).cast("long"), i))
            .otherwise(F.lit(0).cast("long"))
        )
    return agg.select("doc_id", sig.alias("simhash"))


# most-recent persisted simhash chunk relation (see _persist_slot)
_live_chunk_cache: list[DataFrame] = []


def simhash_pairs_cached(
    spark,
    src: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bits: int = 64,
) -> DataFrame:
    """Near-dup pairs by SimHash, hamming ≤ ``max_hamming`` over the
    view ``src``. Pigeonhole on 4×16-bit chunks: a pair within hamming
    3 shares at least one chunk, so the chunk-equality self-join
    misses no pair and an exact popcount of XOR verifies each
    candidate — EXACT for max_hamming ≤ 3 (a test checks it against a
    brute force over all pairs).

    One spark.sql statement builds the chunk relation (a Column chain
    of the 64-term signature cost ~1.5s of construction, r7), and it
    is persisted so both self-join sides read it — as one statement
    Catalyst inlines the CTE into BOTH sides and aggregates the
    signatures twice per action (r11). persist (not localCheckpoint)
    keeps the lineage for the lost-executor posture.

    Cache lifetime mirrors _doc_shingles_cached: each call evicts the
    previous chunk cache (``_persist_slot``, bounded to ONE live
    entry), so a long-lived session serving varying sources doesn't
    accumulate persisted chunk relations and driver-side plan
    references."""
    assert bits % 2 == 0
    lanes = ",\n         ".join(
        f"SUM((shiftright(h, {j * 2}) & 1) + shiftleft(shiftright(h, {j * 2 + 1}) & 1, 32)) AS p{j}"
        for j in range(bits // 2)
    )
    sig_terms = " |\n         ".join(
        f"(CASE WHEN (shiftright(p{i // 2}, {(i % 2) * 32}) & 4294967295) * 2 > n_tok"
        f" THEN shiftleft(CAST(1 AS BIGINT), {i}) ELSE 0L END)"
        for i in range(bits)
    )
    n_chunks = bits // 16
    chunks = spark.sql(f"""
WITH __sht AS (
  SELECT {id_col} AS doc_id, xxhash64(tok) AS h
  FROM {src}
  LATERAL VIEW explode(CASE WHEN length(trim({text_col})) = 0
                            THEN CAST(array() AS ARRAY<STRING>)
                            ELSE split(trim({text_col}), '\\\\s+') END) __shx AS tok
), __sha AS (
  SELECT doc_id, COUNT(*) AS n_tok,
         {lanes}
  FROM __sht GROUP BY doc_id
), __shs AS (
  SELECT doc_id,
         {sig_terms} AS simhash
  FROM __sha
), __shc AS (
  SELECT doc_id, simhash, chunk,
         shiftrightunsigned(simhash, chunk * 16) & 65535 AS chunk_val
  FROM __shs
  LATERAL VIEW explode(sequence(0, {n_chunks - 1})) __shk AS chunk
)
SELECT doc_id, simhash, chunk, chunk_val FROM __shc
""")
    chunks = _persist_slot(_live_chunk_cache, chunks, StorageLevel.MEMORY_AND_DISK_DESER)
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.chunk_val") == F.col("b.chunk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.simhash").alias("sh_a"),
            F.col("b.simhash").alias("sh_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def winnow_fingerprint_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken MOSS
    scheme, public algorithm) as (doc_id, fp) rows: hash every token
    k-gram, keep the MINIMUM hash of each ``window`` consecutive
    k-grams, emit the distinct selected hashes.

    Guarantee: any shared token run of length ≥ k + window - 1 between
    two documents yields at least one shared fingerprint — the basis
    for local (substring-level) near-dup detection, which
    whole-document md5 (``fingerprint``) cannot see.

    Shape: the staged-projection per-row kernel
    (``winnow_fps_columns``, linear per document) + explode —
    winnowing is a PER-DOCUMENT computation, so the shuffle-free form
    is the right one: no doc_id shuffle, no window sort,
    embarrassingly parallel at any scale. (An earlier posexplode +
    lead() + sliding-window-min form paid a full shuffle+sort of
    every token row for work that never crosses document boundaries;
    measured 1.6s vs 0.7s at sf0.1.) The only caveat is input
    parallelism — a small parquet file arrives as one split and would
    serialize the CPU-bound kernel on one core, hence
    ``spread_for_kernel``. Hash is the 56-bit md5 prefix (see
    functions.text.winnow_hash) for DuckDB oracle parity.
    """
    src = spread_for_kernel(
        df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("__wtext"))
    )
    staged = winnow_fps_columns(src, "__wtext", k=k, window=window, out="__fps")
    # explode_outer + post-filter, NOT a plain explode of the bare
    # attribute: InferFiltersFromGenerate turns explode(attr) into a
    # pushed-down `size(attr) > 0` filter, and predicate pushdown
    # substitutes the alias chain — the whole tokenize→hash pipeline
    # re-evaluated in a Filter with per-element token splits (measured
    # quadratic hang). The rule does not apply to outer generate, and
    # the null-filter on the OUTPUT attribute cannot push below the
    # Generate. fps are non-null longs by construction, so dropping
    # null fp rows is exactly "skip empty-fingerprint docs".
    return staged.select("doc_id", F.explode_outer("__fps").alias("fp")).filter(
        F.col("fp").isNotNull()
    )


def winnow_sql_kernel(
    id_col: str, text_col: str, src: str, k: int = 5, window: int = 4,
    prefix: str = "__w",
) -> str:
    """Spark-SQL text form of ``winnow_fps_columns`` + the
    explode_outer row expansion — the IDENTICAL staged projections
    (same CollapseProject discipline, same short-doc guards, same
    56-bit md5 prefix hash), emitted as CTE text so a hot consumer can
    run its WHOLE pipeline through one ``spark.sql`` analysis pass.
    Rationale: each DataFrame transformation re-analyzes the
    accumulated tree, and the ~10-call winnow chain costs ~0.4s of
    Python/analysis per query construction at bench scale (measured
    on d_source_overlap r6) — pure constant-factor, but it is half
    the gap to the DuckDB oracle on sub-second queries.

    Returns CTEs ``{prefix}k1..{prefix}k4, {prefix}fp`` (default
    ``__wk1..__wfp``); the caller composes ``WITH <its own src CTE>,
    {this}, ...`` and reads (``id_col``, fp) rows from
    ``{prefix}fp``, or per-doc fps ARRAYS from ``{prefix}k4``. Pass a
    distinct ``prefix`` to instantiate the kernel twice in one
    statement (corpus + benchmark sides of a decontamination).
    Batch SQL runs this form; streaming frames need the Column form
    (``winnow_fps_columns``), and a test pins the two to equal
    rows."""
    grams = ", ".join(f"element_at(wtoks, i + {j})" for j in range(k))
    zips = "hs"
    for lvl in range(1, window):
        zips = (
            f"zip_with({zips}, slice(hs, {lvl + 1}, "
            f"greatest(size(hs) - {lvl}, 1)), (x, y) -> least(x, y))"
        )
    return f"""{prefix}k1 AS (
  SELECT {id_col},
         CASE WHEN length(trim({text_col})) = 0 THEN CAST(array() AS ARRAY<STRING>)
              ELSE split(trim({text_col}), '\\\\s+') END AS wtoks
  FROM {src}
), {prefix}k2 AS (
  SELECT {id_col}, wtoks, size(wtoks) - {k - 1} AS ng FROM {prefix}k1
), {prefix}k3 AS (
  SELECT {id_col},
         CASE WHEN ng < 1 THEN CAST(array() AS ARRAY<BIGINT>)
              ELSE transform(sequence(1, greatest(ng, 1)),
                   i -> CAST(conv(substring(md5(CAST(concat_ws(' ', {grams}) AS BINARY)), 1, 14), 16, 10) AS BIGINT)) END AS hs
  FROM {prefix}k2
), {prefix}k4 AS (
  SELECT {id_col},
         CASE WHEN size(hs) < 1 THEN CAST(array() AS ARRAY<BIGINT>)
              ELSE array_distinct(slice({zips}, 1, greatest(size(hs) - {window - 1}, 1))) END AS fps
  FROM {prefix}k3
), {prefix}fp AS (
  SELECT {id_col}, fp
  FROM {prefix}k4 LATERAL VIEW OUTER explode(fps) {prefix}x AS fp
  WHERE fp IS NOT NULL
)"""


def winnow_fps_columns(
    df: DataFrame,
    text_col: str,
    k: int = 5,
    window: int = 4,
    out: str = "fps",
) -> DataFrame:
    """Per-row winnowing fingerprint set as an ``out`` array column,
    built through MATERIALIZED projection stages. Staging is what
    keeps it linear: a lambda body re-evaluates its non-argument
    subexpressions PER ELEMENT, so a one-big-expression form
    recomputes the full md5 gram array once per window position —
    quadratic per document, measured as a hang at sf0.1. Bound
    attribute references keep it linear, and every op is
    a narrow projection.

    Rows with zero grams (docs shorter than k tokens) keep an EMPTY
    ``out`` array — no row loss, callers filter or explode as they
    need."""
    from sync_spark.functions.text import staged_expr, tokens_named, winnow_hash

    helper_ng, helper_hs = f"__{out}_ng", f"__{out}_hs"
    t = df.withColumn("__wtoks", tokens_named(text_col)).withColumn(
        helper_ng, F.size("__wtoks") - F.lit(k - 1)
    )

    # fused gram→hash transform: one array materialization, not two.
    # sequence() is guarded by when(): a bare sequence(1, ng) with
    # ng <= 0 generates a DESCENDING sequence (the short-doc hazard)
    def _hs_expr() -> Column:
        return F.when(F.col(helper_ng) < 1, F.array().cast("array<bigint>")).otherwise(
            F.transform(
                F.sequence(F.lit(1), F.greatest(F.col(helper_ng), F.lit(1))),
                lambda i: winnow_hash(
                    F.concat_ws(
                        " ", *[F.element_at(F.col("__wtoks"), i + j) for j in range(k)]
                    )
                ),
            )
        )

    # both heavy expressions read only the fixed helper attributes, so
    # they memoize per (out, k, window) — see staged_expr (r11 opt)
    t = t.withColumn(helper_hs, staged_expr(f"winnow.hs({out},{k})", _hs_expr))

    # Sliding window-min WITHOUT referencing the hash column inside a
    # lambda body: wins[p] = least(hs[p], ..., hs[p+window-1]) built as
    # a zip_with chain against shifted slices. Every lambda here reads
    # ONLY its own arguments, so even if the optimizer collapses the
    # projections and inlines the hash transform into each top-level
    # reference, the worst case is `window` whole-array evaluations
    # per ROW — linear. (The transform(sequence, p -> array_min(
    # slice(hs, p, w))) form looks equivalent but references hs inside
    # the lambda; CollapseProject inlines the single-use transform into
    # the body, and an inlined subexpression re-evaluates PER ELEMENT —
    # measured as an 80s-at-sf0.001 quadratic blow-up.)
    def _out_expr() -> Column:
        hs = F.col(helper_hs)
        acc = hs
        for j in range(1, window):
            # start beyond the array end yields an empty slice; zip_with
            # null-pads the shorter side and least() skips nulls, which IS
            # the truncated-tail-window rule (short docs keep their
            # global min at position 1)
            shifted = F.slice(hs, j + 1, F.greatest(F.size(hs) - j, F.lit(1)))
            acc = F.zip_with(acc, shifted, lambda a, b: F.least(a, b))
        nw = F.greatest(F.size(hs) - F.lit(window - 1), F.lit(1))
        # array_distinct in-row — no dedupe shuffle
        return F.when(F.size(hs) < 1, F.array().cast("array<bigint>")).otherwise(
            F.array_distinct(F.slice(acc, 1, nw))
        )

    t = t.withColumn(out, staged_expr(f"winnow.out({out},{k},{window})", _out_expr))
    return t.drop("__wtoks", helper_ng, helper_hs)


def winnow_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
    min_shared: int = 2,
    max_posting: int = 100,
) -> DataFrame:
    """Local near-dup candidate pairs (id_a < id_b, shared_fps):
    documents sharing ≥ ``min_shared`` winnowing fingerprints. The
    MOSS shape: inverted index on fingerprint (boilerplate prints
    appearing in > ``max_posting`` docs dropped — same hot-shingle
    discipline as ngram_jaccard), pairs generated IN-ROW from each
    sorted posting list (bounded ≤ max_posting, so the per-row
    expansion is ≤ max_posting²/2 structs) — one shuffle to build
    postings, one to count pairs, no fingerprint self-join. Σ posting²
    work, never n²; detects SHARED RUNS (≥ k + window - 1 tokens)
    rather than whole-document similarity.

    ``df`` registers as a temp view and the pipeline runs as ONE
    spark.sql analysis pass (the equivalent Column chain spent
    ~0.3s/query in plan construction plus the optimizer-stats spread
    probe, r6); a narrow file scan gets the file-stat spread hint."""
    view = _doc_view(df, id_col, text_col, "__wp_docs")
    kernel = winnow_sql_kernel("doc_id", "text", "__wp_src", k=k, window=window)
    return df.sparkSession.sql(f"""
WITH __wp_src AS (
  SELECT {spread_hint(df)} doc_id, text FROM {view}
), {kernel}, __wp_postings AS (
  SELECT sort_array(collect_list(doc_id)) AS ids FROM __wfp GROUP BY fp
), __wp_bounded AS (
  SELECT ids FROM __wp_postings WHERE size(ids) BETWEEN 2 AND {max_posting}
), __wp_pairs AS (
  SELECT p.id_a AS id_a, p.id_b AS id_b
  FROM __wp_bounded LATERAL VIEW OUTER explode(
    flatten(transform(ids, (x, i) ->
      transform(slice(ids, i + 2, {max_posting}),
                y -> struct(x AS id_a, y AS id_b))))) __e AS p
  WHERE p IS NOT NULL
)
SELECT id_a, id_b, CAST(COUNT(*) AS BIGINT) AS shared_fps
FROM __wp_pairs GROUP BY id_a, id_b HAVING COUNT(*) >= {min_shared}
""")


def _doc_view(df: DataFrame, id_col: str, text_col: str, name: str) -> str:
    """Register ``df``'s id/text columns as temp view ``name`` under
    the (doc_id, text) names the SQL kernels read."""
    df.select(
        F.col(id_col).alias("doc_id"), F.col(text_col).alias("text")
    ).createOrReplaceTempView(name)
    return name


def decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag corpus documents that share
    ≥ ``min_shared`` winnowing fingerprints with ANY benchmark
    document — i.e. contain a verbatim token run of ≥ k + window - 1
    tokens from the eval set (the standard n-gram-overlap
    decontamination criterion for training corpora).

    Returns (doc_id, n_hits, contaminated): every corpus doc, with the
    count of distinct (fingerprint, benchmark-doc) collisions.

    Scale: both sides reduce to fingerprint rows (winnowing keeps
    ~1/window of the k-grams); the probe is a broadcast-size join when
    the benchmark is small (the usual case — eval sets are MBs against
    a 100 TB corpus), falling back to a shuffle join on fp otherwise —
    Spark picks via size estimate, no operator change needed.

    Shape: both frames register as temp views and the kernels, the
    collision aggregate and the join back to the corpus doc list run
    as ONE spark.sql analysis pass (r11, guide §4: two winnow Column
    chains plus their plan-probe spreads cost ~0.6s of construction
    per call at bench scale). The corpus kernel gets the file-stat
    spread hint; the eval side none — benchmark sets are small by
    definition (the bloom discipline)."""
    _doc_view(corpus, id_col, text_col, "__dc_corpus")
    bench = _doc_view(benchmark, id_col, text_col, "__dc_bench")
    hits = decontaminate_hits_sql("__dc_spread", bench, k=k, window=window)
    return corpus.sparkSession.sql(f"""
WITH __dc_spread AS (
  SELECT {spread_hint(corpus)} doc_id, text FROM __dc_corpus
), {hits}
SELECT d.doc_id,
       COALESCE(h.n_hits, 0L) AS n_hits,
       COALESCE(h.n_hits, 0L) >= {min_shared} AS contaminated
FROM (SELECT doc_id FROM __dc_corpus) d
LEFT JOIN __dhhits h ON d.doc_id = h.doc_id
""")


def decontaminate_hits_sql(
    corpus_src: str,
    bench_src: str,
    k: int = 5,
    window: int = 4,
    prefix: str = "__dh",
) -> str:
    """The collision aggregate behind ``decontaminate``, as CTE text:
    ``winnow_sql_kernel`` CTEs for both sides plus ``{prefix}hits``
    (doc_id, n_hits BIGINT) counting (fingerprint, benchmark-doc)
    collisions per corpus doc (per-doc fps are already distinct from
    the kernel). Corpus docs with ≥1 collision ONLY — no join back to
    the full corpus doc list: a composite that already carries every
    corpus doc (t_curate_corpus's flags frame) left-joins THIS instead
    of decontaminate's full output, saving one corpus scan."""
    ck = winnow_sql_kernel("doc_id", "text", corpus_src, k=k, window=window,
                           prefix=f"{prefix}c")
    bk = winnow_sql_kernel("doc_id", "text", bench_src, k=k, window=window,
                           prefix=f"{prefix}b")
    return f"""{ck}, {bk}, {prefix}hits AS (
  SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_hits
  FROM {prefix}cfp c JOIN {prefix}bfp b ON c.fp = b.fp
  GROUP BY c.doc_id
)"""


def span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document duplicated-SPAN removal (the RefinedWeb /
    exact-substring dedup criterion, approximated at token-k-gram
    granularity — public technique): a k-gram appearing in ≥
    ``min_docs`` distinct documents is a duplicated span; every doc
    EXCEPT the gram's canonical owner (min doc_id) drops the tokens
    covered by its occurrences. Unlike whole-doc dedup this rescues
    documents that merely EMBED boilerplate (license headers, nav
    text, quoted passages) — the unique remainder survives.

    Returns (doc_id, clean_text, n_kept, n_removed) for EVERY input
    document, clean_text preserving original token order.

    Shape (all Column-native, one pass, no UDFs):
    - posexplode tokens once; k-grams via k-1 lead() calls on the
      (doc_id, pos) window — linear, the winnowing discipline;
    - gram ownership: distinct (gram, doc) pairs → groupBy(gram) for
      (min owner, doc count) — the dominant shuffle, partial-agg
      combinable; boilerplate grams are exactly the hot keys AQE's
      skew join splits;
    - coverage: dup-start flags joined back at (doc, pos), then ONE
      sliding window max over [pos-k+1, pos] marks covered tokens
      (positions are dense, so the row frame IS the position frame);
    - reassembly: groupBy(doc) with order-restoring
      array_sort(collect_list(struct(pos, tok))) — per-doc data, the
      partition key is the doc id, skew-free.
    """
    from pyspark.sql.window import Window

    toks = df.select(F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("toks"))
    tokp = toks.select("doc_id", F.posexplode("toks").alias("pos", "tok"))
    w_ord = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", j).over(w_ord) for j in range(1, k)]
    # materialize the gram BEFORE the completeness filter: window
    # expressions placed after the filter would be re-evaluated over
    # the FILTERED rows, where the trailing leads go null and
    # concat_ws silently emits short grams (the same trap
    # winnow_fingerprint_rows documents)
    grams = (
        tokp.withColumn("g", F.concat_ws(" ", *parts))
        .withColumn("last_part", parts[-1])
        .filter(F.col("last_part").isNotNull())
        .select("doc_id", "pos", "g")
    )
    owners = (
        grams.select("g", "doc_id")
        .distinct()
        .groupBy("g")
        .agg(F.min("doc_id").alias("owner"), F.count(F.lit(1)).alias("nd"))
        .filter(F.col("nd") >= min_docs)
    )
    dup_starts = (
        grams.join(owners, "g")
        .filter(F.col("doc_id") > F.col("owner"))
        .select("doc_id", "pos", F.lit(1).alias("dup"))
    )
    cover = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-(k - 1), 0)
    kept = (
        tokp.join(dup_starts, ["doc_id", "pos"], "left")
        .withColumn("cov", F.max("dup").over(cover))
        .filter(F.col("cov").isNull())
    )
    clean = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))), lambda s: s["tok"]
            ),
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
    )
    base = toks.select("doc_id", F.size("toks").cast("long").alias("n_tokens"))
    return base.join(clean, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
        (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0))).alias("n_removed"),
    )


# ---------------------------------------------------------------------------
# Bloom-filter decontamination: broadcast-bitmap probe
# ---------------------------------------------------------------------------

# constants, not options: a bit position IS a 20-bit md5 slice
# (_bloom_hash_sql), so m is fixed at 2^20, and the DuckDB oracle
# bakes in k
BLOOM_M_BITS = 1 << 20  # 1 Mi bits = 128 KB bitmap; 2^20 = one 5-hex-digit slice
BLOOM_K_HASH = 4


def _bloom_hash_sql(h_expr: str, j_expr: str) -> str:
    """SQL text for one Bloom bit position from a PRECOMPUTED md5 hex
    digest: position j = hex digits [5j, 5j+5) parsed base-16 — four
    disjoint 20-bit slices of one digest, and 2^20 = m exactly, so no
    modulo is even needed. One md5 per fingerprint instead of k
    (partitioned hashing — the standard Bloom practice of splitting a
    single wide digest into k index fields; Kirsch & Mitzenmacher 2006
    analyze why derived positions lose nothing). The slices are plain
    substrings, so a DuckDB oracle reproduces every position — and
    therefore every false positive — exactly.

    SQL text, not Column composition, deliberately: the kernels below
    sit inside higher-order lambdas, and SQL ``shiftleft`` accepts an
    EXPRESSION shift amount where the Python wrapper takes only a
    literal; building the same tree from Python Columns needs a
    64-element power-of-two literal array plus hundreds of py4j round
    trips — measured ~1.4s of per-call plan-construction latency,
    3× the query's actual execution. One F.expr call is one round
    trip, and bench timings include construction."""
    return (
        f"CAST(conv(substring({h_expr}, 1 + 5 * {j_expr}, 5), 16, 10) AS BIGINT)"
    )


def bloom_bitmap_sql(fp_src: str, fp_col: str = "fp", prefix: str = "__bm") -> str:
    """CTEs ``{prefix}pos, {prefix}words, {prefix}bitmap`` folding
    (``fp_col``) rows from ``fp_src`` into a ONE-ROW Bloom bitmap
    (``bloom: map<long,long>`` of word-index → 64-bit word, words with
    no set bits omitted), fully distributed: bit positions explode
    from the fp rows, per-word masks combine with the map-side-partial
    ``bit_or`` aggregate (the word id is the shuffle key — ≤ m/64
    distinct keys, uniform), and the final map assembles via
    map_from_entries(collect_list) in a single-group agg —
    constant-size (≤ m/64 entries, 128 KB), never data-sized. The
    sparse-map form skips the dense range-densify join an array bitmap
    would need (an absent word IS zero, via coalesce at probe time).
    No driver collect anywhere; the row is made for a broadcast
    cross-join probe."""
    return f"""{prefix}pos AS (
  SELECT explode(transform(sequence(0, {BLOOM_K_HASH - 1}), j -> {_bloom_hash_sql('h', 'j')})) AS pos
  FROM (SELECT md5(CAST({fp_col} AS STRING)) AS h FROM {fp_src})
), {prefix}words AS (
  SELECT pos DIV 64 AS word, bit_or(shiftleft(1L, CAST(pos % 64 AS INT))) AS mask
  FROM {prefix}pos GROUP BY pos DIV 64
), {prefix}bitmap AS (
  SELECT map_from_entries(collect_list(struct(word, mask))) AS bloom FROM {prefix}words
)"""


def bloom_probe_nmaybe_sql(fps_col: str) -> str:
    """SQL text counting how many DISTINCT fingerprints in the
    ``fps_col`` array have every Bloom bit set in the in-scope
    ``bloom`` map attribute — bloom_decontaminate's probe. Lambda
    bodies read only their own args plus the broadcast ``bloom``
    attribute, so nothing re-evaluates per element; md5 runs exactly
    ONCE PER FINGERPRINT (the inner forall only slices the
    already-computed digest `h`)."""
    return (
        f"CAST(size(filter("
        f"transform(array_distinct({fps_col}), fp -> md5(CAST(fp AS STRING))), "
        f"h -> forall(transform(sequence(0, {BLOOM_K_HASH - 1}), j -> {_bloom_hash_sql('h', 'j')}), "
        f"p -> (coalesce(element_at(bloom, p DIV 64), 0L) & shiftleft(1L, CAST(p % 64 AS INT))) != 0"
        f"))) AS BIGINT)"
    )


def bloom_decontaminate(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    window: int = 4,
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark decontamination through a broadcast Bloom filter —
    the 100 TB form of ``decontaminate``: instead of JOINING corpus
    fingerprints against benchmark fingerprints (a shuffle, or a
    broadcast of the full eval fp SET), the benchmark folds into a
    fixed 128 KB bitmap and every corpus document probes it IN-ROW —
    the corpus side is a pure map over the scan, no shuffle, no
    per-executor hash set, and the bitmap cost is independent of how
    large the eval suite grows. One-sided error only: a shared
    fingerprint ALWAYS hits (no false negatives — the guarantee
    decontamination must not lose); hash collisions can flag extra
    docs at the documented rate (1−e^{−kn/m})^k, ~1e-5 at the fixed
    sizing (BLOOM_M_BITS, BLOOM_K_HASH) for 60k benchmark fps — the standard Bloom trade
    (conservative: never leaks contamination, occasionally
    over-quarantines).

    Returns (doc_id, n_maybe, flagged): per corpus doc, the count of
    its distinct fingerprints whose k positions are all set, and the
    ≥ ``min_shared`` flag.

    The probe is deterministic (md5-derived positions), so the exact
    bit pattern — including the false positives — is reproducible in
    the DuckDB oracle via position-set membership (bit b set ≡ b ∈
    distinct benchmark positions): the registry query hash-matches
    end to end, no approximation gate needed."""
    # no spread on the eval side, and no DISTINCT on its fps: eval
    # sets are small by definition (MBs against the corpus), so a
    # repartition wave costs more than the single-split kernel it
    # would parallelize, and bit_or is idempotent — duplicate
    # fingerprints re-set the same bits for free. The corpus probe
    # side gets the file-stat spread hint. One spark.sql analysis
    # pass (r7): the Column composition measured 0.50s of
    # construction against 0.35s of execution at sf0.1.
    _doc_view(corpus, id_col, text_col, "__bd_corpus")
    bench = _doc_view(benchmark, id_col, text_col, "__bd_bench")
    ck = winnow_sql_kernel("doc_id", "text", "__bd_spread", k=k, window=window, prefix="__bc")
    bk = winnow_sql_kernel("doc_id", "text", bench, k=k, window=window, prefix="__bb")
    return corpus.sparkSession.sql(f"""
WITH __bd_spread AS (
  SELECT {spread_hint(corpus)} doc_id, text FROM __bd_corpus
), {ck}, {bk}, {bloom_bitmap_sql("__bbfp", "fp")}
SELECT doc_id, n_maybe, n_maybe >= {min_shared} AS flagged
FROM (
  SELECT /*+ BROADCAST(__bmbitmap) */ doc_id,
         {bloom_probe_nmaybe_sql("fps")} AS n_maybe
  FROM __bck4 CROSS JOIN __bmbitmap
)""")
