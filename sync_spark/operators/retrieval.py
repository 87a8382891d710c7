"""Lexical retrieval + RAG chunking over the documents corpus — the
two training-data-pipeline surfaces the engine lacked (round 8):

- ``t_bm25_topk``: BM25 top-k document retrieval for a bounded literal
  query set (the sparse/lexical complement to the dense ``e_cosine_*``
  / ANN family — a curation pipeline mines "docs about X" with BM25
  long before an embedding model exists for the domain).
- ``t_chunk_docs``: fixed-size overlapping token-window chunking with
  stable offsets and a per-chunk fingerprint — the doc→passage
  explosion every RAG / long-context training pipeline runs first.

Reference scope note: the reference engine (retail-ai-inc/sync) has no
retrieval surface; these extend the LLM-pipeline family the brief
mandates beyond reference parity, sharing the corpus-kernel discipline
of text_queries.py (staged CTE projections, spread hints, integer
scoring for bit-exact oracles).

Scoring is the Robertson/Sparck-Jones BM25 (k1 = 1.2, b = 0.75)
re-expressed in exact BIGINT arithmetic so Spark and DuckDB produce
bit-identical scores (the repo-wide log-free discipline — ln() is at
the mercy of each engine's libm, floor division is not):

    idf_e4  = ((2N - 2df + 1) * 10^4) DIV (2df + 1)
        -- the +0.5-smoothed IDF ratio (N - df + .5)/(df + .5) with
        -- numerator and denominator doubled to stay integral, scaled
        -- 1e4 and floored; monotone in the true IDF.
    tfc_e4  = (44·L·tf · 10^4) DIV (20·L·tf + 6·L + 18·dl·N)
        -- tf·(k1+1) / (tf + k1·(1 - b + b·dl/avgdl)) with
        -- avgdl = L/N multiplied through by 20·L: k1 = 6/5 and
        -- b = 3/4 make every coefficient integral (44 = 20·11/5).
    score_e4 = Σ_t (idf_e4 · tfc_e4) DIV 10^4   over query terms

Overflow bounds (documented, not incidental): with corpus token count
L and tf ≤ dl, the largest intermediate is 44·L·tf·10^4 — at L = 2.7e9
tokens (sf1000 of this fixture) and tf = 500 that is ~5.9e17 < 2^63;
the idf·tfc product is bounded by (2N+1)·10^4 · 2.2·10^4 ≈ 2.2e16 at
N = 5e7. Both engines overflow at the same inputs if ever exceeded
(DuckDB raises; Spark would need ANSI mode to match — the bound says
neither happens below ~10^3 × this fixture).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from sync_spark.operators import dedup
from sync_spark.operators.relational import _t

# bounded literal query set (terms drawn from the fixture vocabulary);
# BOUNDED is load-bearing: terms ride the plan as literals, so tf is
# an in-row array filter and df is a handful of conditional sums — no
# vocabulary-grain state anywhere.
BM25_QUERIES: list[tuple[int, list[str]]] = [
    (0, ["spark", "join", "window"]),
    (1, ["hash", "merge", "filter"]),
    (2, ["customer", "order", "value"]),
]
BM25_K = 10

_SPARK_TOKS = (
    "CASE WHEN length(trim(text)) = 0 THEN array() "
    "ELSE split(trim(text), '\\\\s+') END"
)
_DUCK_TOKS = (
    "CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[]) "
    "ELSE regexp_split_to_array(trim(text), '\\s+') END"
)


def _contrib(i: int, j: int, div: str) -> str:
    """One term's integer BM25 contribution (shared Spark/DuckDB text;
    ``div`` is the engine's integer-division operator). tf/df arrive
    as staged attributes — each is evaluated exactly once per row."""
    tf, df = f"tf_{i}_{j}", f"df_{i}_{j}"
    idf = f"(((2 * n - 2 * {df} + 1) * 10000) {div} (2 * {df} + 1))"
    tfc = (
        f"((44 * l * {tf} * 10000) {div} "
        f"(20 * l * {tf} + 6 * l + 18 * dl * n))"
    )
    return (
        f"CASE WHEN {tf} > 0 THEN (({idf} * {tfc}) {div} 10000) "
        f"ELSE CAST(0 AS BIGINT) END"
    )


def _bm25_sql(
    dialect: str, spread_hint: str = "", table: str = "documents", k: int = BM25_K
) -> str:
    """One BM25 query text, rendered for ``spark`` or ``duckdb``.

    Shape (identical in both engines, so the oracle IS the plan):
    tokenize once (staged CTE — the repo-wide guard against inlined
    re-evaluation), per-doc tf for each literal term as an in-row
    array filter (NO posting-list shuffle: the terms are bounded
    literals, unlike t_keyword_topk's open vocabulary), corpus stats
    (N, L, per-term df) as ONE 1-row conditional-sum aggregate that
    cross-joins back (Spark: a 1-row BroadcastNestedLoopJoin), scores
    unrolled as columns then stacked to (query_id, score) rows, and
    per-query top-k as a rank-bounded window — rk <= k triggers
    WindowGroupLimit pushdown, so each map task emits at most
    k·|queries| rows into the |queries| reducers (the f_fuzzy_match
    skew lesson: a tiny-cardinality partition key is safe ONLY under
    a pushed-down group limit)."""
    spark = dialect == "spark"
    toks = _SPARK_TOKS if spark else _DUCK_TOKS
    div = "DIV" if spark else "//"
    size = "size" if spark else "len"
    flt = "filter" if spark else "list_filter"
    bigint = "BIGINT"

    tf_cols, df_cols = [], []
    for qid, terms in BM25_QUERIES:
        for j, term in enumerate(terms):
            tf_cols.append(
                f"CAST({size}({flt}(toks, x -> x = '{term}')) AS {bigint}) AS tf_{qid}_{j}"
            )
            if spark:
                df_cols.append(
                    f"SUM(CASE WHEN array_contains(toks, '{term}') THEN 1 ELSE 0 END) AS df_{qid}_{j}"
                )
            else:
                df_cols.append(
                    f"CAST(SUM(CASE WHEN list_contains(toks, '{term}') THEN 1 ELSE 0 END) AS {bigint}) AS df_{qid}_{j}"
                )
    score_cols = [
        " + ".join(_contrib(qid, j, div) for j in range(len(terms)))
        + f" AS score_q{qid}"
        for qid, terms in BM25_QUERIES
    ]
    if spark:
        stack_args = ", ".join(
            f"{qid}, score_q{qid}" for qid, _ in BM25_QUERIES
        )
        stacked = (
            f"SELECT doc_id, stack({len(BM25_QUERIES)}, {stack_args}) "
            "AS (query_id, score_e4) FROM scored"
        )
    else:
        stacked = " UNION ALL ".join(
            f"SELECT doc_id, {qid} AS query_id, score_q{qid} AS score_e4 FROM scored"
            for qid, _ in BM25_QUERIES
        )
    nl = ",\n         "
    return f"""
WITH tok1 AS (
  SELECT {spread_hint} doc_id, {toks} AS toks
  FROM {table}
), docs AS (
  SELECT doc_id, toks, CAST({size}(toks) AS {bigint}) AS dl
  FROM tok1 WHERE {size}(toks) > 0
), tf AS (
  SELECT doc_id, dl,
         {nl.join(tf_cols)}
  FROM docs
), stats AS (
  SELECT CAST(COUNT(*) AS {bigint}) AS n, CAST(SUM(dl) AS {bigint}) AS l,
         {nl.join(df_cols)}
  FROM docs
), scored AS (
  SELECT doc_id,
         {nl.join(score_cols)}
  FROM tf CROSS JOIN stats
), stacked AS (
  {stacked}
), ranked AS (
  SELECT query_id, doc_id, score_e4,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY score_e4 DESC, doc_id ASC) AS rk
  FROM stacked WHERE score_e4 > 0
)
SELECT CAST(query_id AS INT) AS query_id, CAST(rk AS {bigint}) AS rk,
       doc_id, score_e4
FROM ranked WHERE rk <= {k}
"""


def t_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-{k} docs per literal query (see module docstring for
    the exact-integer scoring and _bm25_sql for the plan shape).

    100 TB posture: two corpus scans (stats + scoring), both pure
    map-side Column work ending in a 1-row aggregate and a
    WindowGroupLimit-bounded window — the only data crossing a
    shuffle is k·|queries| rows per map task. The query set is a
    bounded literal by contract; an open query WORKLOAD (thousands of
    queries) would flip to the inverted-index form t_keyword_topk
    already implements (posting-grain aggregate, vocab-grain df
    join)."""
    d = _t(spark, sf_dir, "documents")
    hint = dedup.spread_hint(d)
    d.createOrReplaceTempView("__bm25_documents")
    return spark.sql(_bm25_sql("spark", hint, "__bm25_documents"))


T_BM25_SQL = _bm25_sql("duckdb", "", "documents")


# ---------------------------------------------------------------------------
# RAG chunking: overlapping token windows with offsets + fingerprints
# ---------------------------------------------------------------------------

CHUNK_TOKENS = 64
CHUNK_STRIDE = 48


def _chunk_counts_expr(div: str) -> str:
    # chunks fully cover the doc: 1 + ceil((dl - SIZE)/STRIDE) for
    # dl > SIZE, else 1; ceil via floor((dl - SIZE + STRIDE - 1)/STRIDE)
    # = (dl - 17) DIV 48 + 1 at SIZE=64, STRIDE=48 — integer in both
    # engines.
    return (
        f"CASE WHEN dl <= {CHUNK_TOKENS} THEN 1 "
        f"ELSE ((dl - {CHUNK_TOKENS} + {CHUNK_STRIDE} - 1) {div} {CHUNK_STRIDE}) + 1 END"
    )


def t_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (CHUNK_TOKENS=64 tokens,
    stride CHUNK_STRIDE=48): every doc explodes into chunks with a stable
    (doc_id, chunk_idx) identity, token offsets, and an md5
    fingerprint (the passage key downstream chunk-grain dedup /
    embedding jobs join on). Zero-token docs emit no chunks.

    100 TB posture: embarrassingly parallel — tokenize, a per-doc
    sequence of chunk indexes (bounded by dl/stride), explode, slice.
    NO shuffle anywhere in the plan (plan-guarded: zero Exchange
    nodes); chunk boundaries depend only on the row, so the operator
    scales with scan width exactly. The explode follows the staged-
    projection discipline (LATERAL VIEW OUTER over an attribute, null
    filter instead of a pushed size()>0 predicate) so the token array
    is materialized once per row, never re-evaluated per generated
    chunk."""
    d = _t(spark, sf_dir, "documents")
    hint = dedup.spread_hint(d)
    d.createOrReplaceTempView("__chunk_documents")
    return spark.sql(f"""
WITH tok1 AS (
  SELECT {hint} doc_id, {_SPARK_TOKS} AS toks
  FROM __chunk_documents
), docs AS (
  SELECT doc_id, toks, size(toks) AS dl
  FROM tok1 WHERE size(toks) > 0
), idx AS (
  SELECT doc_id, toks, sequence(0, {_chunk_counts_expr("DIV")} - 1) AS idxs
  FROM docs
), ch AS (
  SELECT doc_id, i AS chunk_idx,
         slice(toks, i * {CHUNK_STRIDE} + 1, {CHUNK_TOKENS}) AS ctoks
  FROM idx LATERAL VIEW OUTER explode(idxs) AS i
  WHERE i IS NOT NULL
), txt AS (
  SELECT doc_id, chunk_idx, ctoks, array_join(ctoks, ' ') AS chunk_text
  FROM ch
)
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       CAST(chunk_idx * {CHUNK_STRIDE} AS BIGINT) AS start_tok,
       CAST(size(ctoks) AS BIGINT) AS chunk_len,
       chunk_text, md5(chunk_text) AS chunk_hash
FROM txt
""")


T_CHUNK_SQL = f"""
WITH tok1 AS (
  SELECT doc_id, {_DUCK_TOKS} AS toks
  FROM documents
), docs AS (
  SELECT doc_id, toks, len(toks) AS dl
  FROM tok1 WHERE len(toks) > 0
), idx AS (
  SELECT doc_id, toks,
         unnest(range({_chunk_counts_expr("//")})) AS chunk_idx
  FROM docs
), ch AS (
  SELECT doc_id, chunk_idx,
         list_slice(toks, chunk_idx * {CHUNK_STRIDE} + 1,
                    chunk_idx * {CHUNK_STRIDE} + {CHUNK_TOKENS}) AS ctoks
  FROM idx
), txt AS (
  SELECT doc_id, chunk_idx, ctoks, array_to_string(ctoks, ' ') AS chunk_text
  FROM ch
)
SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
       CAST(chunk_idx * {CHUNK_STRIDE} AS BIGINT) AS start_tok,
       CAST(len(ctoks) AS BIGINT) AS chunk_len,
       chunk_text, md5(chunk_text) AS chunk_hash
FROM txt
"""


# ---------------------------------------------------------------------------
# Persisted BM25 inverted index: build once, query many (the 100 TB
# retrieval shape — a query workload must not re-scan the corpus)
# ---------------------------------------------------------------------------

_POSTING_SCHEMA = "tok string, doc_id bigint, tf bigint, dl bigint"


def build_bm25_index(df: DataFrame, path: str, text_col: str = "text",
                     id_col: str = "doc_id", n_buckets: int = 32) -> dict:
    """Tokenize the corpus ONCE and persist term postings
    (tok, doc_id, tf, dl) into the engine's own bucketed store keyed
    on tok (sources/bucketed.py: hash-bucket dirs, key-sorted files,
    stage-then-swap crash discipline) plus a 1-row stats table
    (N docs, L total tokens) beside it. Mirrors incremental.py's
    fingerprint index: maintenance and storage live in the same store
    the CDC path uses.

    tf is computed IN-ROW (sort → group starts → zip, the
    t_keyword_topk kernel) so the ONLY shuffle is the bucketed
    write's partitionBy — no posting-grain groupBy precedes it. The
    staged selects keep every HOF lambda reading attributes only (the
    repo-wide guard against per-element re-evaluation of inlined
    subexpressions).

    A (doc_id, dl) sidecar store (``path + "_docs"``, bucketed by
    doc_id) carries the doc grain so extend_bm25_index can re-derive
    exact stats after incremental merges.

    Returns the stats dict {"n_docs", "total_tokens"}."""
    from sync_spark.sources.bucketed import write_bucketed

    postings, docs = _posting_frames(df, text_col, id_col)
    write_bucketed(postings, path, ["tok"], n_buckets)
    write_bucketed(docs, _docs_path(path), ["doc_id"], n_buckets)
    return _write_stats(df.sparkSession, path)


def _stats_path(path: str) -> str:
    return path.rstrip("/") + "_stats"


def bm25_index_topk(
    spark: SparkSession,
    path: str,
    queries: list[tuple[int, list[str]]] | None = None,
    k: int = BM25_K,
) -> DataFrame:
    """BM25 top-k against the PERSISTED index — semantics contract
    (pytest-pinned, test_retrieval.py): bit-identical to the scan-form
    ``t_bm25_topk`` on the same corpus; the index is an optimization,
    never a semantics change.

    Cost shape: the postings read is ``lookup_keys`` — bucket ids come
    from the literal query terms driver-side, the scan partition-prunes
    to ≤ |terms| buckets and the term equality predicates reach the
    key-sorted parquet (rowgroup skipping), so a query workload
    touches posting lists, never the corpus. df per term is an
    aggregate OF the pruned postings; stats are a 1-row broadcast;
    scores partial-aggregate per (query_id, doc_id); top-k is the
    same WindowGroupLimit-bounded window as the scan form."""
    if queries is None:
        queries = BM25_QUERIES
    postings = _pruned_postings(spark, path, queries)
    return _index_ranked(
        spark, path, postings, queries, _BM25_INDEX_CONTRIB, "score_e4", k
    )


_BM25_INDEX_CONTRIB = (
    "((((2 * n - 2 * df + 1) * 10000) DIV (2 * df + 1))"
    " * ((44 * l * tf * 10000) DIV (20 * l * tf + 6 * l + 18 * dl * n)))"
    " DIV 10000"
)


# ---------------------------------------------------------------------------
# Reciprocal-rank fusion: BM25 ∪ TF-IDF hybrid ranking
# ---------------------------------------------------------------------------

RRF_K = 60          # the standard RRF damping constant (Cormack 2009)
RRF_LIST = 100      # per-ranker candidate-list depth
RRF_TOPK = 10

# NOTE (r10): the r8 bounded score-table cache (_persist_score_table /
# _live_score_cache) is GONE — the fused single-pass tails consume the
# stacked score table exactly once, so there is nothing left to share
# across branches and no persisted blocks to manage.


def _tfidf_contrib(i: int, j: int, div: str) -> str:
    """One term's integer TF-IDF weight — the t_keyword_topk scoring
    ((tf · 10⁶ · N) DIV (df · dl), log-free IDF ratio), summed over
    query terms as the second ranker."""
    tf, df = f"tf_{i}_{j}", f"df_{i}_{j}"
    return (
        f"CASE WHEN {tf} > 0 THEN (({tf} * 1000000 * n) {div} ({df} * dl)) "
        f"ELSE CAST(0 AS BIGINT) END"
    )


def _rrf_sql(
    dialect: str,
    spread_hint: str = "",
    table: str = "documents",
    stacked_only: bool = False,
    fused_tail: bool = False,
) -> str:
    """Reciprocal-rank fusion of two rankers over the same corpus pass
    structure as _bm25_sql: per query, fuse the BM25 top-RRF_LIST and
    TF-IDF top-RRF_LIST candidate lists as
    Σ_r 10⁶ DIV (RRF_K + rank_r(doc)) and keep the fused top-RRF_TOPK.
    Integer reciprocals make the fusion bit-exact across engines.

    Scale note: each ranker is its own rank-bounded window
    (rk <= RRF_LIST → WindowGroupLimit pushdown). That deliberately
    costs a second kernel pass — one shared window pass would reuse
    the scan but lose the per-ranker group limit, turning the
    query-partitioned window into an unbounded per-query sort (the
    f_fuzzy_match skew lesson). The fused join runs on two
    ≤ RRF_LIST·|queries|-row lists — driver-scale, any join strategy
    wins."""
    spark = dialect == "spark"
    toks = _SPARK_TOKS if spark else _DUCK_TOKS
    div = "DIV" if spark else "//"
    size = "size" if spark else "len"
    flt = "filter" if spark else "list_filter"

    tf_cols, df_cols = [], []
    for qid, terms in BM25_QUERIES:
        for j, term in enumerate(terms):
            tf_cols.append(
                f"CAST({size}({flt}(toks, x -> x = '{term}')) AS BIGINT) AS tf_{qid}_{j}"
            )
            contains = "array_contains" if spark else "list_contains"
            df_cols.append(
                f"CAST(SUM(CASE WHEN {contains}(toks, '{term}') THEN 1 ELSE 0 END)"
                f" AS BIGINT) AS df_{qid}_{j}"
            )
    score_cols = []
    for qid, terms in BM25_QUERIES:
        score_cols.append(
            " + ".join(_contrib(qid, j, div) for j in range(len(terms)))
            + f" AS b_q{qid}"
        )
        score_cols.append(
            " + ".join(_tfidf_contrib(qid, j, div) for j in range(len(terms)))
            + f" AS t_q{qid}"
        )
    if spark:
        stack_args = ", ".join(f"{q}, b_q{q}, t_q{q}" for q, _ in BM25_QUERIES)
        stacked = (
            f"SELECT doc_id, stack({len(BM25_QUERIES)}, {stack_args}) "
            "AS (query_id, b_score, t_score) FROM scored"
        )
    else:
        stacked = " UNION ALL ".join(
            f"SELECT doc_id, {q} AS query_id, b_q{q} AS b_score, t_q{q} AS t_score"
            " FROM scored"
            for q, _ in BM25_QUERIES
        )
    nl = ",\n         "
    return f"""
WITH tok1 AS (
  SELECT {spread_hint} doc_id, {toks} AS toks
  FROM {table}
), docs AS (
  SELECT doc_id, toks, CAST({size}(toks) AS BIGINT) AS dl
  FROM tok1 WHERE {size}(toks) > 0
), tf AS (
  SELECT doc_id, dl,
         {nl.join(tf_cols)}
  FROM docs
), stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(dl) AS BIGINT) AS l,
         {nl.join(df_cols)}
  FROM docs
), scored AS (
  SELECT doc_id,
         {nl.join(score_cols)}
  FROM tf CROSS JOIN stats
), stacked AS (
  {stacked}
){_tail_of(stacked_only, fused_tail, div)}
"""


def _tail_of(stacked_only: bool, fused_tail: bool, div: str) -> str:
    if stacked_only:
        return "\nSELECT query_id, doc_id, b_score, t_score FROM stacked"
    tail = _RRF_TAIL_FUSED if fused_tail else _RRF_TAIL
    return tail.format(div=div, k=RRF_K, list=RRF_LIST, topk=RRF_TOPK)


# Fused single-pass tail (r10): each candidate pair carries BOTH
# scores, so per-leg rank + reciprocal fold into one projection — no
# blist/tlist branches, no fusion join, and the stacked subtree is
# consumed exactly ONCE (no persist barrier needed). Rank validity:
# zero-score rows sort strictly after every positive row in that
# leg's ordering, so positive rows receive exactly the ranks the
# score>0-filtered window would assign, and the ``score > 0 AND
# rk <= list`` guard reproduces list membership bit-exactly. Stated
# trade vs the two-branch tail: the per-leg MAP-side WindowGroupLimit
# cannot push below the one shuffle two differently-ordered windows
# share — what shuffles is the candidate grain (b>0 OR t>0 — the
# posting-match-sized set), never the corpus.
_RRF_TAIL_FUSED = """, cand AS (
  SELECT query_id, doc_id, b_score, t_score FROM stacked
  WHERE b_score > 0 OR t_score > 0
), rankedp AS (
  SELECT query_id, doc_id, b_score, t_score,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY b_score DESC, doc_id ASC) AS b_rk,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY t_score DESC, doc_id ASC) AS t_rk
  FROM cand
), fused AS (
  SELECT query_id, doc_id,
         (CASE WHEN b_score > 0 AND b_rk <= {list}
               THEN CAST(1000000 AS BIGINT) {div} ({k} + b_rk)
               ELSE CAST(0 AS BIGINT) END)
         + (CASE WHEN t_score > 0 AND t_rk <= {list}
                 THEN CAST(1000000 AS BIGINT) {div} ({k} + t_rk)
                 ELSE CAST(0 AS BIGINT) END) AS rrf_e6
  FROM rankedp
)
SELECT CAST(query_id AS INT) AS query_id, CAST(rk AS BIGINT) AS rk,
       doc_id, CAST(rrf_e6 AS BIGINT) AS rrf_e6
FROM (
  SELECT query_id, doc_id, rrf_e6,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf_e6 DESC, doc_id ASC) AS rk
  FROM fused WHERE rrf_e6 > 0
) WHERE rk <= {topk}"""


_RRF_TAIL = """, blist AS (
  SELECT query_id, doc_id, rk FROM (
    SELECT query_id, doc_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY b_score DESC, doc_id ASC) AS rk
    FROM stacked WHERE b_score > 0
  ) WHERE rk <= {list}
), tlist AS (
  SELECT query_id, doc_id, rk FROM (
    SELECT query_id, doc_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY t_score DESC, doc_id ASC) AS rk
    FROM stacked WHERE t_score > 0
  ) WHERE rk <= {list}
), fused AS (
  SELECT COALESCE(b.query_id, t.query_id) AS query_id,
         COALESCE(b.doc_id, t.doc_id) AS doc_id,
         COALESCE(1000000 {div} ({k} + b.rk), 0)
           + COALESCE(1000000 {div} ({k} + t.rk), 0) AS rrf_e6
  FROM blist b FULL OUTER JOIN tlist t
    ON b.query_id = t.query_id AND b.doc_id = t.doc_id
)
SELECT CAST(query_id AS INT) AS query_id, CAST(rk AS BIGINT) AS rk,
       doc_id, CAST(rrf_e6 AS BIGINT) AS rrf_e6
FROM (
  SELECT query_id, doc_id, rrf_e6,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf_e6 DESC, doc_id ASC) AS rk
  FROM fused
) WHERE rk <= {topk}"""


def t_rrf_fuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (see _rrf_sql):
    BM25 and TF-IDF rank the same literal queries independently, the
    fused score is Σ 10⁶ DIV (60 + rank) over both top-100 lists —
    the standard way production search blends rankers without score
    calibration (and, swapped onto a dense ranker, the RAG hybrid
    default). Both candidate lists are WindowGroupLimit-bounded; the
    fusion join touches ≤ 100·|queries| rows per side.

    Plan shape (r10 — the fused single-pass tail, _RRF_TAIL_FUSED):
    ONE spark.sql statement. The r8 two-branch form needed a persist()
    barrier because each rank branch re-read the stacked score table
    (the all-SQL two-branch form re-inlined the whole corpus kernel
    per branch — measured 10-53s at sf1); the fused tail consumes
    stacked exactly ONCE (each candidate pair is one row carrying
    both scores; ranks + the reciprocal fold are projections, the
    fusion join is gone), so the corpus kernel runs once per
    statement-inherent scan (tf + stats — the same two scans as
    t_bm25_topk) with NO cache, NO fusion join, and no DataFrame-tail
    analysis overhead. See _RRF_TAIL_FUSED for the rank-validity
    argument and the stated map-side-group-limit trade.

    Floor evidence (r12 opt round, 2026-08-18, interleaved 5-run
    same-session medians at sf0.1): t_rrf_fuse 1.10s vs t_bm25_topk
    alone 0.93s — adding the second ranker plus the whole fusion tail
    costs ~18% over ONE ranker's kernel, i.e. the row is the shared
    tokenize+sort posting kernel, not fusion overhead. Left as floor;
    the same draw re-confirmed t_keyword_topk's in-row-kernel win
    (see its docstring)."""
    d = _t(spark, sf_dir, "documents")
    hint = dedup.spread_hint(d)
    d.createOrReplaceTempView("__rrf_documents")
    return spark.sql(
        _rrf_sql("spark", hint, "__rrf_documents", fused_tail=True)
    )


T_RRF_SQL = _rrf_sql("duckdb", "", "documents")


def _posting_frames(df: DataFrame, text_col: str, id_col: str):
    """(postings, docs) frames for the index paths — postings via the
    in-row tf kernel (sort → group starts → zip; staged selects keep
    every HOF lambda reading attributes only), docs as the
    (doc_id, dl) grain the stats derive from."""
    from pyspark.sql import functions as F

    t1 = df.selectExpr(
        f"{id_col} AS doc_id",
        f"CASE WHEN length(trim({text_col})) = 0 THEN array() "
        f"ELSE split(trim({text_col}), '\\\\s+') END AS toks",
    )
    docs = t1.where("size(toks) > 0").selectExpr(
        "doc_id", "toks", "CAST(size(toks) AS BIGINT) AS dl"
    )
    kern = docs.selectExpr("doc_id", "dl", "array_sort(toks) AS s")
    st = kern.selectExpr(
        "doc_id", "dl", "s",
        "filter(sequence(0, size(s) - 1), i -> NOT (get(s, i) <=> get(s, i - 1))) AS starts",
    )
    pairs = st.selectExpr(
        "doc_id", "dl",
        "zip_with(starts,"
        " concat(slice(starts, 2, greatest(size(starts) - 1, 0)), array(size(s))),"
        " (a, b) -> struct(get(s, a) AS tok, CAST(b - a AS BIGINT) AS tf)) AS ps",
    )
    postings = (
        pairs.select("doc_id", "dl", F.explode_outer("ps").alias("p"))
        .where("p IS NOT NULL")
        .selectExpr("p.tok AS tok", "doc_id", "p.tf AS tf", "dl")
    )
    return postings, docs.select("doc_id", "dl")


def _docs_path(path: str) -> str:
    return path.rstrip("/") + "_docs"


def _write_stats(spark: SparkSession, path: str) -> dict:
    """(Re)derive the 1-row stats table from the doc sidecar — exact
    after any sequence of build/extend/remove, column-pruned doc-grain
    scan. Staged + swapped (the store's own primitive): a plain
    overwrite deletes-then-writes, so a crash mid-write would leave
    the index unreadable (r8 review). Crash BETWEEN the postings/docs
    swaps and this derive leaves stats stale-but-readable; re-running
    the interrupted extend/remove (both idempotent) heals it."""
    import uuid as _uuid

    from pyspark.sql import functions as F

    from sync_spark.sources.bucketed import _swap_dir, read_target

    n, l = (
        read_target(spark, _docs_path(path))
        .agg(F.count(F.lit(1)), F.sum("dl"))
        .first()
    )
    sp = _stats_path(path)
    stage = f"{sp}__stage_{_uuid.uuid4().hex[:8]}"
    spark.createDataFrame(
        [(int(n), int(l or 0))], "n bigint, l bigint"
    ).coalesce(1).write.mode("overwrite").parquet(stage)
    _swap_dir(stage, sp)
    return {"n_docs": int(n), "total_tokens": int(l or 0)}


def extend_bm25_index(
    df: DataFrame, path: str, text_col: str = "text", id_col: str = "doc_id"
) -> int:
    """Merge a new document slice into the persisted BM25 index,
    rewriting ONLY the tok-hash buckets its terms land in plus the
    doc-sidecar buckets its ids land in (the CDC store's
    touched-bucket discipline — maintenance is O(slice), not
    O(corpus)); the 1-row stats table re-derives from the sidecar.
    Idempotent: postings and sidecar rows distinct-merge, stats
    re-aggregate, so re-extending the same slice is a no-op. Contract
    (shared with extend_fp_index): slice ids must be NEW or byte-
    identical re-sends — re-indexing a MUTATED doc id needs a delete
    first. Same staleness hazard as extend_fp_index: materialize
    pre-extend query results before swapping. Returns touched posting
    buckets."""
    from sync_spark.sources.bucketed import read_meta, update_touched_buckets

    if read_meta(path) is None:
        raise ValueError(f"no BM25 index at {path!r}; build_bm25_index first")
    spark = df.sparkSession
    postings, docs = _posting_frames(df, text_col, id_col)
    touched = update_touched_buckets(postings, path, mode="extend")
    if not touched:
        return 0
    update_touched_buckets(docs, _docs_path(path), mode="extend")
    _write_stats(spark, path)
    return touched


# ---------------------------------------------------------------------------
# Dense+sparse hybrid retrieval: BM25 ∪ exact-cosine fused with RRF
# ---------------------------------------------------------------------------

HYBRID_QIDS = [qid for qid, _ in BM25_QUERIES]


def _hybrid_sql() -> str:
    """DuckDB oracle for t_hybrid_fuse: the dense leg is the
    e_cosine_topk quantization discipline (int64 components, one
    double divide) ranked to depth RRF_LIST; the sparse leg is the
    full BM25 statement embedded as a FROM-subquery; the fusion tail
    is the shared integer-reciprocal RRF."""
    qids = ", ".join(str(q) for q in HYBRID_QIDS)
    quant = (
        "list_transform(embedding, x -> "
        "CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
    )
    return f"""
WITH dq AS (
  SELECT vec_id AS query_id, {quant} AS qv
  FROM embeddings WHERE vec_id IN ({qids})
), dc AS (
  SELECT vec_id AS doc_id, {quant} AS cv
  FROM embeddings
), dscore AS (
  SELECT dq.query_id, dc.doc_id,
         CAST(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * cv[i])) AS DOUBLE)
           / (sqrt(CAST(list_sum(list_transform(qv, x -> x * x)) AS DOUBLE))
              * sqrt(CAST(list_sum(list_transform(cv, x -> x * x)) AS DOUBLE))) AS cosine
  FROM dq, dc WHERE dq.query_id <> dc.doc_id
), dlist AS (
  SELECT query_id, doc_id, rk FROM (
    SELECT query_id, doc_id,
           row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, doc_id ASC) AS rk
    FROM dscore
  ) WHERE rk <= {RRF_LIST}
), slist AS (
  SELECT query_id, doc_id, rk
  FROM ({_bm25_sql("duckdb", "", "documents", k=RRF_LIST)}) bm
), fused AS (
  SELECT COALESCE(d.query_id, s.query_id) AS query_id,
         COALESCE(d.doc_id, s.doc_id) AS doc_id,
         COALESCE(1000000 // ({RRF_K} + d.rk), 0)
           + COALESCE(1000000 // ({RRF_K} + s.rk), 0) AS rrf_e6
  FROM dlist d FULL OUTER JOIN slist s
    ON d.query_id = s.query_id AND d.doc_id = s.doc_id
)
SELECT CAST(query_id AS INT) AS query_id, CAST(rk AS BIGINT) AS rk,
       doc_id, CAST(rrf_e6 AS BIGINT) AS rrf_e6
FROM (
  SELECT query_id, doc_id, rrf_e6,
         row_number() OVER (PARTITION BY query_id ORDER BY rrf_e6 DESC, doc_id ASC) AS rk
  FROM fused
) WHERE rk <= {RRF_TOPK}
"""


def _hybrid_spark_sql(doc_hint: str, emb_hint: str) -> str:
    """The r11 single-statement hybrid plan (verdict #2): both legs
    and the fusion tail in ONE spark.sql text, mirroring the
    rrf_index_topk restructure. The dense leg is the cosine_topk
    quantization discipline verbatim (round-HALF_UP int64 components,
    exact int64 dot via zip_with/aggregate, ONE double sqrt/divide)
    expressed as SQL; the sparse leg embeds the t_bm25_topk statement
    at list depth; the fusion join is GONE — both rank lists UNION ALL
    into one ≤ 2·{RRF_LIST}·|queries|-row stream and the reciprocal
    fold is a groupBy-SUM (each (query,doc) pair appears ≤ once per
    leg, so SUM ≡ the old full-outer COALESCE-add). Measured at
    sf0.1: 1.32s (two-statement + fusion-join form) → ~0.9s."""
    qids = ", ".join(str(q) for q in HYBRID_QIDS)
    quant = (
        "transform(embedding, x -> "
        "CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
    )
    norm2 = "aggregate(transform({v}, x -> x * x), CAST(0 AS BIGINT), (acc, v) -> acc + v)"
    bm = _bm25_sql("spark", doc_hint, "__hybrid_documents", k=RRF_LIST)
    return f"""
WITH dq AS (
  SELECT vec_id AS query_id, {quant} AS qv
  FROM __hybrid_embeddings WHERE vec_id IN ({qids})
), dqn AS (
  SELECT query_id, qv, {norm2.format(v='qv')} AS qn FROM dq
), dc AS (
  SELECT {emb_hint} vec_id AS doc_id, {quant} AS cv
  FROM __hybrid_embeddings
), dcn AS (
  SELECT doc_id, cv, {norm2.format(v='cv')} AS cn FROM dc
), dscore AS (
  SELECT /*+ BROADCAST(dqn) */ query_id, doc_id,
         CAST(aggregate(zip_with(qv, cv, (x, y) -> x * y),
                        CAST(0 AS BIGINT), (acc, v) -> acc + v) AS DOUBLE)
           / (sqrt(CAST(qn AS DOUBLE)) * sqrt(CAST(cn AS DOUBLE))) AS cosine
  FROM dcn JOIN dqn ON query_id <> doc_id
), dlist AS (
  SELECT query_id, doc_id, rk FROM (
    SELECT query_id, doc_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, doc_id ASC) AS rk
    FROM dscore
  ) WHERE rk <= {RRF_LIST}
), slist AS (
  SELECT query_id, doc_id, rk FROM ({bm}) bm
), unioned AS (
  SELECT query_id, doc_id, CAST(1000000 AS BIGINT) DIV ({RRF_K} + rk) AS recip FROM dlist
  UNION ALL
  SELECT query_id, doc_id, CAST(1000000 AS BIGINT) DIV ({RRF_K} + rk) AS recip FROM slist
), fused AS (
  SELECT query_id, doc_id, SUM(recip) AS rrf_e6
  FROM unioned GROUP BY query_id, doc_id
)
SELECT CAST(query_id AS INT) AS query_id, CAST(rk AS BIGINT) AS rk,
       doc_id, CAST(rrf_e6 AS BIGINT) AS rrf_e6
FROM (
  SELECT query_id, doc_id, rrf_e6,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf_e6 DESC, doc_id ASC) AS rk
  FROM fused
) WHERE rk <= {RRF_TOPK}
"""


def t_hybrid_fuse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense+sparse hybrid retrieval — the modern RAG default: BM25
    over the documents table and exact quantized cosine over the
    embeddings table rank the SAME query ids independently (doc_id ≡
    vec_id in the fixture), then reciprocal-rank fusion blends the two
    top-{RRF_LIST} lists as Σ 10⁶ DIV ({RRF_K} + rank) and keeps the
    fused top-{RRF_TOPK}. No score calibration is needed — RRF sees
    ranks only, which is exactly why it is the production way to mix a
    lexical and a vector ranker.

    The dense leg drops the trivial self-hit (the fixture reuses
    corpus vectors as queries; a real deployment's query embedding is
    out-of-corpus); the sparse leg's query is a term list, so no such
    exclusion exists there.

    Plan shape (r11 — _hybrid_spark_sql): ONE spark.sql statement.
    The dense leg is one broadcast-queries corpus pass ending in a
    WindowGroupLimit-bounded window (the cosine_topk math verbatim,
    kernel-spread via a REPARTITION hint); the sparse leg is the
    t_bm25_topk two-scan statement at the same depth; the old
    full-outer fusion join is replaced by UNION ALL + groupBy-SUM
    over the two ≤ {RRF_LIST}·|queries|-row lists — driver-scale
    either way, but one fewer join and one statement to plan. At
    100 TB each leg swaps to its persisted index (ann_index_topk /
    bm25_index_topk — both pytest-pinned bit-identical to these scan
    forms) and the fusion tail is unchanged (rrf_fuse_ranked, still
    the shared definition used by hybrid_index_topk).

    Floor evidence (r12 opt round, 2026-08-18, interleaved 5-run
    same-session medians at sf0.1): t_hybrid_fuse 1.68s vs its legs
    run separately t_bm25_topk 0.93s + e_cosine_topk 0.86s = 1.79s —
    the fused statement is already CHEAPER than its two constituent
    kernels, so the whole row is leg-kernel cost (tokenize+sort and
    the quantized-dot corpus pass), not fusion fat. The >2×-DuckDB
    ratio is the two-engine kernel-floor gap on a sub-second row, not
    an unexploited plan lever."""
    d, emb = _t(spark, sf_dir, "documents"), _t(spark, sf_dir, "embeddings")
    emb.createOrReplaceTempView("__hybrid_embeddings")
    d.createOrReplaceTempView("__hybrid_documents")
    return spark.sql(_hybrid_spark_sql(dedup.spread_hint(d), dedup.spread_hint(emb)))


def rrf_fuse_ranked(
    dlist: DataFrame, slist: DataFrame, topk: int = RRF_TOPK
) -> DataFrame:
    """THE integer-RRF fusion tail — one definition shared by the
    scan-form t_hybrid_fuse and the persisted-index hybrid_index_topk
    so the fusion math / tiebreaks can't drift. Inputs are two
    (query_id, doc_id, rk) rank lists; output is the fused top-k as
    (query_id, rk, doc_id, rrf_e6)."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    recip = f"CAST(1000000 AS BIGINT) DIV ({RRF_K} + rk)"
    d = dlist.select("query_id", "doc_id", F.expr(recip).alias("d_recip"))
    s = slist.select("query_id", "doc_id", F.expr(recip).alias("s_recip"))
    fused = d.join(s, ["query_id", "doc_id"], "full_outer").select(
        "query_id",
        "doc_id",
        (
            F.coalesce(F.col("d_recip"), F.lit(0))
            + F.coalesce(F.col("s_recip"), F.lit(0))
        ).alias("rrf_e6"),
    )
    fw = Window.partitionBy("query_id").orderBy(
        F.col("rrf_e6").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rk", F.row_number().over(fw))
        .where(F.col("rk") <= topk)
        .select(
            F.col("query_id").cast("int").alias("query_id"),
            F.col("rk").cast("bigint").alias("rk"),
            "doc_id",
            F.col("rrf_e6").cast("bigint").alias("rrf_e6"),
        )
    )


def hybrid_index_topk(
    spark: SparkSession,
    bm25_path: str,
    ann_path: str,
    query_vectors: DataFrame,
    queries: list[tuple[int, list[str]]] | None = None,
    k: int = RRF_TOPK,
    list_depth: int = RRF_LIST,
) -> DataFrame:
    """The RAG serving path: hybrid retrieval entirely from the two
    PERSISTED indexes — BM25 postings (bm25_index_topk: bucket-pruned
    term lookups, never the corpus) and the LSH ANN store
    (ann_index_topk: bucket-pruned collision lookups, never the
    corpus) — fused with the shared integer-RRF tail.

    Semantics contract (pytest-pinned): identical to fusing the two
    SCAN forms at the same parameters — rrf_fuse_ranked(
    ann_lsh_topk ranks, BM25-at-depth ranks) — because each index leg
    is itself pinned bit-identical to its scan form and the fusion
    tail is one definition. Note the dense leg is the LSH
    approximation (recall < 1 by design), unlike t_hybrid_fuse's
    exact-cosine leg: at serving scale the index IS the dense ranker.

    Cost shape: no corpus scan anywhere — ≤ |terms| posting buckets +
    ≤ |queries|·n_tables ANN buckets read, two ≤ list_depth·|queries|-
    row lists fused driver-scale.

    Shape (r11, guide §1/§2 — the rrf_index_topk restructure applied
    here): ONE spark.sql statement over the two pruned stores instead
    of two DataFrame-API legs + a full-outer fusion join. The BM25
    leg is the rrf_index_topk posting tail (qmap VALUES broadcast, df
    as a (query_id, tok) window INSIDE the posting frame — identical
    to the per-tok df because the qmap join replicates rows across
    queries, never within one); the dense leg is the _scored_topk
    math verbatim in SQL (exact int64 dot, ONE double sqrt/divide,
    DISTINCT pair-dedup ≡ dropDuplicates since colliding tables carry
    identical (qv, cv, qn, cn)); the fusion join is GONE — both rank
    lists UNION ALL and the reciprocal fold is a groupBy-SUM (each
    (query, doc) pair appears ≤ once per leg, so SUM ≡ the full-outer
    COALESCE-add). ANN query prep is ann_query_rows — a JVM-only
    collect + driver numpy, no Python-worker job at construction.
    Measured (sf0.1, calm interleaved A/B): t_hybrid_indexed
    2.44s → ~0.9s; plan 22 Exchanges → 8."""
    import pyspark.sql.types as T

    from sync_spark.operators import ann_index as ai
    from sync_spark.sources.bucketed import _literal_bucket_ids, read_buckets, read_meta

    if queries is None:
        queries = BM25_QUERIES

    # ---- sparse-leg inputs: pruned postings + driver-read stats ----
    n_docs, total_l = _read_stats(bm25_path)
    postings = _pruned_postings(spark, bm25_path, queries)
    tag = abs(hash((bm25_path, ann_path))) % 10**8
    pview = f"__hyx_postings_{tag}"
    postings.createOrReplaceTempView(pview)
    qvals = _qmap_values(queries)

    # ---- dense-leg inputs: driver-hashed query rows + pruned buckets ----
    params = ai.read_params(ann_path)
    meta = read_meta(ann_path)
    q_rows = ai.ann_query_rows(query_vectors, params)
    aq_schema = "query_id long, qv array<bigint>, qn bigint, tbl int, bucket int"
    from sync_spark.operators.localrel import arrow_local_frame

    aq = arrow_local_frame(spark, q_rows, aq_schema)
    if q_rows:
        keys = sorted({(r[3], r[4]) for r in q_rows})
        buckets = _literal_bucket_ids(
            spark, ["tbl", "bucket"], meta["n_buckets"],
            {"tbl": "int", "bucket": "int"}, keys,
        )
        cand = read_buckets(
            spark, ann_path, buckets,
            schema=T._parse_datatype_string(ai._INDEX_SCHEMA),
        )
    else:
        cand = spark.createDataFrame([], ai._INDEX_SCHEMA)
    aqview, cview = f"__hyx_annq_{tag}", f"__hyx_annc_{tag}"
    aq.createOrReplaceTempView(aqview)
    cand.select("tbl", "bucket", "neighbor_id", "cv", "cn").createOrReplaceTempView(cview)

    return spark.sql(f"""
WITH bq AS (
  SELECT * FROM VALUES {qvals} AS q(query_id, tok)
), bj AS (
  SELECT /*+ BROADCAST(q), REPARTITION(query_id) */
         q.query_id, p.tok, p.doc_id, p.tf, p.dl
  FROM {pview} p JOIN bq q USING (tok)
), bdf AS (
  SELECT query_id, doc_id, tf, dl,
         CAST({n_docs} AS BIGINT) AS n, CAST({total_l} AS BIGINT) AS l,
         COUNT(1) OVER (PARTITION BY query_id, tok) AS df
  FROM bj
), bscore AS (
  SELECT query_id, doc_id, SUM({_BM25_INDEX_CONTRIB}) AS score
  FROM bdf GROUP BY query_id, doc_id
), slist AS (
  SELECT query_id, doc_id, rk FROM (
    SELECT query_id, doc_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY score DESC, doc_id ASC) AS rk
    FROM bscore WHERE score > 0
  ) WHERE rk <= {list_depth}
), ascore AS (
  SELECT /*+ BROADCAST(q), REPARTITION(query_id) */
         CAST(q.query_id AS INT) AS query_id,
         c.neighbor_id AS doc_id,
         CAST(aggregate(zip_with(q.qv, c.cv, (x, y) -> x * y),
                        CAST(0 AS BIGINT), (acc, v) -> acc + v) AS DOUBLE)
           / (sqrt(CAST(q.qn AS DOUBLE)) * sqrt(CAST(c.cn AS DOUBLE))) AS cosine
  FROM {cview} c JOIN {aqview} q ON c.tbl = q.tbl AND c.bucket = q.bucket
  WHERE c.neighbor_id <> q.query_id
), adedup AS (
  SELECT DISTINCT query_id, doc_id, cosine FROM ascore
), alist AS (
  SELECT query_id, doc_id, rk FROM (
    SELECT query_id, doc_id,
           ROW_NUMBER() OVER (PARTITION BY query_id
             ORDER BY cosine DESC, doc_id ASC) AS rk
    FROM adedup
  ) WHERE rk <= {list_depth}
), unioned AS (
  SELECT query_id, doc_id, CAST(1000000 AS BIGINT) DIV ({RRF_K} + rk) AS recip FROM alist
  UNION ALL
  SELECT query_id, doc_id, CAST(1000000 AS BIGINT) DIV ({RRF_K} + rk) AS recip FROM slist
), fused AS (
  SELECT /*+ REPARTITION(query_id) */
         query_id, doc_id, SUM(recip) AS rrf_e6
  FROM unioned GROUP BY query_id, doc_id
)
SELECT CAST(query_id AS INT) AS query_id, CAST(rk AS BIGINT) AS rk,
       doc_id, CAST(rrf_e6 AS BIGINT) AS rrf_e6
FROM (
  SELECT query_id, doc_id, rrf_e6,
         ROW_NUMBER() OVER (PARTITION BY query_id
           ORDER BY rrf_e6 DESC, doc_id ASC) AS rk
  FROM fused
) WHERE rk <= {k}
""")


T_HYBRID_SQL = _hybrid_sql()


# ---------------------------------------------------------------------------
# Index-SERVING registry rows (r9, verdict #3): the registry timed
# only the SCAN forms; these rows serve the same retrieval semantics
# from the PERSISTED indexes, so the bench measures the path a
# deployment actually runs per query batch (build cost amortizes over
# the workload; the scan forms pay the corpus per batch).
# ---------------------------------------------------------------------------


def _index_home_root() -> str:
    import os
    import tempfile

    if os.environ.get("SYNC_SPARK_INDEX_DIR"):
        return os.environ["SYNC_SPARK_INDEX_DIR"]
    # scope the default root per-uid: a world-shared /tmp path is a
    # cross-user collision/poisoning surface (two users' identical
    # corpus fingerprints would race on one store the second user may
    # not even be able to rename into)
    uid = os.getuid() if hasattr(os, "getuid") else "u"
    return os.path.join(tempfile.gettempdir(), f"sync_spark_indexes_{uid}")


def _src_stat(sf_dir: str, table: str) -> str:
    """Source fingerprint for the persisted-index home name — the
    shared operators.materialized rule (directory-layout corpora fold
    every member file; rewriting a part IN PLACE must never silently
    reuse a stale index)."""
    import os

    from sync_spark.operators.materialized import file_fingerprint

    return file_fingerprint(table, os.path.join(sf_dir, f"{table}.parquet"))


def _ensure_store(home: str, build_fn) -> str:
    """Build-once discipline for per-corpus persisted indexes:
    ``home/idx`` is the index path (the bm25 sidecars land as
    ``idx_docs``/``idx_stats`` INSIDE home, so the whole index moves
    atomically). Staleness is keyed in the HOME name (source file
    size+mtime — see callers), so a changed corpus gets a fresh home
    and never reads a stale index. Concurrent builders race on one
    os.rename; the loser discards its stage (both builds are
    deterministic over the same immutable corpus)."""
    import os
    import shutil

    from sync_spark.sources.bucketed import read_meta

    idx = os.path.join(home, "idx")
    if read_meta(idx) is not None:
        return idx
    stage = home + f".stage{os.getpid()}"
    shutil.rmtree(stage, ignore_errors=True)
    build_fn(os.path.join(stage, "idx"))
    os.makedirs(os.path.dirname(home), exist_ok=True)
    try:
        os.rename(stage, home)
    except OSError as e:
        shutil.rmtree(stage, ignore_errors=True)
        # the rename fails legitimately only when a concurrent builder
        # won the race (home now exists and is readable). Any OTHER
        # failure (permissions, cross-device, quota) must surface —
        # swallowing it would leave NO index on disk and callers would
        # die later on an unrelated read error
        if read_meta(idx) is None:
            raise RuntimeError(
                f"index build failed: rename into {home!r} failed ({e}) "
                "and no concurrent builder produced a readable index"
            ) from e
    return idx


def _corpus_bm25_index(spark: SparkSession, sf_dir: str) -> str:
    import hashlib
    import os

    key = hashlib.md5(
        f"{sf_dir}|{_src_stat(sf_dir, 'documents')}".encode("utf-8")
    ).hexdigest()[:12]
    home = os.path.join(_index_home_root(), f"bm25_{key}")
    return _ensure_store(
        home, lambda p: build_bm25_index(_t(spark, sf_dir, "documents"), p)
    )


def _corpus_ann_index(spark: SparkSession, sf_dir: str) -> str:
    import hashlib
    import os

    from sync_spark.operators import ann_index as ai

    key = hashlib.md5(
        f"{sf_dir}|{_src_stat(sf_dir, 'embeddings')}".encode("utf-8")
    ).hexdigest()[:12]
    home = os.path.join(_index_home_root(), f"ann_{key}")
    return _ensure_store(
        home,
        lambda p: ai.build_ann_index(
            _t(spark, sf_dir, "embeddings"), p,
            n_planes=4, n_tables=16, dim=64, seed=42,
        ),
    )


def _qmap_values(queries: list[tuple[int, list[str]]]) -> str:
    """VALUES tuples for the (query_id, tok) broadcast qmap. Tokens
    are single-quote-escaped ('' per the SQL standard) so a quoted
    term can't break the statement; an empty term list yields one
    all-NULL tuple (VALUES needs ≥1 row to parse; a NULL tok matches
    nothing in the inner posting join) instead of a parse error."""
    vals = ", ".join(
        "({}, '{}')".format(int(qid), t.replace("'", "''"))
        for qid, ts in queries
        for t in ts
    )
    return vals or "(CAST(NULL AS INT), CAST(NULL AS STRING))"


def _pruned_postings(
    spark: SparkSession,
    path: str,
    queries: list[tuple[int, list[str]]],
) -> DataFrame:
    """The ≤|terms|-bucket posting lookup shared by every index-side
    ranker — lazy: the bucket ids for the literal terms come from the
    process-wide memo in sources/bucketed.py (one driver job per
    distinct term set per process, not per call), so constructing this
    frame on the serving path costs no Spark job after first use."""
    import pyspark.sql.types as T

    from sync_spark.sources.bucketed import lookup_keys

    terms = sorted({t for _, ts in queries for t in ts})
    return lookup_keys(
        spark, path, [(t,) for t in terms],
        schema=T._parse_datatype_string(_POSTING_SCHEMA),
    )


# stats are 2 scalar constants per persisted index — read them
# DRIVER-side (pyarrow, no Spark job, no broadcast stage in the
# serving plan) and memoize on the stats dir's mtime_ns: _write_stats
# swaps the whole directory atomically, so every rebuild/extend moves
# the mtime and invalidates the memo.
_stats_memo: dict[str, tuple[int, tuple[int, int]]] = {}


def _read_stats(path: str) -> tuple[int, int]:
    import glob
    import os

    import pyarrow.parquet as pq

    sp = _stats_path(path)
    mt = os.stat(sp).st_mtime_ns
    hit = _stats_memo.get(sp)
    if hit is not None and hit[0] == mt:
        return hit[1]
    n = l = 0
    for f in sorted(glob.glob(os.path.join(sp, "*.parquet"))):
        t = pq.read_table(f)
        if t.num_rows:
            n += sum(v.as_py() for v in t.column("n"))
            l += sum(v.as_py() for v in t.column("l"))
    _stats_memo[sp] = (mt, (n, l))
    return n, l


def _index_ranked(
    spark: SparkSession,
    path: str,
    postings: DataFrame,
    queries: list[tuple[int, list[str]]],
    contrib_sql: str,
    score_name: str,
    k: int,
) -> DataFrame:
    """Shared scoring tail for the index-side rankers: per-term df is
    an aggregate OF the pruned postings (a posting row exists exactly
    when tf > 0, so the scan form's per-term CASE is the join itself),
    stats are driver-read literals (2 scalar constants per index — no
    parquet scan or broadcast stage in the plan), top-k is the same
    WindowGroupLimit-bounded window as the scan forms."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    n_docs, total_l = _read_stats(path)
    qmap = spark.createDataFrame(
        [(qid, t) for qid, ts in queries for t in ts], "query_id int, tok string"
    )
    df_tbl = postings.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    scores = (
        postings.join(F.broadcast(qmap), "tok")
        .join(F.broadcast(df_tbl), "tok")
        .withColumn("n", F.lit(n_docs).cast("bigint"))
        .withColumn("l", F.lit(total_l).cast("bigint"))
        .select("query_id", "doc_id", F.expr(contrib_sql).alias("c"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("c").alias(score_name))
        .where(F.col(score_name) > 0)
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col(score_name).desc(), F.col("doc_id").asc()
    )
    return (
        scores.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select(
            F.col("query_id").cast("int").alias("query_id"),
            F.col("rk").cast("bigint").alias("rk"),
            "doc_id",
            score_name,
        )
    )


def rrf_index_topk(
    spark: SparkSession,
    path: str,
    queries: list[tuple[int, list[str]]] | None = None,
    list_depth: int = RRF_LIST,
    topk: int = RRF_TOPK,
) -> DataFrame:
    """BM25+TF-IDF RRF served from the persisted inverted index as ONE
    single-pass plan (r9 verdict #1: the two-leg form planned ~10
    sub-100ms driver jobs per serving call — lookup construction,
    postings checkpoint, per-leg stats broadcasts, fusion join — pure
    scheduler floor at any scale). Here one serving invocation is one
    lazy frame whose action runs TWO exchanges total:

    - ONE bucket-pruned posting scan (PartitionFilters; bucket ids
      come from the process-wide literal-key memo — no driver job
      after first use);
    - per-term df via a tok-partitioned window over that scan
      (exchange #1) — no self-join, no second store read;
    - BOTH rankers' integer contributions in one projection against
      driver-read stats literals;
    - one explicit repartition on query_id (exchange #2) that
      satisfies the clustering of EVERYTHING downstream: the
      (query_id, doc_id) score aggregation, both rank windows, and
      the final fused window all reuse it — no further shuffle;
    - NO fusion join: each candidate pair is one row carrying both
      scores, so per-leg rank + reciprocal fold into a projection.

    Bit-exactness to the two-list semantics (T_RRF_SQL): each leg's
    rank window orders (score DESC, doc_id ASC) over ALL candidate
    pairs; pairs with a zero score in that leg sort strictly after
    every positive pair, so positive pairs receive exactly the ranks
    the score>0-filtered window would assign, and the
    ``score > 0 AND rk <= depth`` guard reproduces the list
    membership test. A pair qualifying in neither list folds to
    rrf 0 and is dropped — precisely the rows the full-outer join
    never produced.

    Trade-off, stated: fusing both rankers into one pass gives up the
    per-leg MAP-side WindowGroupLimit (the partial top-``depth`` cut
    below the shuffle — it can't push below a shuffle two differently-
    ordered windows share). What shuffles instead is the candidate-
    pair grain — bounded by the pruned posting matches of the query
    batch, the frame this plan already scans — not the corpus; the
    final group limits above the exchange still bound the sorts.

    Serving-latency discipline: the whole tail is ONE spark.sql
    statement over a postings temp view (three py4j round-trips
    total) — the equivalent DataFrame-API chain paid ~1s per call in
    driver-side per-transformation analysis, which the bench times as
    part of the query. df is a (query_id, tok) window INSIDE the
    query_id exchange (count of posting docs per term — identical to
    the per-tok count since the join only replicates rows across
    queries, never within one), so no tok-keyed shuffle exists at
    all."""
    if queries is None:
        queries = BM25_QUERIES
    n_docs, total_l = _read_stats(path)
    postings = _pruned_postings(spark, path, queries)
    view = f"__rrf_idx_postings_{abs(hash(path)) % 10**8}"
    postings.createOrReplaceTempView(view)
    qvals = _qmap_values(queries)
    return spark.sql(f"""
WITH qmap AS (
  SELECT * FROM VALUES {qvals} AS q(query_id, tok)
), joined AS (
  SELECT /*+ BROADCAST(q), REPARTITION(query_id) */
         q.query_id, p.tok, p.doc_id, p.tf, p.dl
  FROM {view} p JOIN qmap q USING (tok)
), withdf AS (
  SELECT query_id, doc_id, tf, dl,
         CAST({n_docs} AS BIGINT) AS n, CAST({total_l} AS BIGINT) AS l,
         COUNT(1) OVER (PARTITION BY query_id, tok) AS df
  FROM joined
), scored AS (
  SELECT query_id, doc_id,
         SUM({_BM25_INDEX_CONTRIB}) AS b_score,
         SUM((tf * 1000000 * n) DIV (df * dl)) AS t_score
  FROM withdf
  GROUP BY query_id, doc_id
), ranked AS (
  SELECT query_id, doc_id, b_score, t_score,
         ROW_NUMBER() OVER (PARTITION BY query_id
           ORDER BY b_score DESC, doc_id ASC) AS b_rk,
         ROW_NUMBER() OVER (PARTITION BY query_id
           ORDER BY t_score DESC, doc_id ASC) AS t_rk
  FROM scored
), fused AS (
  SELECT query_id, doc_id,
         (CASE WHEN b_score > 0 AND b_rk <= {list_depth}
               THEN CAST(1000000 AS BIGINT) DIV ({RRF_K} + b_rk)
               ELSE CAST(0 AS BIGINT) END)
         + (CASE WHEN t_score > 0 AND t_rk <= {list_depth}
                 THEN CAST(1000000 AS BIGINT) DIV ({RRF_K} + t_rk)
                 ELSE CAST(0 AS BIGINT) END) AS rrf_e6
  FROM ranked
)
SELECT CAST(query_id AS INT) AS query_id, CAST(rk AS BIGINT) AS rk,
       doc_id, CAST(rrf_e6 AS BIGINT) AS rrf_e6
FROM (
  SELECT query_id, doc_id, rrf_e6,
         ROW_NUMBER() OVER (PARTITION BY query_id
           ORDER BY rrf_e6 DESC, doc_id ASC) AS rk
  FROM fused WHERE rrf_e6 > 0
) WHERE rk <= {topk}
""")


def t_rrf_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t_rrf_fuse served ENTIRELY from the persisted inverted index —
    bit-identical to T_RRF_SQL via the single-pass rrf_index_topk
    kernel (see its docstring for the plan shape and the exactness
    argument). Fully LAZY after the one-time index build
    (_corpus_bm25_index, reused across queries and sessions via the
    on-disk store): no construction-time snapshot remains on this row
    — the returned frame re-reads the store on every action."""
    path = _corpus_bm25_index(spark, sf_dir)
    return rrf_index_topk(spark, path, BM25_QUERIES)


def t_hybrid_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The RAG serving path as a registry row: hybrid_index_topk over
    the persisted BM25 + ANN stores for this corpus. The dense leg is
    the LSH approximation (recall < 1 by design — at serving scale
    the index IS the dense ranker), so there is no SQL oracle;
    the row is rows-only-checked and its semantics are pytest-pinned
    == fusing the two index legs' own scan forms
    (test_retrieval.py hybrid equivalence + per-leg index==scan pins).

    Cost shape: ≤ |terms| posting buckets + ≤ |queries|·n_tables ANN
    buckets read — no corpus scan anywhere, the property that makes
    per-query-batch serving viable at 100 TB."""
    from pyspark.sql import functions as F

    bm = _corpus_bm25_index(spark, sf_dir)
    ann = _corpus_ann_index(spark, sf_dir)
    qvecs = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id").isin(HYBRID_QIDS))
    return hybrid_index_topk(spark, bm, ann, qvecs, k=RRF_TOPK, list_depth=RRF_LIST)


# ---------------------------------------------------------------------------
# Retrieval evaluation: recall@k / MRR / nDCG of BM25 against the
# TF-IDF ranking as ground truth (ranker-agreement diagnostic)
# ---------------------------------------------------------------------------

import math as _math

# integer-scaled nDCG discounts for ranks 1..BM25_K, computed ONCE in
# Python and embedded as literals in BOTH dialects — the repo-wide
# log-free discipline (each engine's libm log2 differs in last bits;
# a shared literal table cannot): disc_e6[r-1] = round(1e6/log2(r+1))
_DISC_E6 = [round(1_000_000 / _math.log2(r + 1)) for r in range(1, BM25_K + 1)]
# prefix sums: ideal DCG for n relevant docs is Σ_{i<=n} disc(i)
_IDCG_E6 = [sum(_DISC_E6[: i + 1]) for i in range(BM25_K)]


def _disc_literals(dialect: str) -> tuple[str, str]:
    """The (disc, idcg) lookup expressions over the shared literal
    tables, rendered per dialect — ONE definition so the Spark metric
    tail and the DuckDB oracle can never desynchronize."""
    discs = ", ".join(f"CAST({d} AS BIGINT)" for d in _DISC_E6)
    idcgs = ", ".join(f"CAST({d} AS BIGINT)" for d in _IDCG_E6)
    if dialect == "spark":
        return (
            f"element_at(array({discs}), CAST(rk AS INT))",
            f"element_at(array({idcgs}), CAST(n_rel AS INT))",
        )
    return (
        f"([{discs}])[CAST(rk AS INT)]",
        f"([{idcgs}])[CAST(n_rel AS INT)]",
    )


def _eval_sql(
    dialect: str,
    spread_hint: str = "",
    table: str = "documents",
    fused: bool = False,
) -> str:
    """One retrieval-eval query text. ``fused=False`` is the two-list
    LEFT JOIN form (the DuckDB oracle — the semantics definition);
    ``fused=True`` (the Spark serving form since r10) computes both
    ranks per candidate pair in one pass and aggregates WITHOUT the
    gt⋈sys join: gt membership and the system rank become per-row
    CASE masks, so the stacked score table is consumed exactly once
    and no persist barrier is needed (the r8 DataFrame form existed
    only to share the stacked table across the two rank branches).
    Both rankers' scores come from the SHARED stacked score table
    (_rrf_sql stacked_only — one corpus kernel), ground truth =
    TF-IDF top-{k}, system = BM25 top-{k}, and the metric arithmetic
    is BIGINT with the nDCG discount table embedded via
    _disc_literals. (The dense ranking is NOT the ground truth here
    on purpose: the fixture's embeddings are synthetic and
    uncorrelated with the text, so dense-vs-lexical overlap is
    empty — a metric fixture must have signal to exercise the math.)

    Fused-form exactness: ranks computed over the (b>0 OR t>0)
    candidate set equal the per-leg filtered ranks for every
    positive-score row (zero rows sort last), ``is_rel ⟺ t_score > 0
    AND grk <= k`` reproduces gt membership, and masking rk to
    ``b_score > 0 AND rk <= k`` reproduces the LEFT JOIN's matched
    rank (NULL otherwise) — restricting the aggregate to is_rel rows
    makes every aggregate expression identical to the joined form's."""
    spark = dialect == "spark"
    div = "DIV" if spark else "//"
    disc, idcg = _disc_literals(dialect)
    if fused:
        return f"""
WITH both_scores AS (
  {_rrf_sql(dialect, spread_hint, table, stacked_only=True)}
), cand AS (
  SELECT query_id, doc_id, b_score, t_score FROM both_scores
  WHERE b_score > 0 OR t_score > 0
), rankedp AS (
  SELECT query_id, b_score, t_score,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY t_score DESC, doc_id ASC) AS grk,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY b_score DESC, doc_id ASC) AS brk
  FROM cand
), marked AS (
  SELECT query_id,
         (t_score > 0 AND grk <= {BM25_K}) AS is_rel,
         CASE WHEN b_score > 0 AND brk <= {BM25_K} THEN brk END AS rk
  FROM rankedp
), agg AS (
  SELECT CAST(query_id AS INT) AS query_id,
         CAST(COUNT(*) AS BIGINT) AS n_rel,
         CAST(COUNT(rk) AS BIGINT) AS hits,
         CAST(COALESCE(CAST(1000000 AS BIGINT) {div} MIN(rk), 0) AS BIGINT) AS mrr_e6,
         CAST(COALESCE(SUM(CASE WHEN rk IS NOT NULL THEN {disc} END), 0) AS BIGINT) AS dcg_e6
  FROM marked WHERE is_rel GROUP BY query_id
)
SELECT query_id, n_rel, hits,
       CAST((hits * 1000000) {div} n_rel AS BIGINT) AS recall_e6,
       mrr_e6,
       CAST((dcg_e6 * 1000000) {div} {idcg} AS BIGINT) AS ndcg_e6
FROM agg
"""
    return f"""
WITH both_scores AS (
  {_rrf_sql(dialect, spread_hint, table, stacked_only=True)}
), gt AS (
  SELECT query_id, doc_id FROM (
    SELECT query_id, doc_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY t_score DESC, doc_id ASC) AS grk
    FROM both_scores WHERE t_score > 0
  ) WHERE grk <= {BM25_K}
), sys AS (
  SELECT query_id, doc_id, rk FROM (
    SELECT query_id, doc_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY b_score DESC, doc_id ASC) AS rk
    FROM both_scores WHERE b_score > 0
  ) WHERE rk <= {BM25_K}
), joined AS (
  SELECT gt.query_id, gt.doc_id, sys.rk
  FROM gt LEFT JOIN sys
    ON gt.query_id = sys.query_id AND gt.doc_id = sys.doc_id
), agg AS (
  SELECT CAST(query_id AS INT) AS query_id,
         CAST(COUNT(*) AS BIGINT) AS n_rel,
         CAST(COUNT(rk) AS BIGINT) AS hits,
         CAST(COALESCE(CAST(1000000 AS BIGINT) {div} MIN(rk), 0) AS BIGINT) AS mrr_e6,
         CAST(COALESCE(SUM(CASE WHEN rk IS NOT NULL THEN {disc} END), 0) AS BIGINT) AS dcg_e6
  FROM joined GROUP BY query_id
)
SELECT query_id, n_rel, hits,
       CAST((hits * 1000000) {div} n_rel AS BIGINT) AS recall_e6,
       mrr_e6,
       CAST((dcg_e6 * 1000000) {div} {idcg} AS BIGINT) AS ndcg_e6
FROM agg
"""


def t_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval evaluation — recall@{k}, MRR, nDCG@{k} of the BM25
    ranking against the TF-IDF top-{k} as ground truth, per query:
    the standard ranker-agreement diagnostic a curation pipeline runs
    before trusting a new ranker (swap either leg for a labeled
    relevance table and the metric tail is unchanged).

    Everything is integer-exact: both rankings are the pinned
    bit-exact integer scorers; metric arithmetic is BIGINT with the
    nDCG discount table embedded as shared Python-computed literals
    in both dialects (log2 never touches an engine's libm — the
    repo-wide log-free discipline).

    Plan shape (r10 — the fused no-join form, _eval_sql fused=True):
    ONE spark.sql statement consuming the stacked score table exactly
    once — both rankings are windows over the same candidate pass, gt
    membership and the system rank are per-row masks, and the metric
    aggregate runs directly on the is_rel rows (the r8 persist
    barrier existed only to share the stacked table across two rank
    branches; with one consumer it is pure overhead). Queries with no
    TF-IDF match have no ground-truth set and are absent by
    definition (the aggregate is restricted to is_rel rows)."""
    d = _t(spark, sf_dir, "documents")
    hint = dedup.spread_hint(d)
    d.createOrReplaceTempView("__eval_documents")
    return spark.sql(_eval_sql("spark", hint, "__eval_documents", fused=True))


T_RETRIEVAL_EVAL_SQL = _eval_sql("duckdb", "", "documents")

def remove_from_bm25_index(
    df: DataFrame, path: str, text_col: str = "text", id_col: str = "doc_id"
) -> int:
    """Delete documents from the persisted BM25 index, rewriting ONLY
    the tok-hash buckets their terms land in plus their doc-sidecar
    buckets; stats re-derive from the sidecar. With extend_bm25_index
    this closes the mutation cycle: update = remove(old) + extend(new).

    Contract (the inverse of extend's): the caller presents the
    ORIGINAL document content — the index is keyed by content-derived
    terms, so the byte-identical text is what locates the touched
    buckets in O(slice); within them, every posting of the given doc
    ids is dropped. Idempotent: removing an absent doc rewrites the
    touched buckets unchanged. Returns touched posting buckets."""
    from sync_spark.sources.bucketed import read_meta, update_touched_buckets

    if read_meta(path) is None:
        raise ValueError(f"no BM25 index at {path!r}; build_bm25_index first")
    spark = df.sparkSession
    postings, docs = _posting_frames(df, text_col, id_col)
    touched = update_touched_buckets(
        postings, path, mode="remove", anti_on="doc_id"
    )
    if not touched:
        return 0
    update_touched_buckets(docs, _docs_path(path), mode="remove", anti_on="doc_id")
    _write_stats(spark, path)
    return touched
