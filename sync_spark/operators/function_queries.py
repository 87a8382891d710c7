"""Scalar-function + countQuery-DSL queries (SURVEY.md §2.8, §2.2)
with DuckDB oracles."""

from __future__ import annotations

from datetime import date

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sync_spark.functions.security import (
    apply_path_transform,
    apply_security_rules,
    decrypt_value,
    encrypt_value,
    mask_value,
)
from sync_spark.operators.countquery import count_with_query
from sync_spark.operators.relational import _t
from sync_spark.spec import CountCondition, CountQuery, DateRange, FieldSecurity

# ---------------------------------------------------------------------------
# F1/F4: masking via security rules
# ---------------------------------------------------------------------------


def f_mask_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    rules = [
        FieldSecurity(field="c_name", security_type="masked"),
        FieldSecurity(field="c_acctbal", security_type="masked"),
    ]
    return apply_security_rules(c, rules).select(
        "c_custkey", "c_name", "c_acctbal", "c_mktsegment"
    )


F_MASK_SQL = """
SELECT c_custkey,
       repeat('*', length(c_name)) AS c_name,
       CASE WHEN c_acctbal IS NULL THEN NULL ELSE '****' END AS c_acctbal,
       c_mktsegment
FROM customer
"""


# ---------------------------------------------------------------------------
# F2: AES-GCM roundtrip (ciphertext is nondeterministic by design —
# the oracle checks the decrypt-roundtrip invariant)
# ---------------------------------------------------------------------------


def f_encrypt_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    key = "sync-spark-test-key"
    enc = encrypt_value(F.col("c_name"), key, c.schema["c_name"].dataType)
    return c.select(
        "c_custkey",
        (decrypt_value(enc, key) == F.col("c_name")).alias("roundtrip_ok"),
    )


F_ENCRYPT_SQL = """
SELECT c_custkey, TRUE AS roundtrip_ok FROM customer
"""


# ---------------------------------------------------------------------------
# F3: nested-path masking — build a nested document, mask a dotted
# path in place, flatten back out
# ---------------------------------------------------------------------------


def f_nested_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        F.struct(
            F.col("c_name").alias("name"),
            F.struct(
                F.concat(F.lower("c_name"), F.lit("@example.com")).alias("email"),
                F.col("c_acctbal").alias("balance"),
            ).alias("contact"),
        ).alias("profile"),
    )
    masked = apply_path_transform(c, "profile.contact.email", mask_value)
    return masked.select(
        "c_custkey",
        F.col("profile.name").alias("name"),
        F.col("profile.contact.email").alias("email_masked"),
        F.col("profile.contact.balance").alias("balance"),
    )


F_NESTED_MASK_SQL = """
SELECT c_custkey, c_name AS name,
       repeat('*', length(lower(c_name) || '@example.com')) AS email_masked,
       c_acctbal AS balance
FROM customer
"""


# ---------------------------------------------------------------------------
# F13: JSON extraction from the event props payload
# ---------------------------------------------------------------------------


def f_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count("k").alias("n_k"))
        .orderBy("event_type")
    )


F_JSON_SQL = """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_k
FROM events GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# F11/F21 + string functions: regex extraction, casing, lengths
# ---------------------------------------------------------------------------


def f_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.regexp_extract("c_name", r"([0-9]+)", 1).cast("long").alias("name_id"),
        F.upper("c_mktsegment").alias("seg_upper"),
        F.length("c_name").alias("name_len"),
        F.concat_ws("|", "c_mktsegment", F.col("c_nationkey").cast("string")).alias("seg_nation"),
    )


F_STRING_SQL = """
SELECT c_custkey,
       TRY_CAST(regexp_extract(c_name, '([0-9]+)', 1) AS BIGINT) AS name_id,
       upper(c_mktsegment) AS seg_upper,
       length(c_name) AS name_len,
       c_mktsegment || '|' || CAST(c_nationkey AS VARCHAR) AS seg_nation
FROM customer
"""


# ---------------------------------------------------------------------------
# F8/F9: timestamp parse + day arithmetic
# ---------------------------------------------------------------------------


def f_timestamp_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    s = F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss")
    parsed = F.to_timestamp(s, "yyyy-MM-dd HH:mm:ss")
    return o.select(
        "o_orderkey",
        F.unix_micros(parsed).alias("epoch_us"),
        F.date_format(F.date_add(parsed.cast("date"), 30), "yyyy-MM-dd").alias("plus30d"),
        F.date_format(F.date_trunc("month", parsed), "yyyy-MM-dd").alias("month_start"),
    )


F_TS_PARSE_SQL = """
SELECT o_orderkey,
       epoch_us(strptime(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'), '%Y-%m-%d %H:%M:%S')) AS epoch_us,
       strftime(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY, '%Y-%m-%d') AS plus30d,
       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start
FROM orders
"""


# ---------------------------------------------------------------------------
# countQuery DSL (P3/P4 + P12 + A2) end-to-end
# ---------------------------------------------------------------------------


def f_misc_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F19/F20 coverage: byte-count humanization (slack.go:236-247
    semantics) and uuid() generation. uuid values are random, so the
    oracle checks the FORMAT invariant, which is deterministic."""
    o = _t(spark, sf_dir, "orders")
    # explicit floor: double→int CASTS truncate in Spark but round in
    # DuckDB; floor agrees everywhere
    fake_bytes = F.floor(F.col("o_totalprice") * 1000).cast("long")
    humanized = (
        F.when(fake_bytes >= 1024 * 1024 * 1024, F.concat(F.round(fake_bytes / (1024 * 1024 * 1024), 1).cast("string"), F.lit(" GB")))
        .when(fake_bytes >= 1024 * 1024, F.concat(F.round(fake_bytes / (1024 * 1024), 1).cast("string"), F.lit(" MB")))
        .when(fake_bytes >= 1024, F.concat(F.round(fake_bytes / 1024, 1).cast("string"), F.lit(" KB")))
        .otherwise(F.concat(fake_bytes.cast("string"), F.lit(" B")))
    )
    return (
        o.filter(F.col("o_orderkey") < 100)
        .select(
            "o_orderkey",
            humanized.alias("size_human"),
            F.expr("uuid() rlike '^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$'").alias("uuid_ok"),
        )
        .orderBy("o_orderkey")
    )


F_MISC_SQL = """
SELECT o_orderkey,
       CASE
         WHEN fb >= 1073741824 THEN CAST(round(fb / 1073741824.0, 1) AS VARCHAR) || ' GB'
         WHEN fb >= 1048576 THEN CAST(round(fb / 1048576.0, 1) AS VARCHAR) || ' MB'
         WHEN fb >= 1024 THEN CAST(round(fb / 1024.0, 1) AS VARCHAR) || ' KB'
         ELSE CAST(fb AS VARCHAR) || ' B'
       END AS size_human,
       TRUE AS uuid_ok
FROM (SELECT o_orderkey, CAST(FLOOR(o_totalprice * 1000) AS BIGINT) AS fb FROM orders WHERE o_orderkey < 100)
ORDER BY o_orderkey
"""


def cq_conditions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String literals coerce through the int→float chain exactly like
    query_counter.go:185-244."""
    q = CountQuery(
        enabled=True,
        conditions=[
            CountCondition(field="o_totalprice", operator=">", value="150000"),
            CountCondition(field="o_orderstatus", operator="=", value="O"),
            CountCondition(field="x", operator="=", value="y", table="other_table"),  # scoped out
        ],
    )
    return count_with_query(_t(spark, sf_dir, "orders"), q, for_table="orders")


CQ_CONDITIONS_SQL = """
SELECT COUNT(*) AS cnt FROM orders
WHERE o_totalprice > 150000 AND o_orderstatus = 'O'
"""


def cq_daterange_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7 weekly window (Sunday-start JST) through the DSL, anchored at
    2024-01-17 for determinism."""
    q = CountQuery(enabled=True, date_range=DateRange(type="weekly", field="ts"))
    return count_with_query(_t(spark, sf_dir, "events"), q, anchor=date(2024, 1, 17))


CQ_WEEKLY_SQL = """
SELECT COUNT(*) AS cnt FROM events
WHERE ts >= TIMESTAMP '2024-01-13 15:00:00' AND ts < TIMESTAMP '2024-01-20 15:00:00'
"""


_FUZZY_PROBES = ["Customer#000000042", "Custmer#000000777", "Costumer#00000123",
                 "Customer#999999999", "Supplier#000000001"]


# Length-band half-width for the fuzzy-match candidate prune: the
# match is exact-or-error as long as the true minimum distance is
# <= this bound (lev(a,b) >= |len(a)-len(b)|, so no pruned candidate
# can beat an in-band winner at distance <= the band). An in-plan
# assert_true raises loudly if no candidate lands inside the band —
# never a silently-wrong best match.
_FUZZY_BAND = 16


def f_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy string matching: each probe resolves to its nearest
    customer name by Levenshtein distance (min distance, then
    lexicographic name tiebreak) — the entity-resolution scalar the
    reference's exact-match DSL lacks.

    Scale shape (r8, replaces a row_number window over 5 probe
    partitions that funnelled every probe×corpus scored row into 5
    reducer tasks for a full sort — classic key-skew): per-probe
    argmin via ``groupBy(probe).agg(min(struct(dist, name)))`` — a
    hash aggregate with map-side partial combine, so each task emits
    at most |probes| rows and nothing is ever sorted. Candidates are
    pruned by the promised length band: ``lev(a,b) >= |len(a)-len(b)|``
    makes dropping names more than ``_FUZZY_BAND`` characters away in
    length EXACT whenever some candidate scores <= the band (asserted
    in-plan — a probe with no in-band winner raises rather than
    returning a silently unpruned-different answer), and the banded
    3-arg ``levenshtein(l, r, threshold)`` caps the DP cost per
    comparison at O(len·band) instead of O(len²)."""
    from sync_spark.operators import dedup
    from sync_spark.operators.relational import _t

    c = _t(spark, sf_dir, "customer").select("c_name")
    # kernel spread (same guard as every compute kernel here): a
    # single-file corpus arrives as 1-2 splits — 5·|corpus|
    # levenshteins would run on one core (measured 2.8s single-task
    # vs 0.3s spread at sf1)
    c = dedup.spread_for_kernel(c)
    band = F.lit(_FUZZY_BAND)
    # probes ride as a LITERAL array exploded per corpus row — no
    # probes frame, no broadcast, no BroadcastNestedLoopJoin (its
    # per-pair interpreted condition and the vanished-probe join-back
    # both measured as pure overhead). Out-of-band candidates (the
    # banded levenshtein returns -1, short-circuiting before any DP
    # work when |len(a)-len(b)| > band) become a can't-win SENTINEL,
    # not a filtered row — a `dist >= 0` filter collapses into a join
    # condition and re-computes the levenshtein (measured 2× kernel
    # cost; same re-evaluation family as dedup.py:398-410) — so every
    # probe reaches the aggregate unconditionally and can never
    # silently vanish; codegen CSE keeps the CASE's two references to
    # one evaluation.
    lev = F.levenshtein("probe", "c_name", _FUZZY_BAND)
    scored = c.select(
        F.explode(F.array(*[F.lit(p) for p in _FUZZY_PROBES])).alias("probe"),
        "c_name",
    ).select(
        "probe",
        F.when(lev >= 0, lev).otherwise(F.lit(2147483647)).alias("dist"),
        "c_name",
    )
    best = scored.groupBy("probe").agg(
        F.min(F.struct(F.col("dist"), F.col("c_name"))).alias("best")
    )
    guard = F.assert_true(
        F.col("best.dist") <= band,
        F.concat(
            F.lit("f_fuzzy_match: no candidate within the length band for probe "),
            F.col("probe"),
            F.lit(" — raise _FUZZY_BAND"),
        ),
    )
    return (
        best.filter(guard.isNull())
        .select(
            "probe",
            F.col("best.c_name").alias("best_match"),
            F.col("best.dist").cast("long").alias("distance"),
        )
        .orderBy("probe")
    )


F_FUZZY_SQL = """
WITH probes AS (
  SELECT unnest(['Customer#000000042', 'Custmer#000000777', 'Costumer#00000123',
                 'Customer#999999999', 'Supplier#000000001']) AS probe
), scored AS (
  SELECT probe, c_name, levenshtein(probe, c_name) AS dist,
         ROW_NUMBER() OVER (PARTITION BY probe
             ORDER BY levenshtein(probe, c_name) ASC, c_name ASC) AS rk
  FROM probes CROSS JOIN customer
)
SELECT probe, c_name AS best_match, CAST(dist AS BIGINT) AS distance
FROM scored WHERE rk = 1 ORDER BY probe
"""
