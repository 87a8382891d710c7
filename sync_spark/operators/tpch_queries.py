"""Classic TPC-H-shaped queries (Q3/Q10/Q18 analogs) — multi-join +
aggregate + top-k + having shapes that stress join ordering, partial
aggregation, and TakeOrdered planning. Decimal-exact money math per
the repo-wide oracle discipline."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from sync_spark.operators.relational import _t, dec


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3: unshipped-revenue top-10 for one segment."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    revenue = F.sum(
        dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))
    ).cast("double")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        # customer scales with SF (150k×SF): no hard broadcast hint —
        # AQE broadcasts when the measured segment slice fits and can
        # demote at 100 TB, where a hint would force a multi-GB build
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg(revenue.alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select(
            "o_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
    )


Q3_SQL = """
SELECT o_orderkey,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_orderpriority
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey ASC
LIMIT 10
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10: top-20 customers by revenue lost to returns.

    The lineitem⋈orders leg is hinted sort-merge (r8): orders is a
    FACT, not a dim — unfiltered here, it rides just under the
    broadcast threshold at bench scale, and AQE's broadcast pick
    serializes a millions-of-rows hash-relation build on one thread
    (interleaved A/B at sf1: 2.10s broadcast vs 1.77s SMJ). At 100 TB
    orders can never broadcast, so the hint pins the plan the cluster
    would run anyway. nation stays a broadcast dim (25 rows at every
    SF); customer is unhinted — it scales 150k×SF, so the pick belongs
    to AQE (r9, family-wide un-hinting of scaling relations)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").hint("merge")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    revenue = F.sum(
        dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))
    ).cast("double")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_mktsegment")
        .agg(revenue.alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, n_name, c_mktsegment,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name, c_mktsegment
ORDER BY revenue DESC, c_custkey ASC
LIMIT 20
"""


def q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18: customers with orders whose total quantity clears a
    threshold (semi-join against a HAVING aggregate)."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(dec("l_quantity")).alias("qty"))
        .filter(F.col("qty") > 300)
        .select("l_orderkey", F.col("qty").cast("double").alias("total_qty"))
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(100)
    )


Q18_SQL = """
SELECT c_custkey, c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_totalprice,
       CAST(big.qty AS DOUBLE) AS total_qty
FROM (
  SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,2))) AS qty
  FROM lineitem GROUP BY l_orderkey HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 300
) big
JOIN orders ON big.l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY o_totalprice DESC, o_orderkey ASC
LIMIT 100
"""


def q12_priority_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 analog (fixture has no shipmode, so the bucketing runs on
    l_returnflag): per returnflag, conditional counts of high-priority
    (1-URGENT/2-HIGH) vs other orders shipping in 1997 — the classic
    join + CASE-sum partial-aggregation shape."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
        .orderBy("l_returnflag")
    )


Q12_SQL = """
SELECT l_returnflag,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14: promo revenue share for one ship month — lineitem joined
    to the part dimension (unhinted: part scales 200k×SF, AQE picks
    broadcast where it fits), conditional DECIMAL-exact revenue
    ratio (100 × promo / total)."""
    p = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-06-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    rev = dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(F.lit(0).cast("decimal(18,2)"))
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .agg(
            F.round(
                F.lit(100.0) * F.sum(promo).cast("double") / F.sum(rev).cast("double"), 6
            ).alias("promo_revenue_pct")
        )
    )


Q14_SQL = """
SELECT round(100.0 *
         CAST(SUM(CASE WHEN p_type = 'PROMO'
                       THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                       ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
         / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE),
       6) AS promo_revenue_pct
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-06-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1997-07-01 00:00:00'
"""


def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 analog: revenue per nation for one region/year where the
    supplying and ordering nations coincide — the 6-table star with a
    non-key equality (c_nationkey = s_nationkey) that stresses join
    ordering. nation/region (fixed 25/5 rows) are hint-broadcast;
    customer/supplier scale with SF and are left to AQE; the two
    facts join on their keys; the final agg is 5 rows."""
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem")
    revenue = F.sum(
        dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))
    ).cast("double")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(
            c,
            (o.o_custkey == c.c_custkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(revenue.alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("n_name").asc())
    )


Q5_SQL = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name ASC
"""


# ---------------------------------------------------------------------------
# Round-4 breadth: the remaining TPC-H shapes expressible on the
# fixture's subset schema (no partsupp, no commit/receipt dates — each
# docstring states its adaptation). The shapes stress EXISTS/anti
# semi-joins, left-outer histograms, scalar subqueries, correlated
# per-group averages, OR-of-conjunctions pushdown, and max-selection.
# ---------------------------------------------------------------------------


def q4_priority_late_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 analog (no commitdate/receiptdate in the fixture — 'late'
    means a lineitem shipping > 30 days after the order date): per
    priority, count of Q3-1997 orders with at least one late
    lineitem.

    Shape (r8): EXISTS as inner-join + per-order dedup, NOT a left
    semi join. Spark's BroadcastHashJoin can only build the RIGHT
    side of a LEFT SEMI, which here is the 6M-row fact — a
    single-threaded 100+ MB hash-relation build per run (3.0s at
    sf1). Flipping to `fact ⋈ filtered orders` probes the tiny
    quarter of orders instead, and the per-order distinct is a
    partial-aggregatable hash agg (0.40s at sf1, 7.5×). The quarter
    is deliberately NOT hint-broadcast: an explicit broadcast hint is
    never demoted by AQE, so at 100 TB it would force a fact-slice
    hash build — unhinted, AQE picks broadcast exactly when the
    runtime size allows and SMJ otherwise (it picks broadcast at
    every tested sf here)."""
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = li.join(
        o,
        (o.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
        "inner",
    )
    return (
        late.select("o_orderkey", "o_orderpriority")
        .distinct()
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q4_SQL = """
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6: single-table filtered revenue delta — the pure
    pushdown+partial-agg shape (PushedFilters carries all four
    predicates to the scan)."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (dec("l_discount") >= F.lit("0.05").cast("decimal(18,2)"))
        & (dec("l_discount") <= F.lit("0.07").cast("decimal(18,2)"))
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.sum(dec("l_extendedprice") * dec("l_discount")).cast("double").alias("revenue")
    )


Q6_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
  AND CAST(l_discount AS DECIMAL(18,2)) BETWEEN CAST('0.05' AS DECIMAL(18,2)) AND CAST('0.07' AS DECIMAL(18,2))
  AND l_quantity < 24
GROUP BY ALL
"""


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7: bilateral trade volume between two nations by ship year —
    the double-nation-join shape (supplier nation × customer nation,
    both small dims broadcast)."""
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7") | (
        F.col("supp_nation") == "NATION_7"
    ) & (F.col("cust_nation") == "NATION_3")
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    vol = F.sum(
        dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))
    ).cast("double")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .filter(pair)
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").alias("l_year"))
        .agg(vol.alias("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


Q7_SQL = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN customer ON o_custkey = c_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
   OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 analog (no partsupp.ps_supplycost in the fixture — profit is
    gross revenue): revenue on PROMO-type parts by supplier nation ×
    ship year. lineitem ⋈ part(filtered, broadcast) ⋈ supplier ⋈
    nation."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation")
    profit = F.sum(
        dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))
    ).cast("double")
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation_name"), F.year("l_shipdate").alias("o_year"))
        .agg(profit.alias("sum_profit"))
        .orderBy("nation_name", F.col("o_year").desc())
    )


Q9_SQL = """
SELECT n_name AS nation_name, CAST(year(l_shipdate) AS BIGINT) AS o_year,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_type = 'PROMO'
GROUP BY nation_name, o_year
ORDER BY nation_name, o_year DESC
"""


def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13: customer order-count histogram — zero-order customers land
    in the c_count=0 bucket. The priority filter stands in for the
    comment NOT LIKE.

    Shape (r8): aggregate BELOW the join. The classic
    outer-join-then-double-aggregate form shuffles the orders fact at
    ORDER grain (every qualifying order row crosses the wire to meet
    its customer) before collapsing to one count per customer. Orders
    aggregate to per-custkey counts FIRST — a partial-aggregatable
    hash agg whose shuffle moves at most one row per (partition,
    custkey) — and the left join that restores the zero-order bucket
    then runs at CUSTKEY grain on both sides (AQE broadcasts the
    count table at bench scale; at 100 TB it falls back to a
    custkey-grain SMJ, still never an order-grain shuffle).
    sf1: 1.05s → ~0.5s, identical rows."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    ocnt = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") != "4-NOT SPECIFIED")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).cast("long").alias("__cnt"))
    )
    per_cust = c.join(ocnt, c.c_custkey == ocnt.o_custkey, "left").select(
        F.coalesce(F.col("__cnt"), F.lit(0).cast("long")).alias("c_count")
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count(F.lit(1)).cast("long").alias("custdist"))
        .orderBy(F.col("custdist").desc(), F.col("c_count").desc())
    )


Q13_SQL = """
SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '4-NOT SPECIFIED'
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15: supplier(s) with MAX quarterly revenue — revenue CTE +
    scalar-max filter. The max comparison happens in EXACT decimal
    (double ties could split across engines); the output casts at the
    end.

    r11 opt: the scalar max rides an unpartitioned window over the
    SUPPLIER-GRAIN aggregate instead of a second aggregate joined
    back — the subquery form re-evaluated rev's whole lineage (a
    second lineitem scan + shuffle per action; ReuseExchange cannot
    merge the two subtrees because they prune different columns).
    The window's single-partition pass is over post-aggregate rows
    (|suppliers|, KB–MB at any SF), while the scan it removes is the
    FACT table — the right trade at 100 TB, not a local[32] tune.
    Decimal equality keeps ties bit-exact; rows kept are identical."""
    li = _t(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(
            dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))
        ).alias("total_rev")
    )
    mx_w = F.max("total_rev").over(Window.partitionBy())
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.withColumn("mx", mx_w)
        .filter(F.col("total_rev") == F.col("mx"))
        .join(s, F.col("supplier_no") == s.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_rev").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
FROM revenue JOIN supplier ON supplier_no = s_suppkey
WHERE total_rev = (SELECT MAX(total_rev) FROM revenue)
ORDER BY s_suppkey
"""


def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 analog (no partsupp — the lineitem fact is the
    part↔supplier relation; negative-acctbal suppliers stand in for
    the complaints NOT IN): distinct supplier count per
    (p_brand, p_type, p_size) excluding one brand.

    r9: reads the shared _pair_store instead of re-deduplicating
    lineitem — COUNT(DISTINCT l_suppkey) over lineitem rows equals
    COUNT(DISTINCT ps_suppkey) over the distinct-pair relation by
    definition, and the anti/inner joins commute with the pair dedup
    (both predicates are functions of the pair key). The posting-grain
    shuffle that made this query 7.2× at sf1 is gone; the joins and
    the distinct-count expand now run on ~|pairs| rows."""
    pairs = _pair_store(spark, sf_dir).select("ps_partkey", "ps_suppkey")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") != "Brand#9").select(
        "p_partkey", "p_brand", "p_type", "p_size"
    )
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        F.col("s_suppkey")
    )
    return (
        pairs.join(bad, pairs.ps_suppkey == bad.s_suppkey, "left_anti")
        .join(p, pairs.ps_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("ps_suppkey").cast("long").alias("supplier_cnt"))
        .orderBy(
            F.col("supplier_cnt").desc(),
            F.col("p_brand").asc(),
            F.col("p_type").asc(),
            F.col("p_size").asc(),
        )
        .limit(20)
    )


Q16_SQL = """
SELECT p_brand, p_type, p_size,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand <> 'Brand#9'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC
LIMIT 20
"""


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17: revenue from orders of one brand far below the part's
    average quantity. The correlated 0.2·AVG comparison runs in
    SCALED INTEGERS (qty·5·n < Σqty, all decimal) — a decimal-division
    average would round differently across engines on exact
    boundaries."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#13").select("p_partkey")
    branded = li.join(p, li.l_partkey == p.p_partkey).select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    # r11 opt: the correlated per-part aggregate rides a window over
    # the SAME branded rows instead of a groupBy joined back — the
    # join form re-evaluated branded's lineage (a second lineitem
    # scan + part join per action; the subtrees prune differently so
    # ReuseExchange never merges them). One fact scan, one part-key
    # shuffle; the sums are the same DECIMAL aggregates, so the
    # integer comparison below is bit-identical.
    w = Window.partitionBy("l_partkey")
    return (
        branded.withColumn("sum_qty", F.sum(dec("l_quantity")).over(w))
        .withColumn("n_qty", F.count(F.lit(1)).over(w).cast("decimal(18,0)"))
        .filter(dec("l_quantity") * F.lit(5) * F.col("n_qty") < F.col("sum_qty"))
        .agg(
            (F.sum(dec("l_extendedprice")).cast("double") / F.lit(7.0)).alias(
                "avg_yearly"
            )
        )
    )


Q17_SQL = """
WITH branded AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = 'Brand#13'
), per_part AS (
  SELECT l_partkey AS pk,
         SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty,
         CAST(COUNT(*) AS DECIMAL(18,0)) AS n_qty
  FROM branded GROUP BY l_partkey
)
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0 AS avg_yearly
FROM branded JOIN per_part ON l_partkey = pk
WHERE CAST(l_quantity AS DECIMAL(18,2)) * 5 * n_qty < sum_qty
GROUP BY ALL
"""


def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19: OR of three (brand, size-range, quantity-range)
    conjunctions — the disjunctive-pushdown shape (the whole OR
    predicate evaluates post-join; each arm's part filter narrows the
    broadcast)."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    arm1 = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    )
    arm2 = (
        (F.col("p_brand") == "Brand#13")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 20)
    )
    arm3 = (
        (F.col("p_brand") == "Brand#20")
        & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        li.join(p, li.l_partkey == p.p_partkey)
        .filter(arm1 | arm2 | arm3)
        .agg(
            F.sum(
                dec("l_extendedprice")
                * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))
            )
            .cast("double")
            .alias("revenue")
        )
    )


Q19_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#13' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30)
GROUP BY ALL
"""


def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22: rich-but-inactive customers per nation — scalar-subquery
    average + NOT EXISTS anti-join. The acctbal > AVG(positive)
    comparison runs in scaled integers (bal·n > Σ, decimal-exact)
    instead of a rounded decimal-division average."""
    c = _t(spark, sf_dir, "customer")
    pos = c.filter(dec("c_acctbal") > 0).agg(
        F.sum(dec("c_acctbal")).alias("sum_pos"),
        F.count(F.lit(1)).cast("decimal(18,0)").alias("n_pos"),
    )
    o = _t(spark, sf_dir, "orders").select("o_custkey")
    rich = (
        c.join(F.broadcast(pos))
        .filter(dec("c_acctbal") * F.col("n_pos") > F.col("sum_pos"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
    )
    return (
        rich.groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("numcust"),
            F.sum(dec("c_acctbal")).cast("double").alias("totacctbal"),
        )
        .orderBy("nationkey")
    )


Q22_SQL = """
WITH pos AS (
  SELECT SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS sum_pos,
         CAST(COUNT(*) AS DECIMAL(18,0)) AS n_pos
  FROM customer WHERE CAST(c_acctbal AS DECIMAL(18,2)) > 0
)
SELECT c_nationkey AS nationkey,
       CAST(COUNT(*) AS BIGINT) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
FROM customer, pos
WHERE CAST(c_acctbal AS DECIMAL(18,2)) * n_pos > sum_pos
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY c_nationkey
ORDER BY nationkey
"""


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 analog: NATION_3 suppliers' share of PROMO-part revenue into
    region AMERICA... the fixture has generic regions, so the market
    is region of the CUSTOMER's nation = the region containing
    NATION_3. Share = decimal-sum(case)/decimal-sum — both sums exact,
    one final double division (identical IEEE op in both engines).

    Shape (r11): market membership gates ORDERS, not output columns —
    the customer⋈market semi reduces orders to the market slice (20%)
    BEFORE the lineitem join, a semi-join pushdown the no-CBO
    Catalyst cannot derive from the post-join filter. The fact path
    then joins one pre-reduced orders build instead of full orders +
    customer + a late semi (interleaved sf1 A/B: 1.69s → 1.15s calm
    median; scripts/ab_midtail.py). At 100 TB the same shape holds:
    every reduction happens before the big-table join, and AQE still
    owns the join strategy for the SF-scaling relations (no hard
    broadcast hints — r9 family rule; the same rewrite measured 2×
    WORSE on q7, where the unreduced plan is already a single-scan
    all-broadcast pipeline, so it is applied only where measured)."""
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    p = _t(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO").select("p_partkey")
    # the market: customers whose nation shares NATION_3's region
    cn = n.alias("cn").join(
        F.broadcast(
            n.filter(F.col("n_name") == "NATION_3").select(
                F.col("n_regionkey").alias("target_region")
            )
        ),
        F.col("cn.n_regionkey") == F.col("target_region"),
    ).select(F.col("cn.n_nationkey").alias("mkt_nk"))
    mkt_c = c.join(F.broadcast(cn), c.c_nationkey == F.col("mkt_nk"), "left_semi")
    o = (
        _t(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate")
        .join(mkt_c, F.col("o_custkey") == mkt_c.c_custkey, "left_semi")
    )
    sn = n.select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    vol = dec("l_extendedprice") * (F.lit(1).cast("decimal(18,2)") - dec("l_discount"))
    joined = (
        li.join(p, li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(sn), F.col("s_nationkey") == F.col("s_nk"))
    )
    return (
        joined.groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.sum(F.when(F.col("supp_nation") == "NATION_3", vol)).alias("nat_vol"),
            F.sum(vol).alias("tot_vol"),
        )
        .select(
            F.col("o_year").cast("long").alias("o_year"),
            (
                F.coalesce(F.col("nat_vol"), F.lit(0).cast("decimal(18,2)")).cast("double")
                / F.col("tot_vol").cast("double")
            ).alias("mkt_share"),
        )
        .orderBy("o_year")
    )


Q8_SQL = """
WITH mkt AS (
  SELECT n_nationkey FROM nation
  WHERE n_regionkey = (SELECT n_regionkey FROM nation WHERE n_name = 'NATION_3')
)
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(COALESCE(SUM(CASE WHEN sn.n_name = 'NATION_3'
             THEN CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) END),
            CAST(0 AS DECIMAL(18,2))) AS DOUBLE)
       / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
       AS mkt_share
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE p_type = 'PROMO'
  AND c_nationkey IN (SELECT n_nationkey FROM mkt)
GROUP BY o_year
ORDER BY o_year
"""


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 analog (no partsupp — lineitem revenue stands in for stock
    value): parts whose revenue exceeds 1.1× the AVERAGE part's — a
    share-of-total cutoff shrinks with part count and returns zero
    rows past sf0.001 (a vacuous empty-vs-empty oracle check); the
    avg-relative form is scale-stable (~30% of parts at every SF).
    The compare runs in EXACT scaled integers
    (value·10·n_parts > total·11), no decimal-division rounding.

    r9: per-part value re-aggregates the shared _pair_store's
    pair-grain revenue (decimal addition is associative — regrouping
    SUM(pair_revenue) by part is bit-identical to summing lineitem
    directly), and the store's ps_partkey bucketing means this
    groupBy adds NO exchange. The per-part table materializes ONCE
    through an eager localCheckpoint and the grand total is collected
    from it at CONSTRUCTION time — both now routed through
    operators.materialized (r10, one audited snapshot path):
    re-calling this function after lineitem changed rebuilds the
    checkpoint and total; re-executing a kept frame replays them.
    The r8 form evaluated the whole per-part aggregate TWICE (once
    under the broadcast total, once for the filter side) — measured
    2× the single-pass cost at sf1."""
    from sync_spark.operators.materialized import materialized_input

    def _build():
        pp = (
            _pair_store(spark, sf_dir)
            .groupBy(F.col("ps_partkey").alias("l_partkey"))
            .agg(F.sum("pair_revenue").alias("value"))
            .localCheckpoint(eager=True)
        )
        t = pp.agg(
            F.sum("value").alias("total"), F.count(F.lit(1)).alias("n_parts")
        ).first()
        return pp, t

    per_part, tot = materialized_input(
        spark,
        "q11_per_part",
        sf_dir,
        ["lineitem"],
        _build,
        # the checkpoint's blocks are session-managed: a harness that
        # unpersists all RDDs between queries destroys them under an
        # unchanged fingerprint — probe one partition before serving
        # the memo hit (≤ KBs; rebuild on failure)
        validate=lambda v: v[0].limit(1).count() >= 0,
    )
    return (
        per_part.filter(
            F.col("value") * 10 * F.lit(tot["n_parts"]) > F.lit(tot["total"]) * 11
        )
        .select("l_partkey", F.col("value").cast("double").alias("part_value"))
        .orderBy(F.col("part_value").desc(), F.col("l_partkey").asc())
    )


Q11_SQL = """
WITH per_part AS (
  SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS value
  FROM lineitem GROUP BY l_partkey
), t AS (SELECT SUM(value) AS total, COUNT(*) AS n_parts FROM per_part)
SELECT l_partkey, CAST(value AS DOUBLE) AS part_value
FROM per_part, t
WHERE value * 10 * n_parts > total * 11
ORDER BY part_value DESC, l_partkey ASC
"""


def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 analog (no commit/receipt dates — 'at fault' = the order's
    ONLY returned-flag lineitems came from this supplier): suppliers
    of one nation counted over multi-supplier F-status orders where
    they shipped a returned item (EXISTS another supplier in the
    order) and no OTHER supplier did (NOT EXISTS).

    Shape (r8): the double-correlated EXISTS/NOT-EXISTS decorrelates
    into ONE per-order aggregate instead of a semi + anti join pair —
    those joins' build sides were lineitem-scale (a single-threaded
    6M-row broadcast hash build each at sf1; 3.1s), where the
    aggregate is partial map-side (1.7s). The correlations become
    min/max algebra, deliberately NOT countDistinct (two distinct
    aggs in one pass plan an Expand that doubles the scanned rows —
    measured 4.7s, slower than the joins they replaced):
    ≥2 distinct suppliers ⟺ min(suppkey) ≠ max(suppkey); exactly one
    distinct returning supplier ⟺ min(R-suppkey) = max(R-suppkey)
    non-null, and that value IS the blamed supplier; numwait counts
    that supplier's returned lineitems per order (sum over orders),
    exactly the rows the l1-grain form counted."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F").select(
        "o_orderkey"
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_5")
    r_supp = F.when(F.col("l_returnflag") == "R", F.col("l_suppkey"))
    per_order = (
        li.groupBy("l_orderkey")
        .agg(
            F.min("l_suppkey").alias("mn"),
            F.max("l_suppkey").alias("mx"),
            F.min(r_supp).alias("mnr"),
            F.max(r_supp).alias("mxr"),
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias(
                "nitems"
            ),
        )
        .filter(
            F.col("mnr").isNotNull()
            & (F.col("mnr") == F.col("mxr"))
            & (F.col("mn") != F.col("mx"))
        )
    )
    # the F-status slice is ~half the orders fact — never a broadcast
    # candidate at scale, and an explicit hint would pin it (AQE never
    # demotes hints); both sides are order-grain, so the planner's
    # shuffled join is the 100 TB shape and AQE still upgrades to
    # broadcast at small sf where the slice fits
    blamed = per_order.join(
        o, per_order.l_orderkey == o.o_orderkey, "left_semi"
    )
    return (
        blamed.join(s, F.col("mnr") == s.s_suppkey)
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey, "left_semi")
        .groupBy("s_suppkey", "s_name")
        .agg(F.sum("nitems").cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(20)
    )


Q21_SQL = """
SELECT s_suppkey, s_name, CAST(COUNT(*) AS BIGINT) AS numwait
FROM lineitem l1
JOIN orders ON l1.l_orderkey = o_orderkey
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE o_orderstatus = 'F'
  AND l1.l_returnflag = 'R'
  AND s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_name = 'NATION_5')
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R'
  )
GROUP BY s_suppkey, s_name
ORDER BY numwait DESC, s_name ASC
LIMIT 20
"""


# ---------------------------------------------------------------------------
# Q2 / Q20 analogs over a SYNTHESIZED partsupp (the fixture ships no
# partsupp table): distinct (l_partkey, l_suppkey) pairs from lineitem
# with deterministic key-derived availqty/supplycost — pure integer
# arithmetic, so BOTH engines derive bit-identical tables from the
# same parquet. These close the last two of the 22 classic join
# shapes: the min-cost-supplier correlated scalar subquery (Q2) and
# the quantity-threshold semi-join chain (Q20).
# ---------------------------------------------------------------------------

# THE single definition of the synthesis arithmetic. The SQL strings
# are the source of truth: the oracle CTE interpolates them verbatim,
# and the Spark implementations evaluate the SAME strings via F.expr
# over frames carrying l_partkey/l_suppkey — one definition, two
# engines, no duplicated constants to drift.
PS_AVAILQTY_EXPR = "(l_partkey * 37 + l_suppkey * 17) % 9999 + 1"
PS_COST_EXPR = "(l_partkey * 13 + l_suppkey * 7) % 100000 + 1"

PARTSUPP_CTE = f"""WITH partsupp AS (
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         CAST({PS_AVAILQTY_EXPR} AS BIGINT) AS ps_availqty,
         CAST({PS_COST_EXPR} AS BIGINT) AS ps_supplycost_c
  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem)
)
"""


def _sweep_dead_pair_stores(warehouse: str, own_name: str) -> None:
    """Reap orphaned pair-store directories (r9 verdict #5 / ADVICE):
    the managed-table name is pid-suffixed, and a session rmtree's
    only its OWN name — so every bench/test session leaked one
    ``ps_pairs_<hash>_<dead-pid>`` directory (~|lineitem|/8 rows each)
    into the warehouse forever. Before building, remove every sibling
    ``ps_pairs_*_<pid>`` whose pid is no longer alive; a LIVE
    concurrent session's store is untouched (its pid kills the
    check), and races with a just-died session are harmless — the
    loser's rmtree of an already-deleted tree is a no-op."""
    import os
    import re
    import shutil

    if not os.path.isdir(warehouse):
        return
    pat = re.compile(r"^ps_pairs_[0-9a-f]+_(\d+)$")
    for entry in os.listdir(warehouse):
        if entry == own_name:
            continue
        m = pat.match(entry)
        if not m:
            continue
        pid = int(m.group(1))
        try:
            os.kill(pid, 0)  # signal 0: existence probe, sends nothing
            continue  # pid alive — a concurrent session owns it
        except ProcessLookupError:
            pass  # dead owner — orphan, safe to reap
        except PermissionError:
            continue  # alive under another uid — leave it
        shutil.rmtree(os.path.join(warehouse, entry), ignore_errors=True)


def _pair_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MATERIALIZED partsupp-like pair relation (r9, verdict #4):
    q2/q11/q16 each used to re-derive the distinct (l_partkey,
    l_suppkey) relation from lineitem per query — at sf1 that
    posting-grain dedup shuffle dominated all three (q16 7.2×, q11
    4.8×). Built ONCE per (session, sf_dir) as a BUCKETED table
    (bucketBy ps_partkey) and reused: the build is one pair-keyed
    aggregate over lineitem; every consumer then reads ~|pairs| rows
    (≈ lineitem/8) with hash-partitioning ON ps_partkey already
    reported by the scan, so per-part aggregates and windows add NO
    exchange. At 100 TB this is the pre-aggregate-once pattern: the
    shared derived relation persists between queries instead of
    re-shuffling the fact per query.

    Columns: (ps_partkey, ps_suppkey, ps_availqty, ps_supplycost_c)
    per PARTSUPP_CTE plus pair_revenue = SUM(l_extendedprice) at pair
    grain (decimal-exact), which lets q11 re-aggregate per-part value
    without touching lineitem (decimal addition is associative, so
    regrouping is bit-identical).

    Session-scoped by design: the catalog is in-memory, so the table
    is rebuilt lazily per session (one job, amortized over every
    consumer and every bench repetition). NOTE this is
    construction-time work (a write job runs when the consumer query
    is BUILT) — routed through operators.materialized (r10): the
    build-once check and the lineitem fingerprint live on the shared
    snapshot path, so a changed source rebuilds the store even within
    one session."""
    import hashlib
    import os
    import shutil

    from sync_spark.operators.materialized import materialized_input

    # pid suffix: two CONCURRENT sessions (each with its own in-memory
    # catalog) would otherwise race rmtree+saveAsTable on one managed
    # location; per-process names make the store private to the
    # session that builds it (cross-session reuse is impossible anyway
    # — the catalog entry dies with the session)
    name = (
        "ps_pairs_"
        + hashlib.md5(sf_dir.encode("utf-8")).hexdigest()[:10]
        + f"_{os.getpid()}"
    )
    def _build() -> str:
        # rebuild-from-scratch discipline: drop a same-session stale
        # catalog entry (source changed under us — the fingerprint
        # said so), and clear a PREVIOUS session's surviving files at
        # the managed location (the catalog is in-memory but the
        # warehouse directory is not; saveAsTable refuses with
        # LOCATION_ALREADY_EXISTS otherwise). The files are a
        # derivation of the source, so clearing is always safe
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        warehouse = spark.conf.get(
            "spark.sql.warehouse.dir", "spark-warehouse"
        ).removeprefix("file:")
        loc = os.path.join(warehouse, name)
        shutil.rmtree(loc, ignore_errors=True)
        _sweep_dead_pair_stores(warehouse, name)
        li = _t(spark, sf_dir, "lineitem")
        pairs = (
            li.groupBy("l_partkey", "l_suppkey")
            .agg(F.sum(dec("l_extendedprice")).alias("pair_revenue"))
            .select(
                F.col("l_partkey").alias("ps_partkey"),
                F.col("l_suppkey").alias("ps_suppkey"),
                F.expr(PS_AVAILQTY_EXPR).cast("long").alias("ps_availqty"),
                F.expr(PS_COST_EXPR).cast("long").alias("ps_supplycost_c"),
                "pair_revenue",
            )
            # one exchange to the bucket layout so the write emits one
            # file per bucket instead of tasks×buckets small files.
            # 32 buckets = the local core count: fewer buckets cap
            # scan parallelism at |buckets| tasks (16 buckets measured
            # +20-40% on every consumer at sf1); a cluster deployment
            # would size buckets to data volume instead
            .repartition(32, "ps_partkey")
        )
        (
            pairs.write.mode("overwrite")
            .format("parquet")
            .bucketBy(32, "ps_partkey")
            .sortBy("ps_partkey")
            .saveAsTable(name)
        )
        return name

    return spark.table(
        materialized_input(
            spark,
            "pair_store",
            sf_dir,
            ["lineitem"],
            _build,
            # catalog entries are session state an external actor can
            # DROP under an unchanged fingerprint — cheap lookup, no job
            validate=lambda n: spark.catalog.tableExists(n),
        )
    )


def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 analog: for small LARGE-type parts, the EUROPE supplier(s)
    offering the minimum supply cost — the classic correlated scalar
    subquery, decorrelated as a per-part window MIN over the eligible
    (region-restricted) partsupp rows.

    ZERO data shuffles in the query itself (r9): the pair relation
    comes from the shared bucketed _pair_store — the scan reports
    hash-partitioning on ps_partkey, which the per-part window
    consumes directly (no exchange); the qualifying-part semi-join
    prunes the pair table (part/supplier scale with SF, so neither
    carries a hard broadcast hint — AQE broadcasts them at every
    tested sf and BroadcastHashJoin preserves the partitioning; at
    100 TB it may demote to a shuffled join, the correct plan there);
    nation/region (fixed-cardinality) stay hint-broadcast;
    MIN OVER (PARTITION BY ps_partkey)
    replaces the aggregate + self-join of the textbook decorrelation
    (which would recompute the eligible frame or shuffle it twice) —
    per-part fan is bounded by suppliers-per-part, so the window key
    is uniform, not skewed; the top-100 is TakeOrderedAndProject, no
    global sort. Synthesized partsupp per PARTSUPP_CTE."""
    p_f = (
        _t(spark, sf_dir, "part")
        .filter((F.col("p_size") <= 15) & (F.col("p_type") == "LARGE"))
        .select("p_partkey", "p_type")
    )
    s = _t(spark, sf_dir, "supplier")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    n = _t(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == r.r_regionkey, "left_semi"
    )
    pairs = (
        _pair_store(spark, sf_dir)
        .select("ps_partkey", "ps_suppkey", "ps_supplycost_c")
        .join(
            p_f.select("p_partkey"),
            F.col("ps_partkey") == F.col("p_partkey"),
            "left_semi",
        )
    )
    eligible = pairs.join(s, pairs.ps_suppkey == s.s_suppkey).join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    w = Window.partitionBy("ps_partkey")
    return (
        eligible.withColumn("min_cost", F.min("ps_supplycost_c").over(w))
        .filter(F.col("ps_supplycost_c") == F.col("min_cost"))
        .join(p_f, F.col("ps_partkey") == F.col("p_partkey"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_type", "ps_supplycost_c")
        .orderBy(
            F.col("s_acctbal").desc(),
            F.col("n_name").asc(),
            F.col("s_name").asc(),
            F.col("p_partkey").asc(),
        )
        .limit(100)
    )


Q2_SQL = PARTSUPP_CTE + """
SELECT s_acctbal, s_name, n_name, p_partkey, p_type, ps_supplycost_c
FROM part, supplier, partsupp, nation, region
WHERE p_partkey = ps_partkey AND s_suppkey = ps_suppkey
  AND p_size <= 15 AND p_type = 'LARGE'
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey AND r_name = 'EUROPE'
  AND ps_supplycost_c = (
    SELECT MIN(ps2.ps_supplycost_c)
    FROM partsupp ps2, supplier s2, nation n2, region r2
    WHERE ps2.ps_partkey = p_partkey AND s2.s_suppkey = ps2.ps_suppkey
      AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
      AND r2.r_name = 'EUROPE')
ORDER BY s_acctbal DESC, n_name ASC, s_name ASC, p_partkey ASC
LIMIT 100
"""


def q20_excess_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 analog: suppliers (of one region's nations) holding more
    than half the 1996 shipped quantity of any 'small %' part they
    supply — the nested IN / correlated-quantity-threshold semi-join
    chain.

    Decorrelation FUSES the synthesized partsupp with the correlated
    SUM: the distinct (partkey, suppkey) pairs ARE the aggregate's
    group keys, so one conditional aggregate over the part-pruned
    lineitem — SUM(CASE WHEN in-date-window THEN quantity END) —
    yields the pair table and the correlated quantity in the SAME
    single shuffle (the r5 first cut materialized partsupp and the
    window sum as two aggregates joined on the pair key — double the
    shuffles for identical semantics). A NULL sum (no shipments in
    the window) is filtered, exactly the oracle's NULL-comparison
    exclusion; ps_availqty is key arithmetic applied post-aggregate;
    the threshold compares in DECIMAL so both engines are exact.
    The supplier restriction is a semi-join against the excess pairs
    (supplier-grain; no forced broadcast — millions of suppliers at
    100 TB, AQE picks broadcast when measured size allows) and a
    broadcast nation semi-join. Synthesized partsupp per
    PARTSUPP_CTE.

    Deliberately NOT rebased on _pair_store (r9): the correlated
    quantity is a DATE-WINDOWED sum, which the pair-grain store does
    not carry — reading the store would still require the windowed
    lineitem aggregate plus a pair join, i.e. MORE shuffles than this
    fused single-aggregate form, which already prunes lineitem by the
    small-part semi-join before its only exchange."""
    li = _t(spark, sf_dir, "lineitem")
    p_small = (
        _t(spark, sf_dir, "part")
        .filter(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    in_window = (
        F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp")
    ) & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    g = (
        li.select("l_partkey", "l_suppkey", "l_shipdate", "l_quantity")
        .join(
            p_small,
            F.col("l_partkey") == F.col("p_partkey"),
            "left_semi",
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(F.when(in_window, dec("l_quantity"))).alias("q"))
    )
    availqty = F.expr(PS_AVAILQTY_EXPR).cast("long")
    excess = g.filter(
        F.col("q").isNotNull() & ((availqty * 2).cast("decimal(18,2)") > F.col("q"))
    )
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation").filter(F.col("n_regionkey") == 2)
    return (
        s.join(
            excess.select(F.col("l_suppkey").alias("k")),
            s.s_suppkey == F.col("k"),
            "left_semi",
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_name")
    )


Q20_SQL = PARTSUPP_CTE + """
SELECT s_suppkey, s_name
FROM supplier
WHERE s_suppkey IN (
  SELECT ps_suppkey FROM partsupp
  WHERE ps_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
    AND CAST(2 * ps_availqty AS DECIMAL(18,2)) > (
      SELECT SUM(CAST(l_quantity AS DECIMAL(18,2))) FROM lineitem
      WHERE l_partkey = ps_partkey AND l_suppkey = ps_suppkey
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'))
  AND s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
ORDER BY s_name ASC
"""
