"""The remaining TPC-H query shapes (q8, q11, q13, q15, q16, q17, q20,
q21), adapted to the testdata schema: there is no partsupp table and no
commitdate/receiptdate/shipmode/comment columns, so those queries are
re-targeted onto the columns that exist while keeping the *plan shape*
that makes each query interesting at scale:

- q8  market-share ratio: conditional-sum ratio over a 6-way star join
- q11 scalar-subquery HAVING over a grouped value share
- q13 outer join with join-condition filter + two-level aggregation
- q15 argmax via scalar subquery against an aggregated view
- q16 distinct-count aggregation + NOT IN anti-join
- q17 correlated per-key average (pre-agg + join-back rewrite)
- q20 semi-join chain through a HAVING-filtered aggregate
- q21 multi-EXISTS on one fact table (rewritten as per-group counts)

Reference parity: the reference (`SunilKumar005/Hudi_utility`) delegates
all relational work to Spark; these queries document the general surface
our engine exposes beyond the reference's own operators (SURVEY §2.3
"absent entirely" note).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hudi_utility_spark.queries import query
from hudi_utility_spark.tables import load_table


@query(
    "q8_national_market_share",
    oracle="""
    SELECT o_year,
           ROUND(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume ELSE 0 END)
                 / SUM(volume), 4) AS mkt_share
    FROM (
        SELECT EXTRACT(year FROM o.o_orderdate) AS o_year,
               l.l_extendedprice * (1 - l.l_discount) AS volume,
               n2.n_name AS supp_nation
        FROM lineitem l
        JOIN supplier s ON s.s_suppkey = l.l_suppkey
        JOIN orders o ON o.o_orderkey = l.l_orderkey
        JOIN customer c ON c.c_custkey = o.o_custkey
        JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
        JOIN region r ON r.r_regionkey = n1.n_regionkey
        JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
        WHERE r.r_name = 'ASIA'
          AND o.o_orderdate >= DATE '1995-01-01'
          AND o.o_orderdate < DATE '1997-01-01'
    ) GROUP BY o_year
    """,
)
def q8_national_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one nation's share of ASIA-market revenue per year.
    All five dims broadcast; lineitem shuffles once (orders equi-join)
    then aggregates — the conditional-sum ratio costs no extra pass."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(o, l.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("supp_nation") == "NATION_3", volume).otherwise(0.0))
                / F.sum(volume),
                4,
            ).alias("mkt_share")
        )
    )


@query(
    "q11_important_brands",
    oracle="""
    SELECT p_brand, ROUND(SUM(p_retailprice * p_size), 2) AS value
    FROM part
    GROUP BY p_brand
    HAVING SUM(p_retailprice * p_size) >
           (SELECT SUM(p_retailprice * p_size) * 0.041 FROM part)
    """,
)
def q11_important_brands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: groups whose value exceeds a fraction of the
    global total — scalar subquery in HAVING (no partsupp: inventory
    value proxied by retailprice x size per brand). The global total is a
    one-row aggregate broadcast-cross-joined onto the grouped side, so the
    whole query is a single self-contained plan (no driver round-trip);
    the grouped side shuffles once."""
    p = load_table(spark, sf_dir, "part")
    value = F.col("p_retailprice") * F.col("p_size")
    total = p.agg(F.sum(value).alias("_total"))
    return (
        p.groupBy("p_brand")
        .agg(
            F.sum(value).alias("_raw"),
        )
        .crossJoin(F.broadcast(total))
        .filter(F.col("_raw") > F.col("_total") * 0.041)
        .select("p_brand", F.round("_raw", 2).alias("value"))
    )


@query(
    "q13_customer_distribution",
    oracle="""
    SELECT c_count, COUNT(*) AS custdist
    FROM (
        SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
        FROM customer c
        LEFT OUTER JOIN orders o
          ON o.o_custkey = c.c_custkey AND o.o_orderpriority <> '1-URGENT'
        GROUP BY c.c_custkey
    ) GROUP BY c_count
    """,
)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: distribution of customers by order count, keeping
    zero-order customers — the filter lives in the outer-join condition
    (a WHERE would silently drop the NULL-extended rows). Two
    aggregations; the second input is one row per customer, tiny."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    joined = c.join(
        o,
        (o.o_custkey == c.c_custkey) & (o.o_orderpriority != "1-URGENT"),
        "left_outer",
    )
    per_cust = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("c_count")
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@query(
    "q15_top_supplier",
    oracle="""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               SUM(l_extendedprice * (1 - l_discount)) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
        GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, ROUND(r.total_revenue, 2) AS total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) achieving the quarter's maximum revenue.
    The max is a scalar aggregate broadcast back onto the revenue
    relation via a cross-join — every stage stays fully parallel (the
    r2 version ran an empty-partitionBy window, a single-task sort even
    on the post-aggregate relation, and leaked a .cache() past the
    query). Spark plans the 1-row max side as a broadcast nested-loop
    join; lineitem is scanned twice, but both scans are shipdate-pruned
    partial-agg pipelines — cheaper at 100 TB than funneling the
    supplier relation through one task."""
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    revenue = (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1996-04-01"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "total_revenue"
        ))
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("_max_rev"))
    top = revenue.join(
        F.broadcast(max_rev), F.col("total_revenue") == F.col("_max_rev")
    ).drop("_max_rev")
    return (
        s.join(
            top,
            s.s_suppkey == F.col("supplier_no"),
        )
        .select(
            "s_suppkey", "s_name", F.round("total_revenue", 2).alias("total_revenue")
        )
    )


@query(
    "q16_supplier_count_by_part",
    oracle="""
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO'
      AND p.p_size IN (1, 5, 10, 15, 20, 25, 30, 35, 40, 45, 49)
      AND l.l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
)
def q16_supplier_count_by_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct suppliers per part attribute triple
    (lineitem stands in for partsupp), excluding flagged suppliers via a
    NOT IN → broadcast anti-join (supplier keys are never null here, so
    anti-join and NOT IN agree)."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35, 40, 45, 49)
    )
    bad = load_table(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        l.join(F.broadcast(bad), l.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "q17_small_quantity_revenue",
    oracle="""
    SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 2) AS avg_yearly,
           COUNT(*) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN (SELECT l_partkey, 0.5 * AVG(l_quantity) AS half_avg_qty
          FROM lineitem GROUP BY l_partkey) a
      ON a.l_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#5' AND l.l_quantity < a.half_avg_qty
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue lost to small-quantity orders. The correlated
    per-part average becomes a pre-aggregation joined back to the fact —
    one extra shuffle instead of a per-row subquery. At 100 TB the
    per-part aggregate is ~|part| rows, far smaller than lineitem."""
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#5")
    avg_qty = l.groupBy(F.col("l_partkey").alias("a_partkey")).agg(
        (0.5 * F.avg("l_quantity")).alias("half_avg_qty")
    )
    return (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .join(avg_qty, l.l_partkey == F.col("a_partkey"))
        .filter(F.col("l_quantity") < F.col("half_avg_qty"))
        .agg(
            F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q20_excess_shippers",
    oracle="""
    SELECT s.s_name, ROUND(s.s_acctbal, 2) AS s_acctbal
    FROM supplier s
    WHERE s.s_suppkey IN (
        SELECT l.l_suppkey
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_type = 'PROMO'
          AND l.l_shipdate >= DATE '1996-01-01'
          AND l.l_shipdate < DATE '1997-01-01'
        GROUP BY l.l_suppkey
        HAVING SUM(l.l_quantity) > 300
    )
    """,
)
def q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who shipped an excess volume of PROMO
    parts in 1996 — IN over a HAVING-filtered aggregate becomes a
    left-semi join; the aggregate output (≤ |supplier| rows) broadcasts."""
    l = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1997-01-01"))
    )
    p = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    s = load_table(spark, sf_dir, "supplier")
    heavy = (
        l.join(F.broadcast(p), l.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .filter(F.col("qty") > 300)
    )
    return s.join(
        F.broadcast(heavy), s.s_suppkey == heavy.l_suppkey, "left_semi"
    ).select("s_name", F.round("s_acctbal", 2).alias("s_acctbal"))


@query(
    "q21_waiting_suppliers",
    oracle="""
    WITH ll AS (
        SELECT l.l_orderkey, l.l_suppkey,
               CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
                    THEN 1 ELSE 0 END AS late
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        WHERE o.o_orderstatus = 'F'
    ), per_order AS (
        SELECT l_orderkey,
               COUNT(DISTINCT l_suppkey) AS n_supp,
               COUNT(DISTINCT CASE WHEN late = 1 THEN l_suppkey END) AS n_late
        FROM ll GROUP BY l_orderkey
    )
    SELECT s.s_name, COUNT(*) AS numwait
    FROM ll
    JOIN per_order po ON po.l_orderkey = ll.l_orderkey
    JOIN supplier s ON s.s_suppkey = ll.l_suppkey
    WHERE ll.late = 1 AND po.n_supp > 1 AND po.n_late = 1
    GROUP BY s.s_name
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who alone held up multi-supplier
    orders ("late" = shipped >30 days after order date; the reference
    schema has no commit/receipt dates). The classic double
    EXISTS/NOT-EXISTS self-correlation is rewritten as one per-order
    aggregate joined back — two shuffles total instead of two extra
    self-join scans of the fact table. Both consumers of the ll join
    sit in ONE plan, so ReusedExchange shares the join shuffle — no
    .cache() needed (the r2 version leaked one past the query)."""
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    s = load_table(spark, sf_dir, "supplier")
    ll = (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .select(
            "l_orderkey",
            "l_suppkey",
            F.when(
                F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 30), 1
            )
            .otherwise(0)
            .alias("late"),
        )
    )
    per_order = ll.groupBy("l_orderkey").agg(
        # collect_set: two count_distincts plan an Expand whose
        # projection order follows expression ids (see mlfit.g_test)
        F.size(F.collect_set("l_suppkey")).alias("n_supp"),
        F.size(
            F.collect_set(F.when(F.col("late") == 1, F.col("l_suppkey")))
        ).alias("n_late"),
    )
    return (
        ll.filter(F.col("late") == 1)
        .join(
            per_order.filter((F.col("n_supp") > 1) & (F.col("n_late") == 1)),
            "l_orderkey",
        )
        .join(F.broadcast(s), ll.l_suppkey == s.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )
