"""General relational surface (SURVEY §2.2-2.8, §7 step 6).

The reference's projections/filters/joins/aggregations — plus the standard
relational operators it gets implicitly from Spark — expressed as oracle-
checked queries over the TPC-H-ish corpus. Each docstring cites the
reference behavior it generalizes.

Scale notes are inline: every query is one-or-two-shuffle, small
dimensions are broadcast, filters sit directly on scans so Catalyst pushes
them into parquet.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hudi_utility_spark.tsutil import us

from hudi_utility_spark.queries import query
from hudi_utility_spark.tables import load_table


# ---------------------------------------------------------------------------
# Aggregations (A1-A4) — reference counts/validation generalized
# ---------------------------------------------------------------------------

@query(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
           ROUND(AVG(l_quantity), 4) AS avg_qty,
           ROUND(AVG(l_extendedprice), 4) AS avg_price,
           ROUND(AVG(l_discount), 4) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: the groupBy+multi-agg the reference's per-partition
    counting (pyspark_script.py:199-222) should have been — one map-side
    partial hash aggregate, no per-group jobs."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(
                F.sum(
                    F.col("l_extendedprice")
                    * (1 - F.col("l_discount"))
                    * (1 + F.col("l_tax"))
                ),
                2,
            ).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "a2_partition_counts",
    """
    SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
           COUNT(*) AS cnt
    FROM lineitem GROUP BY 1
    """,
)
def a2_partition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: per-partition row counts as ONE hash aggregate — replaces the
    reference's O(P) filter+count loop (pyspark_script.py:237-247)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.to_date(F.date_trunc("month", F.col("l_shipdate"))).alias("ship_month")
    ).agg(F.count(F.lit(1)).alias("cnt"))


@query(
    "a3_distinct_partitions",
    "SELECT DISTINCT o_orderstatus AS status FROM orders",
)
def a3_distinct_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: distinct partition values (pyspark_script.py:231-234), kept
    distributed — no collect."""
    return (
        load_table(spark, sf_dir, "orders")
        .select(F.col("o_orderstatus").alias("status"))
        .distinct()
    )


@query(
    "a4_global_counts",
    """
    SELECT (SELECT COUNT(*) FROM lineitem) AS lineitem_cnt,
           (SELECT COUNT(*) FROM orders) AS orders_cnt,
           (SELECT COUNT(*) FROM customer) AS customer_cnt
    """,
)
def a4_global_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1/A4: the reconciliation count check (pyspark_script.py:168-174)
    as a single-row cross join of aggregates."""
    li = load_table(spark, sf_dir, "lineitem").agg(F.count(F.lit(1)).alias("lineitem_cnt"))
    o = load_table(spark, sf_dir, "orders").agg(F.count(F.lit(1)).alias("orders_cnt"))
    c = load_table(spark, sf_dir, "customer").agg(F.count(F.lit(1)).alias("customer_cnt"))
    return li.crossJoin(o).crossJoin(c)


@query(
    "a5_distinct_counts",
    """
    SELECT l_returnflag,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           COUNT(DISTINCT l_partkey) AS n_parts
    FROM lineitem GROUP BY l_returnflag
    """,
)
def a5_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (the scale-friendly approx variant is
    `approx_distinct_profile`, rows-only checked)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
    )


@query(
    "a_rollup",
    """
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS cnt,
           ROUND(SUM(o_totalprice), 2) AS total
    FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def a_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets / rollup (absent in reference, SURVEY §2.4 'absent')."""
    return (
        load_table(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("o_totalprice"), 2).alias("total"),
        )
    )


@query(
    "a_cube",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*) AS cnt
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def a_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(F.count(F.lit(1)).alias("cnt"))


# ---------------------------------------------------------------------------
# Joins (J1/J2 generalized + the standard strategies)
# ---------------------------------------------------------------------------

@query(
    "j1_missing_partitions",
    """
    SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS part_month
    FROM lineitem
    EXCEPT
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) FROM orders
    """,
)
def j1_missing_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: the missing-partition diff (pyspark_script.py:225-243) as a
    filter of the one side-tagged partition aggregate."""
    from hudi_utility_spark.repair import missing_partitions

    li = load_table(spark, sf_dir, "lineitem").select(
        F.to_date(F.date_trunc("month", F.col("l_shipdate"))).alias("part_month")
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.to_date(F.date_trunc("month", F.col("o_orderdate"))).alias("part_month")
    )
    out = missing_partitions(li, o, "part_month")
    return out.select(F.col("part_month").cast("date").alias("part_month"))


@query(
    "j2_incomplete_partitions",
    """
    WITH s AS (SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS part_month,
                      COUNT(*) AS src_cnt
               FROM lineitem GROUP BY 1),
         d AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS part_month,
                      COUNT(*) AS dst_cnt
               FROM orders GROUP BY 1)
    SELECT s.part_month AS part_month, s.src_cnt, d.dst_cnt
    FROM s JOIN d USING (part_month)
    WHERE s.src_cnt <> d.dst_cnt
    """,
)
def j2_incomplete_partitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: the per-partition completeness audit (pyspark_script.py:199-222)
    as a filter of the one side-tagged partition aggregate — the
    engine's clearest win over the reference's O(P)-jobs loop."""
    from hudi_utility_spark.repair import incomplete_partitions

    li = load_table(spark, sf_dir, "lineitem").select(
        F.to_date(F.date_trunc("month", F.col("l_shipdate"))).alias("part_month")
    )
    o = load_table(spark, sf_dir, "orders").select(
        F.to_date(F.date_trunc("month", F.col("o_orderdate"))).alias("part_month")
    )
    out = incomplete_partitions(li, o, "part_month")
    return out.select(
        F.col("part_month").cast("date").alias("part_month"), "src_cnt", "dst_cnt"
    )


@query(
    "q3_top_revenue_orders",
    """
    SELECT l_orderkey,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(o_orderdate AS DATE) AS orderdate
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q3_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: selective dimension broadcast into a fact join.
    customer (~150k rows at SF100, ~MBs) broadcasts; lineitem never
    shuffles until the final top-k."""
    c = load_table(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .select(
            "l_orderkey", "revenue", F.col("o_orderdate").cast("date").alias("orderdate")
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@query(
    "q5_region_revenue",
    """
    SELECT n_name,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way join; all dimensions broadcast, the single
    shuffle is the final groupBy on n_name (25 groups)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(F.broadcast(o), li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "j_semi_join",
    """
    SELECT c_mktsegment, COUNT(*) AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment
    """,
)
def j_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS) — SURVEY §2.3 'absent' surface."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@query(
    "j_anti_join",
    """
    SELECT o_orderstatus, COUNT(*) AS n_orders
    FROM orders o
    WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
    GROUP BY o_orderstatus
    """,
)
def j_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS) — the J1 partition-diff primitive.

    Orders with no lineitems (the synthetic corpus has ~2.5% of them, so
    the oracle comparison is non-trivially non-empty; every customer has
    orders, which made the customer-side anti-join structurally empty).
    """
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_anti")
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@query(
    "j_outer_join",
    """
    SELECT n_name, COALESCE(cnt, 0) AS n_suppliers
    FROM nation LEFT JOIN (
        SELECT s_nationkey, COUNT(*) AS cnt FROM supplier GROUP BY s_nationkey
    ) s ON n_nationkey = s_nationkey
    """,
)
def j_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-outer join with aggregate-below-join (pre-aggregation shrinks
    the shuffled side before the join)."""
    n = load_table(spark, sf_dir, "nation")
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy("s_nationkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return n.join(
        F.broadcast(s), n.n_nationkey == s.s_nationkey, "left"
    ).select("n_name", F.coalesce("cnt", F.lit(0)).alias("n_suppliers"))


# ---------------------------------------------------------------------------
# Windows (SURVEY §2.5)
# ---------------------------------------------------------------------------

@query(
    "s7_latest_by_key",
    """
    SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
    """,
    sequential=True,
)
def s7_latest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: the precombine semantic (latest row per key) as a query —
    the engine's upsert resolution (write.latest_by_key)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", us("ts").alias("ts_us"))
    )


@query(
    "w_lag_lead",
    """
    SELECT event_id,
           user_id,
           LAG(value) OVER w AS prev_value,
           LEAD(value) OVER w AS next_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def w_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead ranking windows over the events table (SURVEY §2.5)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.lag("value").over(w).alias("prev_value"),
        F.lead("value").over(w).alias("next_value"),
    )


@query(
    "w_running_sum",
    """
    SELECT event_id,
           ROUND(SUM(value) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value
    FROM events
    """,
)
def w_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-bounded running aggregate (rowsBetween)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id", F.round(F.sum("value").over(w), 2).alias("running_value")
    )


@query(
    "w_rank_dense",
    """
    SELECT o_orderkey,
           RANK() OVER w AS price_rank,
           DENSE_RANK() OVER w AS price_dense_rank,
           NTILE(4) OVER w AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def w_rank_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / ntile ranking family."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        F.rank().over(w).alias("price_rank"),
        F.dense_rank().over(w).alias("price_dense_rank"),
        F.ntile(4).over(w).alias("quartile"),
    )


@query(
    "w_percent_rank_cume",
    """
    SELECT o_orderkey,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume_dist
    FROM orders
    WINDOW w AS (PARTITION BY o_orderstatus
                 ORDER BY o_totalprice, o_orderkey)
    """,
)
def w_percent_rank_cume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank / cume_dist — the relative-position window pair
    completing the ranking family (rank/dense_rank/ntile are already
    registered): percent_rank = (rank-1)/(n-1) for percentile
    scorecards, cume_dist = fraction at-or-below for empirical CDFs.
    Same status-partitioned total order as `w_rank_dense`; both are
    rounded to 6dp so the (rank-1)/(n-1) division hashes identically
    across engines."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.asc("o_totalprice"), F.asc("o_orderkey")
    )
    return o.select(
        "o_orderkey",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume_dist"),
    )


# ---------------------------------------------------------------------------
# Sorts / limits / top-k (O1-O3)
# ---------------------------------------------------------------------------

@query(
    "o1_topk_orders",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def o1_topk_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1: descending sort + top-k (app.py:243 generalized). Spark plans
    TakeOrderedAndProject — no global sort materialization."""
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


@query(
    "o2_pagination",
    """
    SELECT o_orderkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10 OFFSET 10
    """,
)
def o2_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: server-side pagination (the reference paginates client-side in
    React; Spark 3.4+ has a real offset)."""
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .offset(10)
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Set operations (SURVEY §2.7)
# ---------------------------------------------------------------------------

@query(
    "set_union_distinct",
    """
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey FROM supplier
    """,
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """union-distinct: the reference's set(missing + incomplete)
    (pyspark_script.py:257)."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


@query(
    "set_except",
    """
    SELECT DISTINCT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier
    """,
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """except: set-difference semantics of the missing-partition diff."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.distinct().exceptAll(s.distinct())


@query(
    "set_intersect",
    """
    SELECT DISTINCT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """intersect: the 'present in both' probe of J2."""
    c = load_table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load_table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


# ---------------------------------------------------------------------------
# Filters / predicates (P2-P6)
# ---------------------------------------------------------------------------

@query(
    "p_filter_pack",
    """
    SELECT o_orderpriority, COUNT(*) AS cnt
    FROM orders
    WHERE o_orderstatus = 'F'
      AND o_orderpriority IN ('1-URGENT', '2-HIGH')
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY o_orderpriority
    """,
)
def p_filter_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2 equality + P3 isin + P5 timestamp-range predicates, all pushed
    to the parquet scan (check PushedFilters in explain)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(
            (F.col("o_orderstatus") == "F")
            & F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
            & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "p4_like_filter",
    """
    SELECT p_partkey, p_name FROM part
    WHERE p_name LIKE '%red%' AND p_type LIKE 'SMALL%'
    """,
)
def p4_like_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: substring/LIKE predicates (app.py:233 transaction-id LIKE).

    '%red%' appears in the synthetic part names ('%green%' does not), so
    the pushed-down LIKE conjunction returns rows to hash-compare.
    """
    p = load_table(spark, sf_dir, "part")
    return p.filter(
        F.col("p_name").like("%red%") & F.col("p_type").like("SMALL%")
    ).select("p_partkey", "p_name")


@query(
    "p6_regex_partition_selector",
    """
    SELECT DISTINCT 'ship_month=' || strftime(date_trunc('month', l_shipdate), '%Y-%m')
        AS partition_path
    FROM lineitem
    WHERE regexp_matches('ship_month=' || strftime(date_trunc('month', l_shipdate), '%Y-%m'),
                         '^ship_month=1996')
    """,
)
def p6_regex_partition_selector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6+F2: hive-style partition-path formatting + the regex mode
    selector (pyspark_script.py:386-389) — partitions whose formatted path
    matches the bootstrap regex."""
    li = load_table(spark, sf_dir, "lineitem")
    path = F.concat_ws(
        "=",
        F.lit("ship_month"),
        F.date_format(F.date_trunc("month", F.col("l_shipdate")), "yyyy-MM"),
    )
    return (
        li.select(path.alias("partition_path"))
        .filter(F.col("partition_path").rlike("^ship_month=1996"))
        .distinct()
    )


# ---------------------------------------------------------------------------
# Scalar functions (F1-F10)
# ---------------------------------------------------------------------------

@query(
    "f_scalar_pack",
    """
    SELECT o_orderkey,
           o_orderkey % 7 AS key_mod,
           UPPER(o_orderstatus) AS status_upper,
           CAST(o_orderdate AS DATE) + 1 AS next_day,
           CAST(strftime(o_orderdate, '%Y') AS INT) AS order_year,
           SUBSTRING(o_orderpriority, 1, 1) AS priority_code,
           'orders' || '-' || CAST(o_orderkey AS VARCHAR) AS synthetic_id
    FROM orders
    WHERE o_orderkey <= 100
    """,
)
def f_scalar_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6/F7/F9/F10 scalar surface: casts, date arithmetic (app.py:236-241),
    string ops, transaction-id synthesis (app.py:209)."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 100)
    return o.select(
        "o_orderkey",
        (F.col("o_orderkey") % 7).alias("key_mod"),
        F.upper("o_orderstatus").alias("status_upper"),
        F.date_add(F.col("o_orderdate").cast("date"), 1).alias("next_day"),
        F.year("o_orderdate").alias("order_year"),
        F.substring("o_orderpriority", 1, 1).alias("priority_code"),
        F.concat_ws("-", F.lit("orders"), F.col("o_orderkey").cast("string")).alias(
            "synthetic_id"
        ),
    )


@query(
    "f3_partition_path_extract",
    """
    SELECT part_path,
           regexp_extract(part_path, '([^/]+)=([^/]+)', 1) AS part_field,
           regexp_extract(part_path, '([^/]+)=([^/]+)', 2) AS part_value
    FROM (
        SELECT DISTINCT 'event_type=' || event_type AS part_path FROM events
    )
    """,
)
def f3_partition_path_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: the ([^/]+)=([^/]+) partition-discovery regex (app.py:448-451)
    as a column expression."""
    ev = load_table(spark, sf_dir, "events")
    path = F.concat_ws("=", F.lit("event_type"), F.col("event_type"))
    rx = r"([^/]+)=([^/]+)"
    return (
        ev.select(path.alias("part_path"))
        .distinct()
        .select(
            "part_path",
            F.regexp_extract("part_path", rx, 1).alias("part_field"),
            F.regexp_extract("part_path", rx, 2).alias("part_value"),
        )
    )


@query(
    "f8_json_extract",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           COUNT(*) AS cnt,
           ROUND(SUM(value), 2) AS total_value
    FROM events GROUP BY 1
    """,
)
def f8_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: JSON decode of the reference's transaction_data payloads
    (app.py:213) — structured extraction from a JSON string column."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            (F.get_json_object("props", "$.k").cast("bigint") % 10).alias("k_bucket"),
            "value",
        )
        .groupBy("k_bucket")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


@query(
    "f5_error_classification",
    """
    SELECT CASE
             WHEN event_type = 'error' AND value > 150 THEN 'critical'
             WHEN event_type = 'error' THEN 'recoverable'
             ELSE 'ok'
           END AS error_class,
           COUNT(*) AS cnt
    FROM events GROUP BY 1
    """,
)
def f5_error_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: the substring-dispatch error classifier (app.py:296-305) as a
    CASE/WHEN chain over the events stream."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.select(
            F.when(
                (F.col("event_type") == "error") & (F.col("value") > 150), "critical"
            )
            .when(F.col("event_type") == "error", "recoverable")
            .otherwise("ok")
            .alias("error_class")
        )
        .groupBy("error_class")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "a_pivot_returnflag",
    """
    SELECT l_linestatus,
           ROUND(SUM(CASE WHEN l_returnflag = 'A' THEN l_quantity END), 2) AS a_qty,
           ROUND(SUM(CASE WHEN l_returnflag = 'N' THEN l_quantity END), 2) AS n_qty,
           ROUND(SUM(CASE WHEN l_returnflag = 'R' THEN l_quantity END), 2) AS r_qty
    FROM lineitem GROUP BY l_linestatus
    """,
)
def a_pivot_returnflag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: return-flag categories to columns (explicit value list —
    without it Spark runs an extra distinct job to discover them)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )
    return p.select(
        "l_linestatus",
        F.col("A").alias("a_qty"),
        F.col("N").alias("n_qty"),
        F.col("R").alias("r_qty"),
    )


@query(
    "a_unpivot_stack",
    """
    SELECT l_linestatus,
           l_returnflag,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem GROUP BY l_linestatus, l_returnflag
    """,
)
def a_unpivot_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot via stack(): melts the pivoted frame back to long form —
    pivot∘unpivot must reproduce the plain group-by (the oracle)."""
    li = load_table(spark, sf_dir, "lineitem")
    p = (
        li.groupBy("l_linestatus")
        .pivot("l_returnflag", ["A", "N", "R"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )
    return p.selectExpr(
        "l_linestatus",
        "stack(3, 'A', A, 'N', N, 'R', R) AS (l_returnflag, sum_qty)",
    ).filter(F.col("sum_qty").isNotNull())


_SQL_REVENUE_RANK = """
    WITH rev AS (
        SELECT n.n_name AS nation, r.r_name AS region,
               ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
        FROM {lineitem} l
        JOIN {orders} o ON l.l_orderkey = o.o_orderkey
        JOIN {customer} c ON o.o_custkey = c.c_custkey
        JOIN {nation} n ON c.c_nationkey = n.n_nationkey
        JOIN {region} r ON n.n_regionkey = r.r_regionkey
        GROUP BY n.n_name, r.r_name
    )
    SELECT region, nation, revenue,
           RANK() OVER (PARTITION BY region ORDER BY revenue DESC) AS rnk
    FROM rev
"""


@query(
    "sql_api_revenue_rank",
    _SQL_REVENUE_RANK.format(
        lineitem="lineitem",
        orders="orders",
        customer="customer",
        nation="nation",
        region="region",
    ),
    sequential=True,
)
def sql_api_revenue_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``spark.sql`` entry point end-to-end: temp views over the
    corpus + ONE SQL text (5-way join, aggregate, ranking window) that
    is byte-identical modulo view names to the DuckDB oracle — proving
    the engine's SQL surface plans the same semantics as its DataFrame
    surface (Catalyst compiles both to the same broadcast-dim +
    fact-shuffle physical plan)."""
    for t in ("lineitem", "orders", "customer", "nation", "region"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"{t}_sqlapi")
    return spark.sql(
        _SQL_REVENUE_RANK.format(
            lineitem="lineitem_sqlapi",
            orders="orders_sqlapi",
            customer="customer_sqlapi",
            nation="nation_sqlapi",
            region="region_sqlapi",
        )
    )


_SQL_RECURSIVE_SPINE = """
WITH RECURSIVE bounds AS (
    SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS m0,
           CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) AS m1
    FROM {orders}
),
spine(month) AS (
    SELECT CAST(add_months(m0, i) AS DATE)
    FROM bounds LATERAL VIEW explode(sequence(0, 3)) t AS i
    WHERE add_months(m0, i) <= m1
    UNION ALL
    SELECT CAST(add_months(month, 4) AS DATE) FROM spine, bounds
    WHERE add_months(month, 4) <= m1
),
monthly AS (
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 4) AS revenue
    FROM {orders} GROUP BY 1
)
SELECT s.month,
       COALESCE(m.n_orders, 0) AS n_orders,
       COALESCE(m.revenue, 0.0) AS revenue,
       m.month IS NULL AS is_gap
FROM spine s LEFT JOIN monthly m ON s.month = m.month
"""


@query(
    "sql_api_recursive_spine",
    """
    WITH RECURSIVE bounds AS (
        SELECT CAST(date_trunc('month', MIN(o_orderdate)) AS DATE) AS m0,
               CAST(date_trunc('month', MAX(o_orderdate)) AS DATE) AS m1
        FROM orders
    ),
    spine(month) AS (
        SELECT CAST(m0 + CAST(t.i AS INT) * INTERVAL 1 MONTH AS DATE)
        FROM bounds, (SELECT unnest(range(4)) AS i) t
        WHERE m0 + CAST(t.i AS INT) * INTERVAL 1 MONTH <= m1
        UNION ALL
        SELECT CAST(month + INTERVAL 4 MONTH AS DATE) FROM spine, bounds
        WHERE month + INTERVAL 4 MONTH <= m1
    ),
    monthly AS (
        SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
               COUNT(*) AS n_orders,
               ROUND(SUM(o_totalprice), 4) AS revenue
        FROM orders GROUP BY 1
    )
    SELECT s.month,
           COALESCE(m.n_orders, 0) AS n_orders,
           COALESCE(m.revenue, 0.0) AS revenue,
           m.month IS NULL AS is_gap
    FROM spine s LEFT JOIN monthly m ON s.month = m.month
    """,
    sequential=True,
)
def sql_api_recursive_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 RECURSIVE CTE end-to-end: a calendar month spine
    generated by self-referencing SQL (UNION ALL recursion, FOUR months
    per level from a 4-row seed — same spine, a quarter of the
    recursion micro-steps, and the data's ~7-year window sits well
    under the default 100-level `spark.sql.cteRecursionLevelLimit`), left-joined to the
    monthly rollup to surface silent gap months — the completeness
    readout `ts_gaps_islands` gives for hours, here written in the
    portable SQL idiom and byte-identical modulo view names to the
    DuckDB oracle. Exercises the engine's newest SQL-surface feature
    under the value-hash gate."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView(
        "orders_rspine"
    )
    return spark.sql(_SQL_RECURSIVE_SPINE.format(orders="orders_rspine"))
