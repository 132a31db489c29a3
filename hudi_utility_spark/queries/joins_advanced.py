"""As-of / range-join queries over the events table (north-star time
series operators; no counterpart in the reference — SURVEY §2.3 notes the
reference has zero DataFrame joins).

Oracles: DuckDB has native ASOF JOIN; the range join oracle is a plain
inequality self-join — small at sf0.01, while the Spark side uses the
scalable bucketed plan from ops/joins.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hudi_utility_spark.tsutil import us

from hudi_utility_spark.ops.joins import asof_join, range_self_join
from hudi_utility_spark.queries import query
from hudi_utility_spark.tables import load_table


def _last_click(
    spark: SparkSession, sf_dir: str, tolerance_seconds: int | None = None
) -> DataFrame:
    """Every purchase with its user's latest click at or before it
    (``event_id_right``, ``ts_right``), backward as-of."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    clicks = ev.filter(F.col("event_type") == "click")
    return asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols=["event_id"],
        tolerance_seconds=tolerance_seconds,
    )


@query(
    "asof_purchase_click",
    oracle="""
    SELECT p.event_id AS purchase_id,
           p.user_id AS user_id,
           epoch_us(p.ts) AS purchase_us,
           c.event_id AS click_id,
           epoch_us(c.ts) AS click_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_purchase_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: each purchase matched to the user's latest
    preceding (or simultaneous) click. Single shuffle on user_id via the
    union-tag + last(ignorenulls) window plan."""
    joined = _last_click(spark, sf_dir)
    return joined.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        us("ts").alias("purchase_us"),
        F.col("event_id_right").alias("click_id"),
        us("ts_right").alias("click_us"),
    )


@query(
    "asof_tolerance_join",
    oracle="""
    SELECT p.event_id AS purchase_id,
           p.user_id AS user_id,
           CASE WHEN epoch_us(p.ts) - epoch_us(c.ts) <= 600000000
                THEN c.event_id END AS click_id,
           CASE WHEN epoch_us(p.ts) - epoch_us(c.ts) <= 600000000
                THEN epoch_us(c.ts) END AS click_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
)
def asof_tolerance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed as-of (kdb ``wj`` shape): like ``asof_purchase_click``
    but matches older than 10 minutes are nulled out — the
    ``tolerance_seconds`` arm of the union-tag window plan. The oracle
    applies the same tolerance as a post-filter on DuckDB's native ASOF."""
    joined = _last_click(spark, sf_dir, tolerance_seconds=600)
    return joined.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("event_id_right").alias("click_id"),
        us("ts_right").alias("click_us"),
    )


@query(
    "range_join_close_events",
    oracle="""
    SELECT a.user_id AS user_id,
           a.event_id AS id_a,
           b.event_id AS id_b,
           epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_id < b.event_id
     AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 300000000
    """,
)
def range_join_close_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Proximity self-join: event pairs of the same user within 5
    minutes, via the bucketed bin-join (equi-join on (user, bucket), no
    theta-join cross product)."""
    ev = load_table(spark, sf_dir, "events")
    return range_self_join(
        ev, on=["user_id"], ts_col="ts", max_gap_seconds=300, id_col="event_id"
    )


@query(
    "j_bloom_reduced_join",
    """
    SELECT p.p_partkey AS partkey,
           CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(18,4))) AS DOUBLE) AS revenue
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_type LIKE 'PROMO%'
    GROUP BY p.p_partkey
    """,
)
def j_bloom_reduced_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filtered fact⋈dim join (ops/joins.py `bloom_reduce_join`):
    the PROMO part keys compress into a broadcast Bloom word array; the
    fact is membership-filtered map-side before the join shuffle. No
    false negatives, so the oracle is simply the plain join — false
    positives cost only shuffle bytes, which the join then discards."""
    from hudi_utility_spark.ops.joins import bloom_reduce_join

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    promo = (
        load_table(spark, sf_dir, "part")
        .filter(F.col("p_type").like("PROMO%"))
        .select("p_partkey")
    )
    joined = bloom_reduce_join(li, promo, "l_partkey", "p_partkey")
    # Sum in DECIMAL so the aggregate is order-independent (float
    # summation order differs between engines and can straddle a
    # rounding boundary); cast back to DOUBLE for a stable output type.
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return joined.groupBy(F.col("p_partkey").alias("partkey")).agg(
        F.sum(rev).cast("double").alias("revenue")
    )


@query(
    "asof_forward_next_click",
    oracle="""
    SELECT p.event_id AS purchase_id,
           p.user_id AS user_id,
           epoch_us(p.ts) AS purchase_us,
           c.event_id AS click_id,
           epoch_us(c.ts) AS click_us
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id AND p.ts <= c.ts
    """,
)
def asof_forward_next_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: each purchase joined to the user's FIRST click
    at-or-after it (next-event attribution). Same union-tag
    single-shuffle plan as the backward join, scanning the per-key
    order newest-first (`ops/joins.asof_join(direction="forward")`);
    the oracle is DuckDB's native forward ASOF."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id"), F.col("ts"), F.col("user_id")
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_event"), F.col("ts"), F.col("user_id")
    )
    joined = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        right_cols=["click_event"],
        direction="forward",
    )
    return joined.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        us("ts").alias("purchase_us"),
        F.col("click_event_right").alias("click_id"),
        us("ts_right").alias("click_us"),
    )


@query(
    "asof_nearest_join",
    oracle="""
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    c AS (SELECT * FROM events WHERE event_type = 'click'),
    b AS (
        SELECT p.event_id, p.user_id, p.ts,
               MAX(c.ts) AS bts
        FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts <= p.ts
        GROUP BY p.event_id, p.user_id, p.ts
    ),
    f AS (
        SELECT p.event_id, MIN(c.ts) AS fts
        FROM p LEFT JOIN c ON c.user_id = p.user_id AND c.ts >= p.ts
        GROUP BY p.event_id
    ),
    chosen AS (
        SELECT b.event_id AS purchase_id, b.user_id,
               CASE
                 WHEN b.bts IS NULL AND f.fts IS NULL THEN NULL
                 WHEN f.fts IS NULL THEN 'backward'
                 WHEN b.bts IS NULL THEN 'forward'
                 WHEN epoch_us(b.ts) - epoch_us(b.bts)
                      <= epoch_us(f.fts) - epoch_us(b.ts) THEN 'backward'
                 ELSE 'forward'
               END AS direction,
               CASE
                 WHEN b.bts IS NULL AND f.fts IS NULL THEN NULL
                 WHEN f.fts IS NULL THEN epoch_us(b.ts) - epoch_us(b.bts)
                 WHEN b.bts IS NULL THEN epoch_us(f.fts) - epoch_us(b.ts)
                 ELSE LEAST(epoch_us(b.ts) - epoch_us(b.bts),
                            epoch_us(f.fts) - epoch_us(b.ts))
               END AS gap_us
        FROM b JOIN f ON b.event_id = f.event_id
    )
    SELECT purchase_id, user_id, direction, CAST(gap_us AS BIGINT) AS gap_us
    FROM chosen
    """,
)
def asof_nearest_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST as-of join (either direction, ties -> backward): each
    purchase matched to the user's temporally closest click — the
    sensor-fusion / feature-join semantics pandas `merge_asof
    (direction='nearest')` ships and plain backward/forward as-of
    cannot express. Composition of the two existing single-shuffle
    as-of passes (backward then forward over the backward output — the
    second pass reuses the same user-key partitioning), with the winner
    chosen by exact integer-µs gap comparison — engine-identical, no
    float arithmetic anywhere."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase")
    clicks = ev.filter(F.col("event_type") == "click")
    b = asof_join(
        purchases,
        clicks,
        on=["user_id"],
        right_cols=["event_id"],
        suffix="_b",
    )
    bf = asof_join(
        b,
        clicks,
        on=["user_id"],
        right_cols=["event_id"],
        direction="forward",
        suffix="_f",
    )
    gap_b = us(F.col("ts")) - us(F.col("ts_b"))
    gap_f = us(F.col("ts_f")) - us(F.col("ts"))
    direction = (
        F.when(F.col("ts_b").isNull() & F.col("ts_f").isNull(), F.lit(None))
        .when(F.col("ts_f").isNull(), F.lit("backward"))
        .when(F.col("ts_b").isNull(), F.lit("forward"))
        .when(gap_b <= gap_f, F.lit("backward"))
        .otherwise(F.lit("forward"))
    )
    gap = (
        F.when(F.col("ts_b").isNull() & F.col("ts_f").isNull(), F.lit(None))
        .when(F.col("ts_f").isNull(), gap_b)
        .when(F.col("ts_b").isNull(), gap_f)
        .otherwise(F.least(gap_b, gap_f))
    )
    return bf.select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        direction.alias("direction"),
        gap.cast("long").alias("gap_us"),
    )
