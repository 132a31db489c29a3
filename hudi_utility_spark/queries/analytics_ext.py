"""Analytics extensions: array higher-order functions, time-series
gap-filling, statistical aggregates, and string-distance joins.

These widen the relational surface beyond SURVEY §2.8 ("Absent: math
beyond casts, array/map functions") with the operators a training-data
pipeline needs over embedding and event tables — each expressed with
built-in JVM functions (no Python UDFs) and oracle-checked against
DuckDB.

Scale notes: every query is one-or-two-shuffle; the HOF pack is
map-only until the final small aggregate; the gap-fill calendar is
generated per-group with `sequence` (rows ∝ groups × hours, never a
driver-side loop); the levenshtein join is a broadcast cross-join over
a dimension table (25 rows) — never run it on a fact table without a
blocking key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hudi_utility_spark.tsutil import us

from hudi_utility_spark.ops import phash
from hudi_utility_spark.queries import query
from hudi_utility_spark.tables import load_table


# Cramer's-rule solve of the 3x3 normal equations over the sums in CTE s
# (n, s1, s2, sy, s11, s12, s22, s1y, s2y): determinant, then b0..b2
_OLS2_DET = """d AS (
        SELECT *,
               n * (s11 * s22 - s12 * s12)
               - s1 * (s1 * s22 - s12 * s2)
               + s2 * (s1 * s12 - s11 * s2) AS det
        FROM s
    )"""
_OLS2_SOLVE = _OLS2_DET + """,
    b AS (
        SELECT *,
               (sy * (s11 * s22 - s12 * s12)
                - s1 * (s1y * s22 - s12 * s2y)
                + s2 * (s1y * s12 - s11 * s2y)) / det AS b0,
               (n * (s1y * s22 - s12 * s2y)
                - sy * (s1 * s22 - s12 * s2)
                + s2 * (s1 * s2y - s1y * s2)) / det AS b1,
               (n * (s11 * s2y - s1y * s12)
                - s1 * (s1 * s2y - s1y * s2)
                + sy * (s1 * s12 - s11 * s2)) / det AS b2
        FROM d
    )"""
# ... with each weight rounded to 6dp before it is applied (both engines
# then predict identical values)
_OLS2_SOLVE_ROUNDED = _OLS2_DET + """,
    b AS (
        SELECT ROUND((sy * (s11 * s22 - s12 * s12)
                - s1 * (s1y * s22 - s12 * s2y)
                + s2 * (s1y * s12 - s11 * s2y)) / det, 6) AS b0,
               ROUND((n * (s1y * s22 - s12 * s2y)
                - sy * (s1 * s22 - s12 * s2)
                + s2 * (s1 * s2y - s1y * s2)) / det, 6) AS b1,
               ROUND((n * (s11 * s2y - s1y * s12)
                - s1 * (s1 * s2y - s1y * s2)
                + sy * (s1 * s12 - s11 * s2)) / det, 6) AS b2
        FROM d
    )"""

# documents: length y ~ word count x1 + longest-token length x2
_DOC_LEN_FEATS = r"""feats AS (
        SELECT doc_id, CAST(n_chars AS DOUBLE) AS y,
               CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE)
                   AS x1,
               CAST(list_max(list_transform(
                   string_split_regex(trim(text), '\s+'),
                   t -> len(t))) AS DOUBLE) AS x2
        FROM documents
    )"""


def _doc_len_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of `_DOC_LEN_FEATS`."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.trim(F.col("text")), r"\s+")
    return d.select(
        "doc_id",
        F.col("n_chars").cast("double").alias("y"),
        F.size(toks).cast("double").alias("x1"),
        F.array_max(F.transform(toks, lambda t: F.length(t)))
        .cast("double")
        .alias("x2"),
    )


def _li_baskets(spark: SparkSession, li: DataFrame) -> DataFrame:
    """Per-order sorted item baskets in ONE pinned-width shuffle:
    repartition by the groupBy key FIRST — the aggregate then reuses
    that partitioning (no second exchange; guide §2.4 "two operations
    keyed the same way share one exchange"), and the explicit width
    keeps the downstream per-basket pair explosion cluster-wide instead
    of AQE-coalesced to a few byte-sized partitions (the arrays are
    compact but the explosion is compute-bound; measured 2.2x on the
    edge build at sf0.1, and the fused shape another ~1.5x vs
    groupBy-then-repartition)."""
    return (
        li.select("l_orderkey", "l_partkey")
        .repartition(
            spark.sparkContext.defaultParallelism, "l_orderkey"
        )
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
    )


def _basket_pairs(
    baskets: DataFrame, a: str = "src", b: str = "dst"
) -> DataFrame:
    """Every i<j part pair inside each ``_li_baskets`` basket as columns
    *a* < *b*: a map-side HOF explosion, quadratic per basket and never
    a corpus self-join. Duplicate pairs across baskets are kept."""
    pair_structs = F.flatten(
        F.transform(
            F.col("ps"),
            lambda x, i: F.transform(
                F.slice(F.col("ps"), i + F.lit(2), F.size(F.col("ps"))),
                lambda y: F.struct(x.alias(a), y.alias(b)),
            ),
        )
    )
    return baskets.select(F.explode(pair_structs).alias("p")).select(
        f"p.{a}", f"p.{b}"
    )


# distinct co-purchased part pairs u < v (items: distinct order-part rows)
_PART_PAIRS = """pairs AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    )"""

# the collapsed hourly series (mean event value per hour index since the
# epoch) the time-series oracles start from; _BY_TYPE keeps event_type
_HOURLY = """hourly AS (
        SELECT CAST(epoch_us(date_trunc('hour', ts)) / 3600000000 AS BIGINT)
                   AS hidx,
               AVG(value) AS y
        FROM events GROUP BY 1
    )"""
_HOURLY_BY_TYPE = """hourly AS (
        SELECT event_type,
               CAST(epoch_us(date_trunc('hour', ts)) / 3600000000 AS BIGINT)
                   AS hidx,
               AVG(value) AS y
        FROM events GROUP BY 1, 2
    )"""


def _hidx():
    """Hours since the epoch of the event's hour: the series index."""
    return (
        F.unix_micros(F.date_trunc("hour", F.col("ts")))
        / F.lit(3_600_000_000)
    ).cast("long")


def _hourly_means(spark: SparkSession, sf_dir: str, *keys: str) -> DataFrame:
    """Spark twin of `_HOURLY`, or of `_HOURLY_BY_TYPE` when *keys* is
    ``("event_type",)``: ``(*keys, hidx, y)`` from one hash aggregate
    over the events, so every window downstream runs over hours."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("hidx", _hidx())
        .groupBy(*keys, "hidx")
        .agg(F.avg("value").alias("y"))
    )


# ... numbered 1..n per event type in time order (t, n), for recursions
_HOURLY_SERIES = _HOURLY_BY_TYPE + """,
    idx AS (
        SELECT event_type, y,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hidx) AS t,
               COUNT(*) OVER (PARTITION BY event_type) AS n
        FROM hourly
    )"""


def _hourly_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of `_HOURLY_SERIES`: each event type's hourly means as
    one time-ordered array ``ys`` (the recursions fold over it)."""
    return (
        _hourly_means(spark, sf_dir, "event_type")
        .groupBy("event_type")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("hidx", "y"))),
                lambda s: s["y"],
            ).alias("ys")
        )
    )


def _lag_pairs(hourly: DataFrame, mu: DataFrame) -> tuple[DataFrame, DataFrame]:
    """The ACF build over an `_hourly_means` series: the series centred
    on *mu*'s ``mu`` (``dv``, checkpointed: read three times), every
    pair of its hours 1..12 apart by an EQUIJOIN on ``hidx + lag``
    (``lag, dv, dv2``), and the centred sum of squares ``den``."""
    dev = (
        hourly.crossJoin(F.broadcast(mu))
        .select("hidx", (F.col("y") - F.col("mu")).alias("dv"))
        .localCheckpoint(eager=False)
    )
    den = dev.agg(F.sum(F.col("dv") * F.col("dv")).alias("den"))
    a = dev.select(
        "hidx",
        "dv",
        F.explode(F.sequence(F.lit(1), F.lit(12))).alias("lag"),
    ).withColumn("tgt", F.col("hidx") + F.col("lag"))
    pairs = a.join(
        dev.select(F.col("hidx").alias("tgt"), F.col("dv").alias("dv2")),
        "tgt",
    )
    return pairs, den


# ... with each type's centred 25-hour moving-average trend (RANGE frame
# keyed by hour index, so gaps count as hours)
_HOURLY_TRENDED = _HOURLY_BY_TYPE + """,
    t AS (
        SELECT event_type, hidx, y,
               AVG(y) OVER (PARTITION BY event_type ORDER BY hidx
                            RANGE BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS trend
        FROM hourly
    )"""


def _hourly_trended(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of `_HOURLY_TRENDED`: ``(event_type, hidx, y, trend)``."""
    from pyspark.sql import Window

    w = Window.partitionBy("event_type").orderBy("hidx").rangeBetween(-12, 12)
    return _hourly_means(spark, sf_dir, "event_type").withColumn(
        "trend", F.avg("y").over(w)
    )


# each event's successor in its user's (ts, event_id) order
_NEXT_EVENT = """ordered AS (
        SELECT user_id, event_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        FROM events
    )"""


def _transition_counts(e: DataFrame) -> DataFrame:
    """Spark twin of `_NEXT_EVENT`, counted: ``(from_type, to_type,
    n_transitions)`` over consecutive events of each user."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = e.withColumn("next_type", F.lead("event_type").over(w))
    return (
        ordered.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


# daily order revenue per day index since the epoch: the business series
_DAILY_REVENUE = """daily AS (
        SELECT date_diff('day', DATE '1970-01-01',
                         CAST(date_trunc('day', o_orderdate) AS DATE))
                   AS didx,
               ROUND(SUM(o_totalprice), 4) AS y
        FROM orders GROUP BY 1
    )"""


def _didx():
    """Days since the epoch of the order date, as ``didx``."""
    return F.datediff(
        F.to_date(F.date_trunc("day", F.col("o_orderdate"))),
        F.lit("1970-01-01").cast("date"),
    ).alias("didx")


def _daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of `_DAILY_REVENUE`: ``(didx, y)``."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy(_didx()).agg(
        F.round(F.sum("o_totalprice"), 4).alias("y")
    )


@query(
    "arr_hof_stats",
    """
    SELECT label,
           ROUND(AVG(len(list_filter(embedding, x -> x > 0))), 4) AS avg_pos_dims,
           ROUND(AVG(list_max(embedding)), 4) AS avg_max_comp,
           ROUND(AVG(list_sum(list_transform(embedding, x -> ABS(CAST(x AS DOUBLE))))), 3)
               AS avg_l1_norm,
           len(MIN(embedding)) AS dims
    FROM embeddings
    GROUP BY label
    """,
)
def arr_hof_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array higher-order functions (transform / filter / aggregate /
    array_max) over the embedding column — the JVM-side path for vector
    feature stats; no Python crosses the row boundary.

    Generalizes SURVEY §2.8's noted absence of array math; the same
    `F.aggregate` shape is the dot-product kernel used by
    `sim_bruteforce_topk` (ops/similarity.py). Map-only until the final
    per-label aggregate (one shuffle over ≤ #labels groups)."""
    emb = load_table(spark, sf_dir, "embeddings")
    pos = F.size(F.filter("embedding", lambda x: x > 0))
    l1 = F.aggregate(
        "embedding", F.lit(0.0), lambda acc, x: acc + F.abs(x.cast("double"))
    )
    return (
        emb.groupBy("label")
        .agg(
            F.round(F.avg(pos), 4).alias("avg_pos_dims"),
            F.round(F.avg(F.array_max("embedding")), 4).alias("avg_max_comp"),
            F.round(F.avg(l1), 3).alias("avg_l1_norm"),
            F.size(F.min("embedding")).alias("dims"),
        )
    )


@query(
    "ts_hourly_gapfill",
    """
    WITH d AS (
        SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS c
        FROM events GROUP BY 1, 2
    ),
    b AS (SELECT event_type, MIN(hr) AS mn, MAX(hr) AS mx FROM d GROUP BY 1),
    cal AS (
        SELECT event_type, UNNEST(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hr
        FROM b
    )
    SELECT cal.event_type,
           epoch_us(cal.hr) AS hr_us,
           COALESCE(d.c, 0) AS cnt
    FROM cal LEFT JOIN d USING (event_type, hr)
    """,
)
def ts_hourly_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resample with gap-filling: per event type, hourly
    counts over a dense generated calendar, empty hours filled with 0.

    The calendar is built distributed — `sequence(min, max, 1 hour)`
    per group then `explode` — never a driver-side date loop. At 100 TB
    the left join broadcasts the calendar side (groups × hours ≪ facts
    aggregated); here counts are pre-aggregated first so the join is
    calendar × hourly-aggregate, both tiny. Timestamps cross the oracle
    compare as unix-microsecond bigints (driver hashes stringified
    values; tz-render differences would false-negative)."""
    ev = load_table(spark, sf_dir, "events")
    counts = (
        ev.withColumn("hr", F.date_trunc("hour", F.col("ts")))
        .groupBy("event_type", "hr")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cal = (
        counts.groupBy("event_type")
        .agg(F.min("hr").alias("mn"), F.max("hr").alias("mx"))
        .select(
            "event_type",
            F.explode(
                F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))
            ).alias("hr"),
        )
    )
    return (
        cal.join(counts, ["event_type", "hr"], "left")
        .select(
            "event_type",
            us("hr").alias("hr_us"),
            F.coalesce("c", F.lit(0)).alias("cnt"),
        )
    )


@query(
    "stat_correlation_profile",
    """
    SELECT l_returnflag,
           ROUND(corr(l_quantity, l_extendedprice), 4) AS qty_price_corr,
           ROUND(stddev_samp(l_quantity), 4) AS qty_stddev,
           ROUND(var_samp(l_discount), 6) AS disc_var,
           ROUND(covar_samp(l_quantity, l_discount), 4) AS qty_disc_covar
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def stat_correlation_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (corr / stddev / variance / covariance) —
    the column-profiling pass a data-quality stage runs before training.

    All are single-pass partial-aggregable (sum/sum-of-squares/
    sum-of-products decompositions), so Catalyst does map-side partials:
    one shuffle of O(groups) rows regardless of input size."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 4).alias(
                "qty_price_corr"
            ),
            F.round(F.stddev_samp("l_quantity"), 4).alias("qty_stddev"),
            F.round(F.var_samp("l_discount"), 6).alias("disc_var"),
            F.round(F.covar_samp("l_quantity", "l_discount"), 4).alias(
                "qty_disc_covar"
            ),
        )
    )


@query(
    "f_levenshtein_pairs",
    """
    SELECT a.n_name AS name_a, b.n_name AS name_b,
           levenshtein(a.n_name, b.n_name) AS dist
    FROM nation a, nation b
    WHERE a.n_name < b.n_name AND levenshtein(a.n_name, b.n_name) <= 5
    """,
)
def f_levenshtein_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance self-join over a dimension table: nation-name pairs
    within levenshtein distance 5 — the fuzzy-matching primitive behind
    entity resolution.

    Safe here because nation is 25 rows (broadcast nested-loop cross
    join, 625 comparisons). The fact-table version of this op must block
    first — that's exactly what `dedup_jaccard_pairs` (PPJoin prefix
    filter) and `dedup_minhash_lsh` (band buckets) do; this query is the
    exact kernel they bound."""
    nat = load_table(spark, sf_dir, "nation").select("n_name")
    a = nat.alias("a")
    b = nat.alias("b")
    dist = F.levenshtein(F.col("a.n_name"), F.col("b.n_name"))
    return (
        a.join(F.broadcast(b), F.col("a.n_name") < F.col("b.n_name"))
        .select(
            F.col("a.n_name").alias("name_a"),
            F.col("b.n_name").alias("name_b"),
            dist.alias("dist"),
        )
        .filter(F.col("dist") <= 5)
    )


@query(
    "ev_funnel_conversion",
    """
    WITH v AS (
        SELECT user_id, MIN(ts) AS t FROM events
        WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
        SELECT e.user_id, MIN(e.ts) AS t
        FROM events e JOIN v ON e.user_id = v.user_id
        WHERE e.event_type = 'click' AND e.ts > v.t
        GROUP BY e.user_id
    ),
    p AS (
        SELECT e.user_id, MIN(e.ts) AS t
        FROM events e JOIN c ON e.user_id = c.user_id
        WHERE e.event_type = 'purchase' AND e.ts > c.t
        GROUP BY e.user_id
    )
    SELECT stage, n_users,
           ROUND(CAST(n_users AS DOUBLE)
                 / NULLIF(lag(n_users) OVER (ORDER BY stage_ord), 0), 6)
               AS conversion
    FROM (
        SELECT 1 AS stage_ord, 'view' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM v
        UNION ALL
        SELECT 2, 'click', CAST(COUNT(*) AS BIGINT) FROM c
        UNION ALL
        SELECT 3, 'purchase', CAST(COUNT(*) AS BIGINT) FROM p
    ) ORDER BY stage_ord
    """,
)
def ev_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered event funnel over the events table: users whose first
    view precedes a click precedes a purchase; per-stage user counts and
    step conversion rates. Three keyed aggregates joined on user_id —
    high-cardinality keys, no hot partitions; the final 3-row ranking
    window is driver-sized. The standard product-analytics readout a
    timeline/events store must answer."""
    e = load_table(spark, sf_dir, "events")
    v = (
        e.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_view"))
    )
    c = (
        e.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_click"))
    )
    p = (
        e.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t_click"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t_purchase"))
    )
    from pyspark.sql import Window

    stages = (
        v.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(1).alias("stage_ord"), F.lit("view").alias("stage"), "n_users"
        )
        .unionByName(
            c.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(2).alias("stage_ord"), F.lit("click").alias("stage"), "n_users"
            )
        )
        .unionByName(
            p.agg(F.count(F.lit(1)).alias("n_users")).select(
                F.lit(3).alias("stage_ord"), F.lit("purchase").alias("stage"), "n_users"
            )
        )
    )
    # single-task by construction, but over the THREE-row stage relation
    # (one row per funnel stage), never events (SCALE.md "Bounded
    # single-partition windows")
    w = Window.orderBy("stage_ord")
    return (
        stages.withColumn(
            "conversion",
            F.round(
                F.col("n_users").cast("double")
                / F.nullif(F.lag("n_users").over(w), F.lit(0)),
                6,
            ),
        )
        .orderBy("stage_ord")
        .select("stage", "n_users", "conversion")
    )


@query(
    "ev_retention_cohorts",
    """
    WITH first_seen AS (
        SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS act_week
        FROM events
    )
    SELECT f.cohort_week,
           CAST((a.act_week - f.cohort_week) / 7 AS INTEGER) AS week_offset,
           CAST(COUNT(DISTINCT f.user_id) AS BIGINT) AS n_users
    FROM first_seen f JOIN activity a ON f.user_id = a.user_id
    GROUP BY f.cohort_week, CAST((a.act_week - f.cohort_week) / 7 AS INTEGER)
    """,
)
def ev_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by first-seen week,
    counted in each subsequent active week — the second standard
    product-analytics readout next to the funnel. Two keyed aggregates
    on user_id plus one keyed join; the (cohort, offset) matrix is
    weeks², driver-tiny. Week truncation is ISO-Monday in both engines;
    offsets compared as exact day multiples of 7."""
    e = load_table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("act_week")
    ).distinct()
    return (
        first_seen.join(activity, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (F.datediff("act_week", "cohort_week") / 7)
            .cast("int")
            .alias("week_offset"),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_users"))
    )


@query(
    "ev_top_transitions",
    """
    WITH """ + _NEXT_EVENT + """
    SELECT event_type AS from_type, next_type AS to_type,
           COUNT(*) AS n_transitions
    FROM ordered WHERE next_type IS NOT NULL
    GROUP BY event_type, next_type
    ORDER BY n_transitions DESC, from_type, to_type
    LIMIT 10
    """,
)
def ev_top_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-path analysis: the 10 most common consecutive event-type
    transitions (lead window per user, deterministic tie order on
    (ts, event_id)). One user-keyed window shuffle + one (from, to)
    aggregate — high-cardinality keys, no hot partition; the standard
    behavioral-flow readout of an events store."""
    e = load_table(spark, sf_dir, "events")
    return (
        _transition_counts(e)
        .orderBy(F.desc("n_transitions"), "from_type", "to_type")
        .limit(10)
    )


@query(
    "co_purchase_pairs",
    """
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    )
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           COUNT(*) AS n_orders
    FROM items a JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY a.l_partkey, b.l_partkey
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT 20
    """,
)
def co_purchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-occurrence mining: the 20 part pairs most often bought in the
    same order. Baskets are assembled with ONE order-keyed aggregate
    (``collect_set`` — bounded by basket size, ≤7 lines in TPC-H) and
    the pair explosion is a map-side HOF over the sorted basket array
    (i<j slices ⇒ part_a < part_b by construction): two shuffles total
    (basket build, pair count + TakeOrdered). The previous self-join
    formulation re-shuffled the distinct item relation twice more to
    co-locate the join. Per-basket quadratic, never corpus-quadratic —
    the same shape computes token co-occurrence or doc-pair co-citation
    at corpus scale."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = _li_baskets(spark, li)
    return (
        _basket_pairs(baskets, "part_a", "part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(20)
    )


@query(
    "stat_anomaly_flags",
    """
    WITH stats AS (
        SELECT event_type, AVG(value) AS mu, STDDEV_SAMP(value) AS sigma
        FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN ABS((e.value - s.mu) / NULLIF(s.sigma, 0)) > 3
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies,
           ROUND(MAX(ABS((e.value - s.mu) / NULLIF(s.sigma, 0))), 4) AS max_abs_z
    FROM events e JOIN stats s ON e.event_type = s.event_type
    GROUP BY e.event_type
    """,
)
def stat_anomaly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-score outlier audit per event type: per-group mean/stddev
    (one aggregate), broadcast back onto the fact, flag |z| > 3. The
    two-pass shape — tiny stats relation broadcast into a map-side
    scoring pass — is the standard distributed anomaly scan; no window
    over the fact, no per-group sort."""
    e = load_table(spark, sf_dir, "events")
    stats = e.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )
    z = F.abs(
        (F.col("value") - F.col("mu")) / F.nullif(F.col("sigma"), F.lit(0))
    )
    return (
        e.join(F.broadcast(stats), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum((z > 3).cast("long")).alias("n_anomalies"),
            F.round(F.max(z), 4).alias("max_abs_z"),
        )
    )


@query(
    "ts_ohlc_resample",
    """
    WITH keyed AS (
        SELECT event_type,
               CAST(floor(epoch(ts) / 3600) * 3600 * 1000000 AS BIGINT)
                   AS window_start_us,
               value,
               lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
                 || lpad(CAST(event_id AS VARCHAR), 12, '0') AS ord
        FROM events
    )
    SELECT event_type, window_start_us,
           ROUND(arg_min(value, ord), 2) AS open,
           ROUND(MAX(value), 2) AS high,
           ROUND(MIN(value), 2) AS low,
           ROUND(arg_max(value, ord), 2) AS close,
           COUNT(*) AS n_events
    FROM keyed GROUP BY event_type, window_start_us
    """,
)
def ts_ohlc_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC downsampling: per (event_type, hourly window) the opening /
    highest / lowest / closing value — the canonical time-series
    resample, as ONE hash aggregate using min_by/max_by over a
    deterministic (ts, event_id) ordering key (no window function, no
    per-group sort; ties on ts break on event_id identically in both
    engines via the padded string key)."""
    from hudi_utility_spark.tsutil import us

    e = load_table(spark, sf_dir, "events")
    ord_key = F.concat(
        F.lpad(us(F.col("ts")).cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    keyed = e.select(
        "event_type",
        F.window("ts", "1 hour").alias("win"),
        "value",
        ord_key.alias("ord"),
    )
    return (
        keyed.groupBy("event_type", "win")
        .agg(
            F.round(F.min_by("value", "ord"), 2).alias("open"),
            F.round(F.max("value"), 2).alias("high"),
            F.round(F.min("value"), 2).alias("low"),
            F.round(F.max_by("value", "ord"), 2).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "event_type",
            us(F.col("win.start")).alias("window_start_us"),
            "open", "high", "low", "close", "n_events",
        )
    )


@query(
    "ml_group_linfit",
    """
    SELECT event_type AS "group",
           COUNT(*) AS n,
           ROUND(regr_slope(value,
                 (epoch_us(ts) - 1704067200000000) / 3600000000.0), 5) AS slope,
           ROUND(regr_intercept(value,
                 (epoch_us(ts) - 1704067200000000) / 3600000000.0), 5) AS intercept,
           ROUND(regr_r2(value,
                 (epoch_us(ts) - 1704067200000000) / 3600000000.0), 5) AS r2
    FROM events WHERE value IS NOT NULL
    GROUP BY event_type
    """,
)
def ml_group_linfit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group model fitting through the grouped-map `applyInPandas`
    surface (ops/mlfit.py): OLS of event value over event-time hours,
    one Arrow batch per event type. The kernel is the closed-form fit —
    deliberately SQL-expressible (`regr_slope`/`regr_intercept`/
    `regr_r2`) so the Python-kernel path itself sits under the oracle
    hash gate; a sklearn/torch fit drops into the same plumbing."""
    from hudi_utility_spark.ops.mlfit import group_linear_fit

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    xs = ((us("ts") - F.lit(1704067200000000)) / F.lit(3.6e9)).alias("x_hours")
    fit = group_linear_fit(
        ev.select("event_type", xs, F.col("value")),
        group_col="event_type",
        x_col="x_hours",
        y_col="value",
    )
    return fit.select(
        F.col("group"),
        "n",
        F.round("slope", 5).alias("slope"),
        F.round("intercept", 5).alias("intercept"),
        F.round("r2", 5).alias("r2"),
    )


def _pagerank_oracle(iters: int = 3) -> str:
    """Unrolled power-iteration SQL mirroring ops/graph.py::pagerank
    term-for-term (same multiply-by-reciprocal form, all-DOUBLE
    arithmetic) over the symmetrized co-purchase graph."""
    sql = """
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    edges AS (
      SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
    ),
    deg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg
            FROM edges GROUP BY src),
    nodes AS (SELECT src AS node FROM deg),
    r0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM nodes)
    """
    for i in range(1, iters + 1):
        sql += f""",
    c{i} AS (
      SELECT e.dst, SUM(r.rank * (CAST(1.0 AS DOUBLE) / d.deg)) AS m
      FROM edges e
      JOIN r{i - 1} r ON e.src = r.node
      JOIN deg d ON e.src = d.src
      GROUP BY e.dst
    ),
    r{i} AS (
      SELECT n.node,
             CAST(0.15 AS DOUBLE)
             + CAST(0.85 AS DOUBLE) * COALESCE(c{i}.m, CAST(0 AS DOUBLE))
               AS rank
      FROM nodes n LEFT JOIN c{i} ON n.node = c{i}.dst
    )"""
    return sql + f"""
    SELECT node AS part, ROUND(rank, 6) AS rank FROM r{iters}
    """


@query("graph_pagerank_parts", _pagerank_oracle(3))
def graph_pagerank_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the co-purchase graph (parts linked when
    they appear in the same order), 3 power-iteration rounds at damping
    0.85 — `ops/graph.py::pagerank`. Edges are built with the
    co_purchase basket-HOF shape (one order-keyed aggregate + map-side
    i<j pair explosion + one distinct, then a map-only reverse union —
    no self-join); inside pagerank the cached weighted edges join a
    broadcast rank vector per round. The oracle replays the identical
    arithmetic as unrolled SQL."""
    from hudi_utility_spark.ops.graph import pagerank

    li = load_table(spark, sf_dir, "lineitem")
    baskets = _li_baskets(spark, li)
    pairs = _basket_pairs(baskets).distinct()
    # src < dst by construction; the reversed union is distinct for free
    edges = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # the co-purchase graph is symmetrized, so every node receives mass
    # each round: full_in_coverage collapses the per-round nodes
    # left-join + second broadcast into a projection of the aggregate
    ranks = pagerank(edges, iters=3, damping=0.85, full_in_coverage=True)
    return ranks.select(
        F.col("node").alias("part"), F.round("rank", 6).alias("rank")
    )


@query(
    "ts_rolling_features",
    """
    SELECT event_id, user_id, ts_us,
           COUNT(*) OVER w AS n_1h,
           ROUND(SUM(value) OVER w, 2) AS sum_1h,
           ROUND(MAX(value) OVER w, 2) AS max_1h
    FROM (
      SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events
    )
    WINDOW w AS (
      PARTITION BY user_id ORDER BY ts_us
      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
    )
    """,
)
def ts_rolling_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing-1-hour activity features at every event
    (count / sum / max over a RANGE frame keyed by epoch-µs) — the
    point-in-time feature-engineering shape behind fraud/abuse scoring
    and train-time feature backfill. One key shuffle; the three
    aggregates share a single range frame, state per task is one
    sliding window over each user's ordered events — no self-join, no
    per-row subquery, scales linearly in events."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", us("ts").alias("ts_us"), "value"
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts_us",
        F.count("*").over(w).alias("n_1h"),
        F.round(F.sum("value").over(w), 2).alias("sum_1h"),
        F.round(F.max("value").over(w), 2).alias("max_1h"),
    )


@query(
    "stat_trimmed_mean",
    """
    WITH ranked AS (
      SELECT event_type, value,
             ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events WHERE value IS NOT NULL
    )
    SELECT event_type,
           MAX(n) AS n,
           ROUND(AVG(value) FILTER (
             rn > FLOOR(n * 0.1) AND rn <= n - FLOOR(n * 0.1)), 4)
             AS trimmed_mean
    FROM ranked GROUP BY event_type
    """,
)
def stat_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10%-trimmed mean of value per event type via a GROUPED_AGG
    pandas UDF (ops/mlfit.py `trimmed_mean_agg`) — the custom-
    vectorized-aggregate arm of the UDF surface, oracle-checked against
    the rank-window trim in SQL (ties at the cut share a value, so the
    mean is cut-invariant)."""
    from hudi_utility_spark.ops.mlfit import trimmed_mean_agg

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    out = trimmed_mean_agg(ev, "event_type", "value", trim=0.1)
    return out.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round("trimmed_mean", 4).alias("trimmed_mean"),
    )


@query(
    "ev_user_similarity",
    """
    WITH seq AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS prev
      FROM events
    ), grams AS (
      SELECT DISTINCT user_id, prev || '>' || event_type AS bg
      FROM seq WHERE prev IS NOT NULL
    ), totals AS (
      SELECT user_id, COUNT(*) AS n FROM grams GROUP BY user_id
    ), pairs AS (
      SELECT a.user_id AS user_a, b.user_id AS user_b, COUNT(*) AS common
      FROM grams a JOIN grams b
        ON a.bg = b.bg AND a.user_id < b.user_id
      GROUP BY a.user_id, b.user_id
    )
    SELECT p.user_a, p.user_b, p.common,
           ROUND(p.common / (ta.n + tb.n - p.common), 6) AS jaccard
    FROM pairs p
    JOIN totals ta ON p.user_a = ta.user_id
    JOIN totals tb ON p.user_b = tb.user_id
    ORDER BY p.common / (ta.n + tb.n - p.common) DESC, p.user_a, p.user_b
    LIMIT 50
    """,
)
def ev_user_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-sequence similarity (trajectory top-k reduced to
    transition shingles): each user's event stream becomes a distinct
    set of `prev>next` transition bigrams; pair similarity is set
    Jaccard; top-50 pairs.

    Scale plan — SIGNATURE-level, not user-level. With a
    low-cardinality event alphabet (|types|² possible bigrams; 25
    here) nearly every user shares nearly every gram, so a user-level
    gram-keyed self-join degenerates to all-pairs (~25·C(users,2) join
    rows — O(users²) at 100× users). Instead:

    1. collapse users to their transition-set SIGNATURE (sorted gram
       array). Signature cardinality is bounded by the number of
       distinct behavioral profiles (≤ 2^|grams|, saturates as users
       grow: 598 sigs for 1500 users at sf0.1) — so every later stage
       is bounded by profiles, never users².
    2. gram-keyed self-join over DISTINCT signatures → per-pair shared
       gram count (`common` = |intersection|, one row per shared gram).
    3. same-signature groups (≥2 users) are Jaccard-1 pairs by
       definition — no join needed.
    4. expand the top sig-pairs back to user pairs, capping each member
       list at the 51 smallest user_ids: any pair among the 50
       lexicographically-smallest (user_a, user_b) of a sig-pair has
       both endpoints within its side's 51 smallest members (replacing
       a larger member with a smaller same-side one always yields a
       lexicographically smaller pair), so the cap is EXACT for the
       top-50 while bounding the expansion at 51² rows per sig-pair.
    5. global top-50 via TakeOrderedAndProject (no global sort).
    """
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    grams = (
        ev.withColumn("prev", F.lag("event_type").over(w))
        .filter(F.col("prev").isNotNull())
        .select(
            "user_id",
            F.concat_ws(">", F.col("prev"), F.col("event_type")).alias("bg"),
        )
        .distinct()
    )
    # user -> signature; signature -> (id, members, n). md5 of the
    # joined gram list is the sig key (128-bit: collision-safe).
    user_sigs = grams.groupBy("user_id").agg(
        F.sort_array(F.collect_set("bg")).alias("sig")
    )
    sig_groups = (
        user_sigs.groupBy("sig")
        .agg(
            F.sort_array(F.collect_list("user_id")).alias("members"),
            F.count("*").alias("cnt"),
        )
        .withColumn("sid", F.md5(F.concat_ws("\x01", "sig")))
        .withColumn("n", F.size("sig"))
        .withColumn("members", F.slice("members", 1, 51))
    )
    # Reused 4× below (gram explode, both member joins, same-sig
    # pairs): persist for the execution, but — cache-scope discipline —
    # the RETURNED plan must not depend on the cached blocks, so the
    # final top-50 is materialized before return and the cache
    # explicitly unpersisted (a localize() of sig_groups instead
    # measured ~2× slower: the 4 consumers then each re-explode a
    # LocalRelation without cached-partition reuse or AQE stats).
    sig_groups = sig_groups.persist()
    sig_grams = sig_groups.select("sid", "n", F.explode("sig").alias("bg"))
    a, b = sig_grams.alias("a"), sig_grams.alias("b")
    cross = (
        a.join(
            b,
            (F.col("a.bg") == F.col("b.bg"))
            & (F.col("a.sid") < F.col("b.sid")),
        )
        .groupBy(
            F.col("a.sid").alias("sid_a"),
            F.col("b.sid").alias("sid_b"),
        )
        .agg(
            F.count("*").alias("common"),
            F.first("a.n").alias("na"),
            F.first("b.n").alias("nb"),
        )
        .withColumn(
            "_j",
            F.col("common")
            / (F.col("na") + F.col("nb") - F.col("common")),
        )
    )
    ma = sig_groups.select(F.col("sid").alias("sid_a"), F.col("members").alias("mem_a"))
    mb = sig_groups.select(F.col("sid").alias("sid_b"), F.col("members").alias("mem_b"))
    cross_pairs = (
        cross.join(ma, "sid_a")
        .join(mb, "sid_b")
        .select(
            F.explode("mem_a").alias("u"),
            F.col("mem_b"),
            "common",
            "_j",
        )
        .select(
            F.col("u"), F.explode("mem_b").alias("v"), "common", "_j"
        )
        .select(
            F.least("u", "v").alias("user_a"),
            F.greatest("u", "v").alias("user_b"),
            "common",
            "_j",
        )
    )
    same_pairs = (
        sig_groups.filter(F.col("cnt") >= 2)
        .select(
            F.col("members"),
            F.col("n").alias("common"),
            F.lit(1.0).alias("_j"),
        )
        .select(F.explode("members").alias("u"), "members", "common", "_j")
        .select(
            F.col("u"), F.explode("members").alias("v"), "common", "_j"
        )
        .filter(F.col("u") < F.col("v"))
        .select(
            F.col("u").alias("user_a"),
            F.col("v").alias("user_b"),
            "common",
            "_j",
        )
    )
    result = (
        cross_pairs.unionByName(same_pairs)
        .select(
            "user_a",
            "user_b",
            "common",
            F.round("_j", 6).alias("jaccard"),
            "_j",
        )
        .orderBy(F.desc("_j"), "user_a", "user_b")
        .limit(50)
        .drop("_j")
    )
    # materialize the 50-row answer, release the cache, hand back a
    # local relation — the caller's collect costs nothing and no
    # storage blocks outlive the call
    rows = result.collect()
    sig_groups.unpersist()
    return spark.createDataFrame(rows, result.schema)


_TREES = [
    {
        "feature": "value",
        "threshold": 120.0,
        "left": {
            "feature": "hr",
            "threshold": 12.0,
            "left": {"leaf": -0.4},
            "right": {"leaf": 0.1},
        },
        "right": {
            "feature": "u7",
            "threshold": 3.0,
            "left": {"leaf": 0.7},
            "right": {"leaf": 1.2},
        },
    },
    {
        "feature": "hr",
        "threshold": 18.0,
        "left": {"feature": "value", "threshold": 60.0,
                 "left": {"leaf": -0.2}, "right": {"leaf": 0.3}},
        "right": {"leaf": 0.5},
    },
]


def _ensemble_oracle() -> str:
    from hudi_utility_spark.ops.mlfit import tree_sql

    score = " + ".join(f"({tree_sql(t)})" for t in _TREES)
    return f"""
    WITH feats AS (
      SELECT event_id, value, user_id % 7 AS u7,
             CAST(EXTRACT(hour FROM ts) AS DOUBLE) AS hr
      FROM events
    )
    SELECT event_id, ROUND({score}, 6) AS score FROM feats
    """


@query("ml_tree_ensemble_score", _ensemble_oracle())
def ml_tree_ensemble_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tree-ensemble inference as ONE fused Catalyst expression
    (ops/mlfit.py `compile_tree`/`ensemble_score`): a two-tree GBM-style
    scorer over derived features runs at scan bandwidth inside
    whole-stage codegen — no UDF, no Python worker, no model server.
    The oracle is the same trees compiled to SQL CASE by the same
    spec, so branch structure and literal arithmetic are mirrored."""
    from hudi_utility_spark.ops.mlfit import ensemble_score

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "value",
        (F.col("user_id") % 7).alias("u7"),
        F.hour("ts").cast("double").alias("hr"),
    )
    return ensemble_score(ev, _TREES).select(
        "event_id", F.round("score", 6).alias("score")
    )


# -- iterative model training as dataflow -------------------------------

_LOGREG_LR, _LOGREG_ITERS, _LOGREG_Q = 0.5, 3, 6


def _logreg_oracle() -> str:
    """The exact GD schedule of ``ops/mlfit.py::logistic_fit`` unrolled
    into nested CTEs: one CTE per iteration, each aggregating over the
    feature relation crossed with the previous iteration's 1-row weight
    relation. Expression shapes/orders mirror the Spark side so the
    per-iteration ROUND quantization keeps both engines bit-aligned."""
    feats = """
feats AS (
  SELECT n_chars/1000.0 AS x1,
         len(string_split(text, ' '))/200.0 AS x2,
         n_chars/CAST(len(string_split(text, ' ')) AS DOUBLE)/10.0 AS x3,
         CAST(lang = 'en' AS INT) AS y
  FROM documents
)"""
    lr, q = _LOGREG_LR, _LOGREG_Q
    ctes = [feats]
    for i in range(1, _LOGREG_ITERS + 1):
        src = "w0" if i == 1 else f"it{i - 1}"
        ctes.append(f"""
it{i} AS (
  SELECT ROUND(MAX(wb) - {lr}*SUM(p - y)/COUNT(*), {q}) AS b,
         ROUND(MAX(ww1) - {lr}*SUM((p - y)*x1)/COUNT(*), {q}) AS w1,
         ROUND(MAX(ww2) - {lr}*SUM((p - y)*x2)/COUNT(*), {q}) AS w2,
         ROUND(MAX(ww3) - {lr}*SUM((p - y)*x3)/COUNT(*), {q}) AS w3
  FROM (SELECT f.*, w.b AS wb, w.w1 AS ww1, w.w2 AS ww2, w.w3 AS ww3,
               1.0/(1.0 + EXP(-(w.b + w.w1*f.x1 + w.w2*f.x2 + w.w3*f.x3))) AS p
        FROM feats f CROSS JOIN {src} w)
)""")
    last = f"it{_LOGREG_ITERS}"
    return (
        "WITH w0 AS (SELECT 0.0 AS b, 0.0 AS w1, 0.0 AS w2, 0.0 AS w3), "
        + ", ".join(ctes)
        + f"""
SELECT 'bias' AS feature, b AS weight FROM {last}
UNION ALL SELECT 'x1', w1 FROM {last}
UNION ALL SELECT 'x2', w2 FROM {last}
UNION ALL SELECT 'x3', w3 FROM {last}"""
    )


@query("ml_logreg_quality", _logreg_oracle())
def ml_logreg_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed logistic-regression training (is-English from three
    cheap text stats) via ``ops/mlfit.py::logistic_fit`` — iterative ML
    as pure dataflow: 3 GD iterations, each ONE map-side-partial
    aggregate over the corpus plus a 4-scalar collect. The oracle is
    the identical schedule unrolled as SQL CTEs, agreeing bit-for-bit
    (verified at sf0.001/0.01/0.1) thanks to per-iteration weight
    quantization."""
    from hudi_utility_spark.ops.mlfit import logistic_fit

    d = load_table(spark, sf_dir, "documents")
    feats = d.select(
        (F.col("n_chars") / F.lit(1000.0)).alias("x1"),
        (F.size(F.split(F.col("text"), " ")) / F.lit(200.0)).alias("x2"),
        (F.col("n_chars") / F.size(F.split(F.col("text"), " ")) / F.lit(10.0)).alias(
            "x3"
        ),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    w = logistic_fit(
        feats,
        ["x1", "x2", "x3"],
        "y",
        iters=_LOGREG_ITERS,
        lr=_LOGREG_LR,
        round_to=_LOGREG_Q,
    )
    return spark.createDataFrame(
        list(zip(["bias", "x1", "x2", "x3"], w)), "feature string, weight double"
    )


@query(
    "graph_triangles_parts",
    """
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    """ + _PART_PAIRS + """,
    tri AS (
      SELECT p1.u AS a, p1.v AS b, p2.v AS c
      FROM pairs p1
      JOIN pairs p2 ON p1.u = p2.u AND p1.v < p2.v
      JOIN pairs p3 ON p3.u = p1.v AND p3.v = p2.v
    )
    SELECT node, COUNT(*) AS triangles
    FROM (SELECT unnest([a, b, c]) AS node FROM tri)
    GROUP BY node
    """,
)
def graph_triangles_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle participation in the co-purchase graph
    (ops/graph.py::triangle_counts, degree-oriented wedge closure —
    Σ outdeg² = O(|E|^1.5) wedge work regardless of hub degrees,
    where the oracle's textbook id-ordered 3-way self-join is the
    correct-but-unscalable twin). Same basket-HOF edge build as
    `graph_pagerank_parts`."""
    from hudi_utility_spark.ops.graph import triangle_counts

    li = load_table(spark, sf_dir, "lineitem")
    baskets = _li_baskets(spark, li)
    pairs = _basket_pairs(baskets).distinct()
    return triangle_counts(pairs, assume_canonical=True).select(
        F.col("node").alias("node"), "triangles"
    )


@query(
    "ev_session_trajectories",
    """
    WITH marked AS (
        SELECT user_id, event_id, ts, event_type,
               CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
                    THEN 1 ELSE 0 END AS gap_break
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sessioned AS (
        SELECT *, CAST(SUM(gap_break) OVER (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_seq
        FROM marked
    )
    SELECT user_id, session_seq,
           string_agg(event_type, '>' ORDER BY ts, event_id) AS trajectory,
           COUNT(*) AS n_steps,
           CAST(epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS BIGINT) AS duration_us
    FROM sessioned
    GROUP BY user_id, session_seq
    HAVING COUNT(*) >= 3
    """,
)
def ev_session_trajectories(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral trajectories for sequence-model training: each ≥3-step
    session becomes one ordered `a>b>c` action string with step count
    and duration — the events→training-sequences extraction an
    agent/recommender pipeline runs (the behavioral analogue of
    document chunking). Ordering inside the aggregate is made
    deterministic the portable way: events are pre-sorted into
    per-(user, session) struct arrays keyed by (ts, event_id), then
    joined into the string — no collect_list-order assumption crosses
    the engine boundary. Two keyed window passes + one aggregate, all
    partitioned by user; no single-partition stage."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (
        us(F.col("ts")) - us(F.lag("ts").over(w)) > 1_800_000_000
    ).cast("int")
    sess = ev.withColumn(
        "session_seq",
        F.sum(F.coalesce(gap, F.lit(0))).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return (
        sess.groupBy("user_id", "session_seq")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                us(F.col("ts")).alias("t"),
                                F.col("event_id").alias("e"),
                                F.col("event_type").alias("a"),
                            )
                        )
                    ),
                    lambda s: s["a"],
                ),
                ">",
            ).alias("trajectory"),
            F.count(F.lit(1)).alias("n_steps"),
            (us(F.max("ts")) - us(F.min("ts"))).alias("duration_us"),
        )
        .filter(F.col("n_steps") >= 3)
    )


@query(
    "ev_cuped_adjusted",
    """
    WITH per_user AS (
        SELECT user_id,
               SUM(CASE WHEN ts <  TIMESTAMP '2024-01-16 00:00:00'
                        THEN value ELSE 0 END) AS pre,
               SUM(CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00'
                        THEN value ELSE 0 END) AS post
        FROM events GROUP BY user_id
    ),
    g AS (
        SELECT covar_pop(pre, post) / var_pop(pre) AS theta, AVG(pre) AS mu
        FROM per_user
    ),
    adj AS (
        SELECT u.user_id, u.post,
               u.post - g.theta * (u.pre - g.mu) AS adjusted
        FROM per_user u, g
    )
    SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
           COUNT(*) AS users,
           ROUND(AVG(post), 4) AS mean_post,
           ROUND(AVG(adjusted), 4) AS mean_adjusted,
           ROUND(stddev_pop(post), 4) AS sd_post,
           ROUND(stddev_pop(adjusted), 4) AS sd_adjusted
    FROM adj GROUP BY 1 ORDER BY variant
    """,
)
def ev_cuped_adjusted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction for experiment metrics: per-user pre-
    and post-period totals (one conditional aggregate), the pooled
    adjustment coefficient theta = cov(pre,post)/var(pre) collected as
    ONE scalar row (centroid idiom), then the adjusted metric
    post - theta*(pre - mean_pre) is a map-only expression. Per-variant
    means and stddevs show the variance the covariate removed —
    sd_adjusted < sd_post is the whole point of CUPED. Two shuffles
    total (user rollup, variant rollup) at any scale."""
    ev = load_table(spark, sf_dir, "events")
    cutoff = "2024-01-16 00:00:00"
    per_user = ev.groupBy("user_id").agg(
        F.sum(
            F.when(F.col("ts") < cutoff, F.col("value")).otherwise(0.0)
        ).alias("pre"),
        F.sum(
            F.when(F.col("ts") >= cutoff, F.col("value")).otherwise(0.0)
        ).alias("post"),
    )
    g = per_user.agg(
        (F.covar_pop("pre", "post") / F.var_pop("pre")).alias("theta"),
        F.avg("pre").alias("mu"),
    ).first()
    adj = per_user.withColumn(
        "adjusted",
        F.col("post") - F.lit(float(g["theta"])) * (F.col("pre") - F.lit(float(g["mu"]))),
    )
    return (
        adj.withColumn(
            "variant",
            F.when(F.col("user_id") % 2 == 0, F.lit("A")).otherwise(F.lit("B")),
        )
        .groupBy("variant")
        .agg(
            F.count(F.lit(1)).alias("users"),
            F.round(F.avg("post"), 4).alias("mean_post"),
            F.round(F.avg("adjusted"), 4).alias("mean_adjusted"),
            F.round(F.stddev_pop("post"), 4).alias("sd_post"),
            F.round(F.stddev_pop("adjusted"), 4).alias("sd_adjusted"),
        )
        .orderBy("variant")
    )


@query(
    "ts_seasonal_decompose",
    """
    WITH """ + _HOURLY_TRENDED + """
    SELECT event_type,
           CAST(hidx % 24 AS INT) AS hod,
           ROUND(AVG(y - trend), 6) AS seasonal,
           CAST(COUNT(*) AS BIGINT) AS n_hours
    FROM t GROUP BY 1, 2
    """,
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical-decomposition seasonal profile (STL-lite): hourly
    series -> centered 25h moving-average trend (RANGE frame keyed by
    hour index, gap-correct on both engines) -> hour-of-day means of
    the detrended residual, per event type. The series is
    pre-aggregated (types x hours << facts) before any window and the
    trend frame partitions by type — no global window anywhere; at
    100 TB the only fact-sized work is the first hash aggregate."""
    t = _hourly_trended(spark, sf_dir)
    return (
        t.groupBy(
            "event_type", (F.col("hidx") % 24).cast("int").alias("hod")
        )
        .agg(
            F.round(F.avg(F.col("y") - F.col("trend")), 6).alias("seasonal"),
            F.count(F.lit(1)).alias("n_hours"),
        )
    )


@query(
    "ev_markov_transitions",
    """
    WITH """ + _NEXT_EVENT + """,
    counts AS (
        SELECT event_type AS from_type, next_type AS to_type,
               COUNT(*) AS c
        FROM ordered WHERE next_type IS NOT NULL
        GROUP BY 1, 2
    ),
    states AS (SELECT COUNT(DISTINCT event_type) AS k FROM events),
    rows_t AS (SELECT from_type, SUM(c) AS row_total FROM counts GROUP BY 1)
    SELECT c.from_type, c.to_type, c.c AS n_transitions,
           ROUND((c.c + 1.0) / (r.row_total + s.k), 6) AS p_smoothed
    FROM counts c JOIN rows_t r USING (from_type), states s
    """,
)
def ev_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over user event paths with
    add-one (Laplace) smoothing — the behavioral model behind
    next-action prediction and anomalous-flow scoring. One user-keyed
    lead window + one matrix-sized aggregate; smoothing constants are
    scalar broadcasts."""
    e = load_table(spark, sf_dir, "events")
    counts = _transition_counts(e)
    k = e.agg(F.count_distinct("event_type").alias("k"))
    row_t = counts.groupBy("from_type").agg(
        F.sum("n_transitions").alias("row_total")
    )
    return (
        counts.join(F.broadcast(row_t), "from_type")
        .crossJoin(F.broadcast(k))
        .select(
            "from_type",
            "to_type",
            "n_transitions",
            F.round(
                (F.col("n_transitions") + 1.0)
                / (F.col("row_total") + F.col("k")),
                6,
            ).alias("p_smoothed"),
        )
    )


@query(
    "ml_ols_normal_eq",
    """
    WITH s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               SUM(l_quantity) AS s1, SUM(l_discount) AS s2,
               SUM(l_extendedprice) AS sy,
               SUM(l_quantity * l_quantity) AS s11,
               SUM(l_quantity * l_discount) AS s12,
               SUM(l_discount * l_discount) AS s22,
               SUM(l_quantity * l_extendedprice) AS s1y,
               SUM(l_discount * l_extendedprice) AS s2y,
               SUM(l_extendedprice * l_extendedprice) AS syy
        FROM lineitem
    ),
    """ + _OLS2_SOLVE + """
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(b0, 6) AS b0, ROUND(b1, 6) AS b1, ROUND(b2, 6) AS b2,
           ROUND(1 - (syy - 2 * (b0 * sy + b1 * s1y + b2 * s2y)
                      + (b0 * b0 * n + b1 * b1 * s11 + b2 * b2 * s22
                         + 2 * (b0 * b1 * s1 + b0 * b2 * s2 + b1 * b2 * s12)))
                     / (syy - sy * sy / n), 4) + 0.0 AS r2
    FROM b
    """,
)
def ml_ols_normal_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global two-feature OLS (extendedprice ~ quantity + discount) as
    pure dataflow: one sufficient-statistics aggregate + Cramer's rule
    as column arithmetic — no solver, no Python, the solve itself
    value-hash-checked (the grouped-map Arrow kernel `ml_group_linfit`
    is the many-models complement)."""
    from hudi_utility_spark.ops.mlfit import ols2_normal_equations

    li = load_table(spark, sf_dir, "lineitem")
    return ols2_normal_equations(
        li, "l_extendedprice", "l_quantity", "l_discount"
    )


@query(
    "ts_seasonal_anomalies",
    """
    WITH """ + _HOURLY_TRENDED + """,
    seas AS (
        SELECT event_type, CAST(hidx % 24 AS INT) AS hod,
               AVG(y - trend) AS seasonal
        FROM t GROUP BY 1, 2
    ),
    resid AS (
        SELECT t.event_type, t.hidx,
               t.y - t.trend - s.seasonal AS r
        FROM t JOIN seas s
          ON s.event_type = t.event_type AND s.hod = CAST(t.hidx % 24 AS INT)
    ),
    stats AS (
        SELECT event_type, AVG(r) AS mu, STDDEV_SAMP(r) AS sd
        FROM resid GROUP BY event_type
    )
    SELECT r.event_type, r.hidx,
           ROUND((r.r - s.mu) / s.sd, 4) AS z
    FROM resid r JOIN stats s USING (event_type)
    WHERE abs((r.r - s.mu) / s.sd) > 3
    """,
)
def ts_seasonal_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly detection: hours whose residual after
    trend AND hour-of-day seasonal removal exceeds 3 sigma — the alarm
    that doesn't fire every rush hour (a plain z-score on the raw
    series would). Composes the decomposition with one stats broadcast;
    everything downstream of the hourly aggregate is series-sized."""
    t = _hourly_trended(spark, sf_dir)
    seas = t.groupBy(
        "event_type", (F.col("hidx") % 24).cast("int").alias("hod")
    ).agg(F.avg(F.col("y") - F.col("trend")).alias("seasonal"))
    resid = (
        t.withColumn("hod", (F.col("hidx") % 24).cast("int"))
        .join(F.broadcast(seas), ["event_type", "hod"])
        .select(
            "event_type",
            "hidx",
            (F.col("y") - F.col("trend") - F.col("seasonal")).alias("r"),
        )
    )
    stats = resid.groupBy("event_type").agg(
        F.avg("r").alias("mu"), F.stddev_samp("r").alias("sd")
    )
    z = (F.col("r") - F.col("mu")) / F.col("sd")
    return (
        resid.join(F.broadcast(stats), "event_type")
        .filter(F.abs(z) > 3)
        .select("event_type", "hidx", F.round(z, 4).alias("z"))
    )


@query(
    "ev_engagement_gini",
    """
    WITH per_user AS (
        SELECT user_id, COUNT(*) AS c FROM events GROUP BY user_id
    ),
    lvl AS (
        SELECT c, COUNT(*) AS n_users FROM per_user GROUP BY c
    ),
    cum AS (
        SELECT c, n_users,
               SUM(n_users) OVER (ORDER BY c) AS cum_users,
               SUM(c * n_users) OVER (ORDER BY c) AS cum_events
        FROM lvl
    ),
    tot AS (
        SELECT CAST(SUM(n_users) AS DOUBLE) AS nu,
               CAST(SUM(c * n_users) AS DOUBLE) AS ne
        FROM lvl
    )
    SELECT CAST(t.nu AS BIGINT) AS n_users,
           CAST(t.ne AS BIGINT) AS n_events,
           ROUND(1 - SUM((cum_events + (cum_events - c * n_users))
                         * n_users) / (t.nu * t.ne), 6) AS gini
    FROM cum, tot t GROUP BY t.nu, t.ne
    """,
)
def ev_engagement_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engagement-inequality Gini over per-user event counts (trapezoid
    rule on the Lorenz curve) — the 'do 1% of users produce 90% of
    events' readout that decides whether per-user caps are needed
    before training on behavioral data. Users collapse to
    distinct-activity-LEVEL rows first (the KS/AUC trick), so the
    ordered cumulative window runs over activity levels, never users."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("c"))
    lvl = per_user.groupBy("c").agg(F.count(F.lit(1)).alias("n_users"))
    w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    cum = lvl.select(
        "c",
        "n_users",
        F.sum("n_users").over(w).alias("cum_users"),
        F.sum(F.col("c") * F.col("n_users")).over(w).alias("cum_events"),
    )
    tot = lvl.agg(
        F.sum("n_users").cast("double").alias("nu"),
        F.sum(F.col("c") * F.col("n_users")).cast("double").alias("ne"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .groupBy("nu", "ne")
        .agg(
            F.round(
                1
                - F.sum(
                    (
                        F.col("cum_events")
                        + (F.col("cum_events") - F.col("c") * F.col("n_users"))
                    )
                    * F.col("n_users")
                )
                / (F.col("nu") * F.col("ne")),
                6,
            ).alias("gini")
        )
        .select(
            F.col("nu").cast("long").alias("n_users"),
            F.col("ne").cast("long").alias("n_events"),
            "gini",
        )
    )


@query(
    "ev_user_growth",
    """
    WITH first_seen AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS d FROM events GROUP BY user_id
    ),
    daily AS (
        SELECT d, COUNT(*) AS new_users FROM first_seen GROUP BY d
    )
    SELECT CAST(strftime(d, '%Y-%m-%d') AS VARCHAR) AS day,
           CAST(new_users AS BIGINT) AS new_users,
           CAST(SUM(new_users) OVER (ORDER BY d) AS BIGINT) AS cum_users
    FROM daily
    """,
)
def ev_user_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User growth curve: first-touch date per user (one keyed MIN),
    new users per day, cumulative total — the acquisition chart. The
    cumulative window runs over DAYS (calendar-bounded), never users
    or events; dates cross the oracle as strings to dodge engine date
    rendering differences."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.col("ts").cast("date")).alias("d")
    )
    daily = first_seen.groupBy("d").agg(F.count(F.lit(1)).alias("new_users"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, 0)
    return daily.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "new_users",
        F.sum("new_users").over(w).alias("cum_users"),
    )


@query(
    "ev_attribution_channels",
    """
    WITH t AS (
        SELECT user_id,
               'ch' || CAST(CAST(regexp_extract(props, '[0-9]+') AS INT) % 4
                            AS VARCHAR) AS channel,
               event_id AS tid, ts AS tts
        FROM events WHERE event_type = 'click'
    ),
    c AS (
        SELECT user_id, event_id AS cid, ts AS cts, value AS val
        FROM events WHERE event_type = 'purchase'
    ),
    j AS (
        SELECT t.channel, c.cid, c.val,
               exp(-((epoch_us(c.cts) - epoch_us(t.tts)) / 1000000.0)
                   / 600.0) AS w,
               ROW_NUMBER() OVER (PARTITION BY c.cid
                                  ORDER BY t.tts DESC, t.tid DESC) AS rn
        FROM c JOIN t ON c.user_id = t.user_id
         AND t.tts < c.cts
         AND t.tts >= c.cts - INTERVAL 30 MINUTE
    ),
    s AS (
        SELECT channel, val, w, rn,
               COUNT(*) OVER (PARTITION BY cid) AS n,
               SUM(w) OVER (PARTITION BY cid) AS sum_w
        FROM j
    )
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS n_touches,
           ROUND(SUM(CASE WHEN rn = 1 THEN val ELSE 0.0 END), 6)
               AS last_touch,
           ROUND(SUM(val / n), 6) AS linear,
           ROUND(SUM(val * w / sum_w), 6) AS time_decay
    FROM s GROUP BY channel
    """,
)
def ev_attribution_channels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch attribution of purchase value to the user's clicks
    in the preceding 30 minutes, by synthetic channel (props.k mod 4),
    under all three standard models at once — last-touch, linear, and
    exp time-decay (half-life 600 s, normalized per conversion). One
    key-equi shuffle + conversion-partitioned windows + a channel-sized
    rollup (ops/joins.py multi_touch_attribution)."""
    from hudi_utility_spark.ops.joins import multi_touch_attribution

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "event_id",
        "ts",
        F.concat(
            F.lit("ch"),
            (F.regexp_extract("props", r"[0-9]+", 0).cast("int") % 4).cast(
                "string"
            ),
        ).alias("channel"),
    )
    purchases = ev.filter(F.col("event_type") == "purchase")
    return multi_touch_attribution(
        clicks,
        purchases,
        gap_seconds=1800,
        half_life_seconds=600.0,
    )


@query(
    "ts_changepoint_cusum",
    """
    WITH hc AS (
        SELECT date_trunc('hour', ts) AS hr,
               CAST(COUNT(*) AS DOUBLE) AS x
        FROM events GROUP BY 1
    ),
    m AS (SELECT hr, x, AVG(x) OVER () AS mu FROM hc),
    s AS (
        SELECT hr, SUM(x - mu) OVER (ORDER BY hr) AS cusum FROM m
    )
    SELECT epoch_us(hr) AS hr_us, ROUND(cusum, 6) AS cusum
    FROM s ORDER BY abs(cusum) DESC, hr LIMIT 5
    """,
)
def ts_changepoint_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint localization over the hourly event-rate
    series: the running sum of deviations from the global mean peaks
    (in absolute value) AT the level shift — the classic Page-style
    detector behind pipeline-throughput regression alarms. Facts
    collapse to the hour relation first (one hash aggregate); the mean
    and ordered cumulative windows run over hour cardinality, never
    events; top-5 via TakeOrderedAndProject."""
    ev = load_table(spark, sf_dir, "events")
    hc = ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("hr")).agg(
        F.count(F.lit(1)).cast("double").alias("x")
    )
    from pyspark.sql import Window

    w_all = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_cum = Window.orderBy("hr").rowsBetween(Window.unboundedPreceding, 0)
    m = hc.select("hr", "x", F.avg("x").over(w_all).alias("mu"))
    s = m.select(
        "hr", F.sum(F.col("x") - F.col("mu")).over(w_cum).alias("cusum")
    )
    return (
        s.select(us("hr").alias("hr_us"), F.round("cusum", 6).alias("cusum"))
        .orderBy(F.abs(F.col("cusum")).desc(), F.asc("hr_us"))
        .limit(5)
    )


# Two-sided alpha=0.05, power=0.80 normal quantiles — plan literals on
# both engines (the experiment-sizing constants every A/B platform pins).
_Z_ALPHA = 1.959963984540054
_Z_BETA = 0.8416212335729143


@query(
    "ev_power_analysis",
    f"""
    WITH s AS (
        SELECT event_type,
               CAST(COUNT(*) AS DOUBLE) AS n,
               SUM(value) AS sv,
               SUM(value * value) AS qv
        FROM events GROUP BY event_type
    ),
    d AS (
        SELECT event_type, n, sv / n AS mean_v,
               (qv - sv * sv / n) / (n - 1) AS var_v
        FROM s
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_obs,
           ROUND(mean_v, 6) AS mean_v,
           ROUND(var_v, 6) AS var_v,
           CAST(ceil(2.0 * {(_Z_ALPHA + _Z_BETA) ** 2!r} * var_v
                     / ((0.05 * mean_v) * (0.05 * mean_v))) AS BIGINT)
               AS required_n_per_arm
    FROM d
    """,
)
def ev_power_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment sizing per event type: the sample size each arm
    needs to detect a 5% relative lift in mean value at alpha=0.05,
    power=0.80 — n = 2(z_a + z_b)^2 sigma^2 / delta^2, the readout an
    experimentation platform prints before any test launches (CUPED,
    `ev_cuped_adjusted`, is how you SHRINK this number). Mean/variance
    from sufficient statistics in one aggregate; the z-constants are
    plan literals."""
    s = load_table(spark, sf_dir, "events").groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("value").alias("sv"),
        F.sum(F.col("value") * F.col("value")).alias("qv"),
    )
    mean_v = F.col("sv") / F.col("n")
    var_v = (F.col("qv") - F.col("sv") * F.col("sv") / F.col("n")) / (
        F.col("n") - 1
    )
    k = (_Z_ALPHA + _Z_BETA) ** 2
    delta = 0.05 * mean_v
    return s.select(
        "event_type",
        F.col("n").cast("long").alias("n_obs"),
        F.round(mean_v, 6).alias("mean_v"),
        F.round(var_v, 6).alias("var_v"),
        F.ceil(2.0 * F.lit(k) * var_v / (delta * delta))
        .cast("long")
        .alias("required_n_per_arm"),
    )


@query(
    "graph_link_prediction",
    """
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    deg AS (
        SELECT l_partkey, COUNT(*) AS d FROM items GROUP BY l_partkey
    ),
    co AS (
        SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
               COUNT(*) AS co_n
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
    )
    SELECT co.part_a, co.part_b,
           CAST(co.co_n AS BIGINT) AS co_n,
           ROUND(co.co_n / CAST(da.d + db.d - co.co_n AS DOUBLE), 6)
               AS jaccard
    FROM co
    JOIN deg da ON co.part_a = da.l_partkey
    JOIN deg db ON co.part_b = db.l_partkey
    ORDER BY jaccard DESC, co.co_n DESC, co.part_a, co.part_b
    LIMIT 20
    """,
)
def graph_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard link prediction over the part-order bipartite graph:
    candidate part pairs (those sharing >=1 order) scored by
    |orders(a) AND orders(b)| / |orders(a) OR orders(b)| — the
    neighborhood-overlap baseline every recommender starts from.
    Candidates come from the per-basket pair explosion (basket-
    quadratic, never global); degrees join back on the part key; at
    100 TB prune candidates by minimum co-count first."""
    li = load_table(spark, sf_dir, "lineitem")
    # candidates via the basket pair explosion (the co_purchase_pairs
    # shape: per-basket quadratic HOF, never a corpus self-join)
    baskets = _li_baskets(spark, li)
    deg = baskets.select(F.explode("ps").alias("l_partkey")).groupBy(
        "l_partkey"
    ).agg(F.count(F.lit(1)).alias("d"))
    co = (
        _basket_pairs(baskets, "part_a", "part_b")
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("co_n"))
    )
    da = deg.select(
        F.col("l_partkey").alias("part_a"), F.col("d").alias("da")
    )
    db = deg.select(
        F.col("l_partkey").alias("part_b"), F.col("d").alias("db")
    )
    return (
        co.join(da, "part_a")
        .join(db, "part_b")
        .select(
            "part_a",
            "part_b",
            F.col("co_n").cast("long").alias("co_n"),
            F.round(
                F.col("co_n")
                / (F.col("da") + F.col("db") - F.col("co_n")).cast("double"),
                6,
            ).alias("jaccard"),
        )
        .orderBy(
            F.desc("jaccard"), F.desc("co_n"), F.asc("part_a"), F.asc("part_b")
        )
        .limit(20)
    )


@query(
    "ev_sprt_monitor",
    """
    WITH b AS (
        SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
               COUNT(*) AS n,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                   AS conv
        FROM events WHERE user_id % 2 = 1
        GROUP BY 1
    ),
    c AS (
        SELECT day, n, conv,
               SUM(conv * ln(0.22 / 0.2)
                   + (n - conv) * ln(0.78 / 0.8))
                   OVER (ORDER BY day ROWS UNBOUNDED PRECEDING) AS llr
        FROM b
    )
    SELECT day, CAST(n AS BIGINT) AS n, CAST(conv AS BIGINT) AS conv,
           ROUND(llr, 6) AS cum_llr,
           CASE WHEN llr >= ln(0.8 / 0.05) THEN 'accept_h1'
                WHEN llr <= ln(0.2 / 0.95) THEN 'accept_h0'
                ELSE 'continue' END AS decision
    FROM c
    """,
)
def ev_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's Sequential Probability Ratio Test monitor over the
    treatment arm's daily conversion stream (H0: p=0.20 vs H1: p=0.22,
    alpha=0.05, power=0.80): per day the cumulative log-likelihood
    ratio and the stop/continue decision against the Wald boundaries —
    the always-valid peeking discipline fixed-horizon tests
    (`ev_power_analysis`) lack. Facts collapse to daily counts first;
    the LLR is one ordered window over day cardinality."""
    import math

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("user_id") % 2 == 1
    )
    b = ev.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum((F.col("event_type") == "purchase").cast("long")).alias(
            "conv"
        ),
    )
    from pyspark.sql import Window

    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    lw, ll = math.log(0.22 / 0.2), math.log(0.78 / 0.8)
    up, lo = math.log(0.8 / 0.05), math.log(0.2 / 0.95)
    c = b.select(
        "day",
        "n",
        "conv",
        F.sum(
            F.col("conv") * F.lit(lw) + (F.col("n") - F.col("conv")) * F.lit(ll)
        ).over(w).alias("llr"),
    )
    return c.select(
        "day",
        F.col("n").cast("long").alias("n"),
        F.col("conv").cast("long").alias("conv"),
        F.round("llr", 6).alias("cum_llr"),
        F.when(F.col("llr") >= up, F.lit("accept_h1"))
        .when(F.col("llr") <= lo, F.lit("accept_h0"))
        .otherwise(F.lit("continue"))
        .alias("decision"),
    )


@query(
    "ev_srm_check",
    """
    WITH arms AS (
        SELECT user_id % 2 AS arm, COUNT(*) AS n
        FROM events GROUP BY 1
    ),
    w AS (
        SELECT SUM(CASE WHEN arm = 0 THEN n END) AS na,
               SUM(CASE WHEN arm = 1 THEN n END) AS nb
        FROM arms
    )
    SELECT CAST(na AS BIGINT) AS n_control,
           CAST(nb AS BIGINT) AS n_treatment,
           ROUND((na - nb) * (na - nb) / CAST(na + nb AS DOUBLE), 6)
               AS chi2,
           (na - nb) * (na - nb) / CAST(na + nb AS DOUBLE) > 3.841459
               AS srm_flag
    FROM w
    """,
)
def ev_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-Ratio Mismatch guardrail: chi-squared test that the
    50/50 hash split actually delivered 50/50 (the single most-fired
    experimentation alarm — an SRM means bias upstream of the metric,
    and EVERY downstream readout is suspect). One aggregate; the
    3.84 boundary is chi2(1df) at alpha=0.05 as a plan literal."""
    ev = load_table(spark, sf_dir, "events")
    arms = ev.groupBy((F.col("user_id") % 2).alias("arm")).agg(
        F.count(F.lit(1)).alias("n")
    )
    w = arms.agg(
        F.sum(F.when(F.col("arm") == 0, F.col("n"))).alias("na"),
        F.sum(F.when(F.col("arm") == 1, F.col("n"))).alias("nb"),
    )
    chi2 = (
        (F.col("na") - F.col("nb"))
        * (F.col("na") - F.col("nb"))
        / (F.col("na") + F.col("nb")).cast("double")
    )
    return w.select(
        F.col("na").cast("long").alias("n_control"),
        F.col("nb").cast("long").alias("n_treatment"),
        F.round(chi2, 6).alias("chi2"),
        (chi2 > 3.841459).alias("srm_flag"),
    )


@query(
    "ev_did_estimator",
    """
    WITH mid AS (
        SELECT epoch_us(MIN(ts))
               + (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) // 2 AS m
        FROM events
    ),
    cells AS (
        SELECT user_id % 2 AS arm,
               CASE WHEN epoch_us(ts) >= mid.m THEN 1 ELSE 0 END AS post,
               CAST(COUNT(*) AS BIGINT) AS n,
               AVG(value) AS mean_v
        FROM events, mid
        GROUP BY user_id % 2, CASE WHEN epoch_us(ts) >= mid.m
                                   THEN 1 ELSE 0 END
    ),
    w AS (
        SELECT SUM(CASE WHEN arm = 1 AND post = 1 THEN mean_v END) AS t1,
               SUM(CASE WHEN arm = 1 AND post = 0 THEN mean_v END) AS t0,
               SUM(CASE WHEN arm = 0 AND post = 1 THEN mean_v END) AS c1,
               SUM(CASE WHEN arm = 0 AND post = 0 THEN mean_v END) AS c0,
               CAST(SUM(n) AS BIGINT) AS n_total
        FROM cells
    )
    SELECT n_total,
           ROUND(t1 - t0, 6) AS treat_delta,
           ROUND(c1 - c0, 6) AS control_delta,
           ROUND((t1 - t0) - (c1 - c0), 6) AS did
    FROM w
    """,
)
def ev_did_estimator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: the treatment arm's pre/post mean
    shift minus the control arm's — the econometric workhorse that
    nets out the time trend both arms share (read next to
    `ev_cuped_adjusted`: CUPED shrinks variance with pre-period
    covariates, DiD removes the common trend entirely). The 2x2 cell
    means come from one hash aggregate after a 2-scalar time-bound
    collect; everything after is arithmetic over 4 rows."""
    from hudi_utility_spark.tsutil import us

    ev = load_table(spark, sf_dir, "events")
    lo, hi = ev.agg(F.min(us(F.col("ts"))), F.max(us(F.col("ts")))).collect()[0]
    mid = lo + (hi - lo) // 2
    cells = ev.groupBy(
        (F.col("user_id") % 2).alias("arm"),
        (us(F.col("ts")) >= mid).cast("int").alias("post"),
    ).agg(F.count(F.lit(1)).alias("n"), F.avg("value").alias("mean_v"))
    w = cells.agg(
        F.sum(F.when((F.col("arm") == 1) & (F.col("post") == 1), F.col("mean_v"))).alias("t1"),
        F.sum(F.when((F.col("arm") == 1) & (F.col("post") == 0), F.col("mean_v"))).alias("t0"),
        F.sum(F.when((F.col("arm") == 0) & (F.col("post") == 1), F.col("mean_v"))).alias("c1"),
        F.sum(F.when((F.col("arm") == 0) & (F.col("post") == 0), F.col("mean_v"))).alias("c0"),
        F.sum("n").cast("long").alias("n_total"),
    )
    return w.select(
        "n_total",
        F.round(F.col("t1") - F.col("t0"), 6).alias("treat_delta"),
        F.round(F.col("c1") - F.col("c0"), 6).alias("control_delta"),
        F.round(
            (F.col("t1") - F.col("t0")) - (F.col("c1") - F.col("c0")), 6
        ).alias("did"),
    )


@query(
    "ts_acf_profile",
    """
    WITH """ + _HOURLY + """,
    mu AS (SELECT AVG(y) AS mu FROM hourly),
    dev AS (SELECT hidx, y - m.mu AS dv FROM hourly, mu m),
    den AS (SELECT SUM(dv * dv) AS den FROM dev),
    lags AS (SELECT CAST(range AS INTEGER) AS lag FROM range(1, 13)),
    pairs AS (
        SELECT l.lag, a.dv AS d1, b.dv AS d2
        FROM dev a JOIN lags l ON TRUE
        JOIN dev b ON b.hidx = a.hidx + l.lag
    )
    SELECT lag, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(SUM(d1 * d2) / MAX(dn.den), 6) AS acf
    FROM pairs, den dn GROUP BY lag
    """,
)
def ts_acf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of the hourly mean-value series at lags
    1..12 — the seasonality/persistence fingerprint behind every
    forecasting model choice. Facts collapse to the hourly series
    FIRST (one hash aggregate; hours ≪ rows), the mean-centered series
    is localCheckpoint'd (three downstream passes), and lagged pairs
    come from an EQUIJOIN on hidx+lag (lag exploded from a 12-element
    sequence — never a non-equi range join). Gap hours simply produce
    no pair (documented: ACF over the observed grid)."""
    from pyspark.sql import functions as F

    hourly = _hourly_means(spark, sf_dir)
    pairs, den = _lag_pairs(hourly, hourly.agg(F.avg("y").alias("mu")))
    return (
        pairs.groupBy("lag")
        .agg(
            F.sum(F.col("dv") * F.col("dv2")).alias("num"),
            F.count(F.lit(1)).alias("n_pairs"),
        )
        .crossJoin(F.broadcast(den))
        .select(
            "lag",
            "n_pairs",
            F.round(F.col("num") / F.col("den"), 6).alias("acf"),
        )
    )


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unrolled peeling oracle (same fixed-round discipline as
    `_pagerank_oracle`): round i keeps nodes whose degree in e{i-1} is
    >= k and restricts edges to surviving endpoints."""
    parts = [
        """
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    co AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ),
    e0 AS (SELECT pa AS s, pb AS d FROM co
           UNION ALL SELECT pb AS s, pa AS d FROM co)"""
    ]
    for i in range(1, rounds + 1):
        parts.append(
            f"""
    k{i} AS (SELECT s FROM e{i - 1} GROUP BY s HAVING COUNT(*) >= {k}),
    e{i} AS (SELECT e.s, e.d FROM e{i - 1} e
             JOIN k{i} x ON e.s = x.s JOIN k{i} y ON e.d = y.s)"""
        )
    return (
        ",".join(parts)
        + f"""
    SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS degree
    FROM e{rounds} GROUP BY s
    """
    )


@query("graph_kcore_parts", _kcore_oracle(3, 6))
def graph_kcore_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the co-purchase graph (parts co-ordered ≥2 times):
    iterative peeling with a FIXED 6-round unroll (`ops/graph.py
    kcore`) so the whole decomposition is a finite dataflow the
    unrolled SQL oracle replays; tests assert rounds 5 and 6 agree
    (convergence validated, not assumed). The dense-core extraction
    step community detection and spam-graph filtering start from.
    Edges reuse the co_purchase basket-HOF shape — per-basket
    quadratic, never a corpus self-join."""
    from hudi_utility_spark.ops.graph import kcore

    li = load_table(spark, sf_dir, "lineitem")
    baskets = _li_baskets(spark, li)
    co = (
        _basket_pairs(baskets, "pa", "pb")
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 2)
    )
    edges = co.select(F.col("pa").alias("src"), F.col("pb").alias("dst")).unionAll(
        co.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    return kcore(edges, k=3, rounds=6)


@query(
    "graph_hits_authorities",
    """
    WITH e AS (
        SELECT DISTINCT o.o_custkey AS s, l.l_partkey AS d
        FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    ),
    a1 AS (SELECT d, CAST(COUNT(*) AS DOUBLE) AS score FROM e GROUP BY d),
    a1n AS (
        SELECT d, score * (SELECT COUNT(*) FROM a1)
                   / (SELECT SUM(score) FROM a1) AS score
        FROM a1
    ),
    h1 AS (
        SELECT e.s, SUM(a.score) AS score
        FROM e JOIN a1n a ON e.d = a.d GROUP BY e.s
    ),
    h1n AS (
        SELECT s, score * (SELECT COUNT(*) FROM h1)
                   / (SELECT SUM(score) FROM h1) AS score
        FROM h1
    ),
    a2 AS (
        SELECT e.d, SUM(h.score) AS score
        FROM e JOIN h1n h ON e.s = h.s GROUP BY e.d
    ),
    a2n AS (
        SELECT d, score * (SELECT COUNT(*) FROM a2)
                   / (SELECT SUM(score) FROM a2) AS score
        FROM a2
    )
    SELECT d AS node, ROUND(score, 6) AS authority
    FROM a2n
    ORDER BY ROUND(score, 6) DESC, d
    LIMIT 20
    """,
)
def graph_hits_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS authorities over the customer→part bipartite purchase graph
    (Kleinberg 1999), 2 fixed iterations, mean-1 normalization
    (`ops/graph.py hits`): hubs are customers whose baskets point at
    authoritative parts, authorities are parts bought by strong hubs —
    the mutually-reinforcing centrality behind early web ranking and
    modern bipartite recommendation. Power-iteration shape: one
    edge-keyed aggregate + one bounded score-vector broadcast per
    half-step; top-20 ranked on ROUND(score, 6) with id tiebreak (the
    round-before-rank discipline — mean-1 keeps scores O(1), giving
    ~9 orders of headroom over distributed-sum ulp noise)."""
    from hudi_utility_spark.ops.graph import hits

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    e = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .select(F.col("o_custkey").alias("src"), F.col("l_partkey").alias("dst"))
        .distinct()
    )
    out = hits(e, iters=2)
    return (
        out.select("node", F.round("authority", 6).alias("authority"))
        .orderBy(F.desc(F.round(F.col("authority"), 6)), F.asc("node"))
        .limit(20)
    )


@query(
    "ts_theil_sen_trend",
    """
    WITH """ + _HOURLY + """,
    lags AS (SELECT CAST(range AS BIGINT) AS lag FROM range(1, 169)),
    slopes AS (
        SELECT (b.y - a.y) / l.lag AS slope
        FROM hourly a JOIN lags l ON TRUE
        JOIN hourly b ON b.hidx = a.hidx + l.lag
    ),
    sl AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
               quantile_cont(slope, 0.5) AS slope
        FROM slopes
    )
    SELECT sl.n_pairs, ROUND(sl.slope, 6) AS slope,
           ROUND((SELECT quantile_cont(y - sl.slope * hidx, 0.5)
                  FROM hourly), 6) AS intercept
    FROM sl
    """,
)
def ts_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of the hourly mean-value series,
    LAG-BOUNDED variant: slope = median of pairwise slopes over pairs
    at most 168 hours apart, intercept = median(y − slope·t) — the
    29%-breakdown-point alternative to OLS that one outlier hour
    cannot move. Bounding the lag does two jobs: pairs come from an
    EQUIJOIN on hidx+lag (lag exploded from a 168-element sequence,
    never an O(hours²) inequality self-join), and pair count grows
    linearly in series length — the full-window estimator's quadratic
    blowup is exactly what breaks at 100 TB of telemetry. Facts
    collapse to the hourly series first; medians are exact
    interpolating percentiles over the bounded pair relation."""
    from pyspark.sql import functions as F

    hourly = _hourly_means(spark, sf_dir).localCheckpoint(eager=False)
    a = hourly.select(
        "hidx",
        F.col("y").alias("y1"),
        F.explode(F.sequence(F.lit(1), F.lit(168))).alias("lag"),
    ).withColumn("tgt", F.col("hidx") + F.col("lag"))
    pairs = a.join(
        hourly.select(F.col("hidx").alias("tgt"), F.col("y").alias("y2")),
        "tgt",
    )
    sl = pairs.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.percentile((F.col("y2") - F.col("y1")) / F.col("lag"), F.lit(0.5)).alias(
            "slope"
        ),
    )
    icept = (
        hourly.crossJoin(F.broadcast(sl))
        .agg(
            F.percentile(
                F.col("y") - F.col("slope") * F.col("hidx"), F.lit(0.5)
            ).alias("intercept")
        )
    )
    return (
        sl.crossJoin(F.broadcast(icept))
        .select(
            "n_pairs",
            F.round("slope", 6).alias("slope"),
            F.round("intercept", 6).alias("intercept"),
        )
    )


@query(
    "ev_bayes_beta_binomial",
    """
    WITH base AS (
        SELECT CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 6))
                    AS BIGINT) % 2 AS variant,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
        FROM events
    ),
    agg AS (
        SELECT variant, CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(conv) AS DOUBLE) AS s
        FROM base GROUP BY variant
    )
    SELECT CAST(variant AS INTEGER) AS variant,
           CAST(n AS BIGINT) AS n,
           CAST(s AS BIGINT) AS conversions,
           ROUND((1 + s) / (2 + n), 6) AS post_mean,
           ROUND(sqrt((1 + s) * (1 + n - s)
                      / ((2 + n) * (2 + n) * (3 + n))), 6) AS post_sd
    FROM agg
    """,
)
def ev_bayes_beta_binomial(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Beta-Binomial posterior of per-variant conversion (uniform
    Beta(1,1) prior): posterior mean (1+s)/(2+n) and exact posterior
    sd — the Bayesian summary an A/B dashboard shows next to the
    frequentist SRM/SPRT checks already registered. Variants come from
    the same md5 split as the conformal/permutation family; one
    map-side-combinable aggregate, closed form, no sampling."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        phash.md5_parity(F.col("event_id").cast("string")).alias("variant"),
        (F.col("event_type") == "purchase").cast("int").alias("conv"),
    )
    agg = base.groupBy("variant").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("conv").cast("double").alias("s"),
    )
    a = 1 + F.col("s")
    b = 1 + F.col("n") - F.col("s")
    tot = F.col("n") + 2
    return agg.select(
        F.col("variant").cast("int").alias("variant"),
        F.col("n").cast("long").alias("n"),
        F.col("s").cast("long").alias("conversions"),
        F.round(a / tot, 6).alias("post_mean"),
        F.round(F.sqrt(a * b / (tot * tot * (tot + 1))), 6).alias("post_sd"),
    )


@query(
    "ml_ridge_normal_eq",
    """
    WITH s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               SUM(l_quantity) AS s1, SUM(l_discount) AS s2,
               SUM(l_extendedprice) AS sy,
               SUM(l_quantity * l_quantity) + 100000.0 AS s11,
               SUM(l_quantity * l_discount) AS s12,
               SUM(l_discount * l_discount) + 100000.0 AS s22,
               SUM(l_quantity * l_extendedprice) AS s1y,
               SUM(l_discount * l_extendedprice) AS s2y,
               SUM(l_extendedprice * l_extendedprice) AS syy
        FROM lineitem
    ),
    """ + _OLS2_SOLVE + """
    SELECT CAST(n AS BIGINT) AS n,
           ROUND(b0, 6) AS b0, ROUND(b1, 6) AS b1, ROUND(b2, 6) AS b2,
           ROUND(1 - (syy - 2 * (b0 * sy + b1 * s1y + b2 * s2y)
                      + (b0 * b0 * n
                         + b1 * b1 * (s11 - 100000.0)
                         + b2 * b2 * (s22 - 100000.0)
                         + 2 * (b0 * b1 * s1 + b0 * b2 * s2 + b1 * b2 * s12)))
                     / (syy - sy * sy / n), 4) + 0.0 AS r2
    FROM b
    """,
)
def ml_ridge_normal_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ridge regression (lambda=1e5, weights-only shrinkage) over the
    same two-feature system as `ml_ols_normal_eq` — the numerically
    robust companion when features are collinear: the normal-equation
    diagonal gains lambda and the identical Cramer arithmetic solves
    it, so regularization costs NOTHING extra at 100 TB (same one
    sufficient-statistics scan, same 9-scalar exchange). Training r2
    is computed with the UNpenalized moments (the oracle subtracts
    lambda back out)."""
    from hudi_utility_spark.ops.mlfit import ols2_normal_equations

    li = load_table(spark, sf_dir, "lineitem")
    return ols2_normal_equations(
        li, "l_extendedprice", "l_quantity", "l_discount", lam=100000.0
    )


@query(
    "stat_spearman_trend",
    """
    WITH """ + _HOURLY + """,
    rx AS (
        SELECT hidx, y,
               CAST(ROW_NUMBER() OVER (ORDER BY hidx) AS DOUBLE) AS rx
        FROM hourly
    ),
    yvals AS (SELECT y, COUNT(*) AS cnt FROM hourly GROUP BY y),
    yrank AS (
        SELECT y,
               SUM(cnt) OVER (ORDER BY y) - cnt + (cnt + 1) / 2.0 AS ry
        FROM yvals
    ),
    ranked AS (SELECT rx.rx, yr.ry FROM rx JOIN yrank yr ON rx.y = yr.y),
    s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               SUM(rx) AS sx, SUM(ry) AS sy,
               SUM(rx * rx) AS sxx, SUM(ry * ry) AS syy,
               SUM(rx * ry) AS sxy
        FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_hours,
           ROUND((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
               AS spearman_rho
    FROM s
    """,
)
def stat_spearman_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between hour index and hourly mean
    value — the nonparametric monotone-trend test that pairs with
    `ts_theil_sen_trend` (rho asks "is there a trend", Theil-Sen asks
    "how steep"). Facts collapse to the hourly series first; hour ranks
    are tie-free row numbers, value ranks use the collapsed
    average-rank machinery (ties averaged), and rho is Pearson over the
    rank pairs from ONE sufficient-statistics aggregate. All windows
    run over the bounded series, never facts."""
    from pyspark.sql import Window, functions as F

    hourly = _hourly_means(spark, sf_dir).localCheckpoint(eager=False)
    rx = hourly.select(
        "y",
        F.row_number().over(Window.orderBy("hidx")).cast("double").alias("rx"),
    )
    yvals = hourly.groupBy("y").agg(F.count(F.lit(1)).alias("cnt"))
    wy = Window.orderBy("y").rowsBetween(Window.unboundedPreceding, 0)
    yrank = yvals.select(
        "y",
        (F.sum("cnt").over(wy) - F.col("cnt") + (F.col("cnt") + 1) / 2.0).alias(
            "ry"
        ),
    )
    ranked = rx.join(F.broadcast(yrank), "y")
    s = ranked.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
    )
    rho = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(
        F.col("n").cast("long").alias("n_hours"),
        F.round(rho, 6).alias("spearman_rho"),
    )


@query(
    "ev_quantile_treatment_effect",
    """
    WITH base AS (
        SELECT CAST(concat('0x', substr(md5(CAST(event_id AS VARCHAR)), 1, 6))
                    AS BIGINT) % 2 AS variant,
               value
        FROM events WHERE value IS NOT NULL
    ),
    per AS (
        SELECT variant,
               quantile_cont(value, [0.1, 0.2, 0.3, 0.4, 0.5,
                                     0.6, 0.7, 0.8, 0.9]) AS qs
        FROM base GROUP BY variant
    ),
    wide AS (
        SELECT MAX(CASE WHEN variant = 0 THEN qs END) AS qc,
               MAX(CASE WHEN variant = 1 THEN qs END) AS qt
        FROM per
    )
    SELECT ROUND(t.i / 10.0, 1) AS q,
           ROUND(wide.qc[t.i], 4) AS p_control,
           ROUND(wide.qt[t.i], 4) AS p_treatment,
           ROUND(wide.qt[t.i] - wide.qc[t.i], 4) AS qte
    FROM wide, LATERAL (SELECT unnest(generate_series(1, 9)) AS i) t
    """,
)
def ev_quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile treatment effects at the deciles: the per-quantile
    difference between treatment and control value distributions —
    what the mean-difference tests (Welch/CUPED/DiD) cannot show: an
    intervention that helps the median while hurting the tail.
    Variants come from the family's md5 split; each arm's nine deciles
    are ONE exact interpolating percentile aggregate (two rows total),
    and the decile table explodes from those two array rows — nothing
    row-sized moves after the aggregate."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    base = ev.select(
        phash.md5_parity(F.col("event_id").cast("string")).alias("variant"),
        "value",
    )
    probs = F.array(*[F.lit(i / 10.0) for i in range(1, 10)])
    per = base.groupBy("variant").agg(
        F.percentile("value", probs).alias("qs")
    )
    wide = per.agg(
        F.max(F.when(F.col("variant") == 0, F.col("qs"))).alias("qc"),
        F.max(F.when(F.col("variant") == 1, F.col("qs"))).alias("qt"),
    )
    return wide.select(
        F.posexplode(F.arrays_zip(F.col("qc"), F.col("qt"))).alias("i", "z")
    ).select(
        F.round((F.col("i") + 1) / 10.0, 1).alias("q"),
        F.round(F.col("z.qc"), 4).alias("p_control"),
        F.round(F.col("z.qt"), 4).alias("p_treatment"),
        F.round(F.col("z.qt") - F.col("z.qc"), 4).alias("qte"),
    )


@query(
    "ev_rfm_segments",
    """
    WITH per_user AS (
        SELECT user_id,
               epoch_us(MAX(ts)) AS last_us,
               CAST(COUNT(*) AS DOUBLE) AS freq,
               SUM(COALESCE(value, 0)) AS mon
        FROM events GROUP BY user_id
    ),
    ref AS (SELECT MAX(last_us) AS ref_us FROM per_user),
    rfm AS (
        SELECT user_id,
               (r.ref_us - last_us) / 86400000000.0 AS rec,
               freq, mon
        FROM per_user, ref r
    ),
    b AS (
        SELECT quantile_cont(rec,  [0.2, 0.4, 0.6, 0.8]) AS rb,
               quantile_cont(freq, [0.2, 0.4, 0.6, 0.8]) AS fb,
               quantile_cont(mon,  [0.2, 0.4, 0.6, 0.8]) AS mb
        FROM rfm
    ),
    seg AS (
        SELECT CAST(1 + (rec > b.rb[1])::INT + (rec > b.rb[2])::INT
                      + (rec > b.rb[3])::INT + (rec > b.rb[4])::INT
                    AS INTEGER) AS r_seg,
               CAST(1 + (freq > b.fb[1])::INT + (freq > b.fb[2])::INT
                      + (freq > b.fb[3])::INT + (freq > b.fb[4])::INT
                    AS INTEGER) AS f_seg,
               CAST(1 + (mon > b.mb[1])::INT + (mon > b.mb[2])::INT
                      + (mon > b.mb[3])::INT + (mon > b.mb[4])::INT
                    AS INTEGER) AS m_seg,
               mon
        FROM rfm, b
    )
    SELECT r_seg, f_seg, m_seg,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(AVG(mon), 2) AS avg_monetary
    FROM seg GROUP BY 1, 2, 3
    """,
)
def ev_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) quintile segmentation — the
    classic customer-value grid. SCALE-SAFE binning: quintile
    BOUNDARIES come from one exact interpolating percentile aggregate
    (12 scalars, broadcast back) and the segment assignment is a
    map-only comparison chain — never an NTILE over the user relation,
    which at billions of users is the banned single-partition window.
    Boundary ties use strict > on both engines, and recency keeps its
    raw orientation (segment 1 = most recent)."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.unix_micros(F.max("ts").cast("timestamp_ltz")).alias("last_us"),
        F.count(F.lit(1)).cast("double").alias("freq"),
        F.sum(F.coalesce(F.col("value"), F.lit(0.0))).alias("mon"),
    )
    ref = per_user.agg(F.max("last_us").alias("ref_us"))
    rfm = per_user.crossJoin(F.broadcast(ref)).select(
        "user_id",
        ((F.col("ref_us") - F.col("last_us")) / 86400000000.0).alias("rec"),
        "freq",
        "mon",
    )
    probs = F.array(*[F.lit(x) for x in (0.2, 0.4, 0.6, 0.8)])
    b = rfm.agg(
        F.percentile("rec", probs).alias("rb"),
        F.percentile("freq", probs).alias("fb"),
        F.percentile("mon", probs).alias("mb"),
    )

    def seg(col, barr):
        e = F.lit(1)
        for i in range(1, 5):
            e = e + (F.col(col) > F.element_at(F.col(barr), i)).cast("int")
        return e.cast("int")

    return (
        rfm.crossJoin(F.broadcast(b))
        .select(
            seg("rec", "rb").alias("r_seg"),
            seg("freq", "fb").alias("f_seg"),
            seg("mon", "mb").alias("m_seg"),
            "mon",
        )
        .groupBy("r_seg", "f_seg", "m_seg")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.avg("mon"), 2).alias("avg_monetary"),
        )
    )


@query(
    "graph_degree_distribution",
    """
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    co AS (
        SELECT a.l_partkey AS pa, b.l_partkey AS pb
        FROM items a JOIN items b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY 1, 2
    ),
    deg AS (
        SELECT node, COUNT(*) AS degree FROM (
            SELECT pa AS node FROM co UNION ALL SELECT pb FROM co
        ) GROUP BY node
    ),
    hist AS (
        SELECT CAST(floor(ln(degree) / ln(2)) AS INTEGER) AS log2_bin,
               COUNT(*) AS n_nodes
        FROM deg GROUP BY 1
    ),
    fit AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS k,
               SUM(log2_bin) AS sx, SUM(ln(n_nodes)) AS sy,
               SUM(CAST(log2_bin AS DOUBLE) * log2_bin) AS sxx,
               SUM(log2_bin * ln(n_nodes)) AS sxy
        FROM hist
    )
    SELECT h.log2_bin, CAST(h.n_nodes AS BIGINT) AS n_nodes,
           ROUND((f.k * f.sxy - f.sx * f.sy)
                 / (f.k * f.sxx - f.sx * f.sx), 6) AS loglog_slope
    FROM hist h, fit f
    """,
)
def graph_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the co-purchase graph in log2 bins, with
    the log-log OLS slope repeated per row — the graph-health readout
    (a heavy-tailed slope near -2..-3 says scale-free; a cliff says the
    pair explosion is basket-bounded as designed). One degree
    aggregate, a bin-sized histogram, and the slope from sufficient
    stats over the handful of bins. Edges ride the shared basket-HOF
    build (map-side i<j explode — the old items self-join scanned
    lineitem per side and the degree union re-executed the whole join
    once per direction: 8 scans where one suffices, guide §1.2); each
    canonical pair contributes one count to each endpoint via a single
    2-element explode, so the pair relation is referenced exactly
    once."""
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    baskets = _li_baskets(spark, li)
    co = _basket_pairs(baskets, "pa", "pb").distinct()
    deg = (
        co.select(F.explode(F.array("pa", "pb")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    hist = deg.groupBy(
        F.floor(F.log(F.col("degree")) / F.log(F.lit(2.0)))
        .cast("int")
        .alias("log2_bin")
    ).agg(F.count(F.lit(1)).alias("n_nodes"))
    fit = hist.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum("log2_bin").alias("sx"),
        F.sum(F.log("n_nodes")).alias("sy"),
        F.sum(F.col("log2_bin").cast("double") * F.col("log2_bin")).alias("sxx"),
        F.sum(F.col("log2_bin") * F.log("n_nodes")).alias("sxy"),
    )
    slope = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return hist.crossJoin(F.broadcast(fit)).select(
        "log2_bin",
        "n_nodes",
        F.round(slope, 6).alias("loglog_slope"),
    )


@query(
    "ts_holt_linear",
    """
    WITH RECURSIVE """ + _HOURLY_SERIES + """,
    holt(event_type, t, n, l, b) AS (
        SELECT i1.event_type, 1, i1.n, i1.y, i2.y - i1.y
        FROM idx i1 JOIN idx i2
          ON i2.event_type = i1.event_type AND i1.t = 1 AND i2.t = 2
        UNION ALL
        SELECT s.event_type, s.t + 1, s.n,
               0.4 * i.y + 0.6 * (s.l + s.b),
               0.3 * ((0.4 * i.y + 0.6 * (s.l + s.b)) - s.l) + 0.7 * s.b
        FROM holt s JOIN idx i
          ON i.event_type = s.event_type AND i.t = s.t + 1
        WHERE s.t + 1 <= s.n
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_hours,
           ROUND(l, 4) AS level, ROUND(b, 4) AS trend,
           ROUND(l + 3 * b, 4) AS forecast_3h
    FROM holt WHERE t = n
    """,
)
def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing (level + linear trend,
    alpha=0.4, beta=0.3) of each event type's hourly mean series, with
    the 3-hour-ahead forecast — the forecasting-recursion capability
    class: coupled SEQUENTIAL recursions that no window frame
    expresses. Spark runs the fold as a codegen'd higher-order
    `aggregate` over the per-type COLLAPSED series array (hours, never
    rows — the same bounded-fold discipline as the batch-EWMA twin);
    the oracle replays the identical operation order as a recursive
    CTE, so even a 700-step float recursion hash-matches at 4dp."""
    from pyspark.sql import functions as F

    series = _hourly_series(spark, sf_dir).filter(F.size("ys") >= 2)
    alpha, beta = 0.4, 0.3
    init = F.struct(
        F.element_at("ys", 1).alias("l"),
        (F.element_at("ys", 2) - F.element_at("ys", 1)).alias("b"),
    )

    def step(acc, y):
        # l' appears twice; the repeated expression is deterministic and
        # mirrors the oracle's inline repetition exactly
        nl = F.lit(alpha) * y + F.lit(1 - alpha) * (acc["l"] + acc["b"])
        nb = F.lit(beta) * (nl - acc["l"]) + F.lit(1 - beta) * acc["b"]
        return F.struct(nl.alias("l"), nb.alias("b"))

    state = F.aggregate(
        F.slice(F.col("ys"), 2, F.size("ys") - 1), init, step
    )
    return series.select(
        "event_type",
        F.size("ys").cast("long").alias("n_hours"),
        F.round(state["l"], 4).alias("level"),
        F.round(state["b"], 4).alias("trend"),
        F.round(state["l"] + 3 * state["b"], 4).alias("forecast_3h"),
    )


@query(
    "ts_holt_winters",
    """
    WITH RECURSIVE """ + _HOURLY_SERIES + """,
    base AS (
        SELECT event_type, MAX(n) AS n,
               ROUND(AVG(CASE WHEN t <= 24 THEN y END), 6) AS l0,
               ROUND((AVG(CASE WHEN t BETWEEN 25 AND 48 THEN y END)
                      - AVG(CASE WHEN t <= 24 THEN y END)) / 24, 6) AS b0
        FROM idx GROUP BY event_type HAVING MAX(n) >= 48
    ),
    s0 AS (
        SELECT i.event_type,
               list(ROUND(i.y - b.l0, 6) ORDER BY i.t) AS s
        FROM idx i JOIN base b USING (event_type)
        WHERE i.t <= 24 GROUP BY i.event_type
    ),
    hw(event_type, t, n, l, b, s) AS (
        SELECT b.event_type, CAST(24 AS BIGINT), b.n, b.l0, b.b0, s0.s
        FROM base b JOIN s0 USING (event_type)
        UNION ALL
        SELECT h.event_type, h.t + 1, h.n,
               ROUND(0.3 * (i.y - h.s[(h.t % 24) + 1])
                     + 0.7 * (h.l + h.b), 6),
               ROUND(0.2 * ((ROUND(0.3 * (i.y - h.s[(h.t % 24) + 1])
                                   + 0.7 * (h.l + h.b), 6)) - h.l)
                     + 0.8 * h.b, 6),
               h.s[1:(h.t % 24)]
               || [ROUND(0.1 * (i.y
                                - ROUND(0.3 * (i.y - h.s[(h.t % 24) + 1])
                                        + 0.7 * (h.l + h.b), 6))
                          + 0.9 * h.s[(h.t % 24) + 1], 6)]
               || h.s[(h.t % 24) + 2:]
        FROM hw h JOIN idx i
          ON i.event_type = h.event_type AND i.t = h.t + 1
        WHERE h.t + 1 <= h.n
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_hours,
           ROUND(l, 4) AS level, ROUND(b, 4) AS trend,
           ROUND(list_aggregate(s, 'max') - list_aggregate(s, 'min'), 4)
               AS seasonal_amplitude,
           ROUND(l + b + s[CAST(n % 24 AS INT) + 1], 4) AS forecast_next
    FROM hw WHERE t = n
    """,
)
def ts_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE seasonal smoothing (level + trend + 24-hour
    seasonal state; alpha=.3, beta=.2, gamma=.1) per event type — the
    full triple-smoothing forecaster, with ARRAY state carried through
    the sequential recursion: Spark folds a struct(level, trend,
    seasonals[24]) through the per-type COLLAPSED hourly series via one
    codegen'd higher-order aggregate (the seasonal update rebuilds the
    24-array with an index-conditional transform), and the oracle
    replays the identical schedule as a recursive CTE with list-slice
    surgery. Every updated component is quantized to 6dp per step, so
    a ~700-step recursion with mutable array state hash-matches at 4dp
    — the strongest stress of the operation-order discipline in the
    registry. Output: final level/trend, seasonal amplitude, and the
    one-step forecast l + b + s[next]."""
    from pyspark.sql import functions as F

    series = _hourly_series(spark, sf_dir).filter(F.size("ys") >= 48)
    a, be, g = 0.3, 0.2, 0.1
    first24 = F.slice("ys", 1, 24)
    second24 = F.slice("ys", 25, 24)

    def _avg(arr):
        return (
            F.aggregate(arr, F.lit(0.0), lambda acc, v: acc + v) / F.size(arr)
        )

    l0 = F.round(_avg(first24), 6)
    b0 = F.round((_avg(second24) - _avg(first24)) / 24, 6)
    s0 = F.transform(first24, lambda y: F.round(y - l0, 6))
    # indexed tail: (t, y) structs for t = 25..n
    idxd = F.transform(
        F.col("ys"), lambda y, i: F.struct((i + 1).alias("t"), y.alias("y"))
    )
    tail = F.slice(idxd, 25, F.size("ys") - 24)
    init = F.struct(l0.alias("l"), b0.alias("b"), s0.alias("s"))

    def step(acc, e):
        # seasonal slot for step t is ((t-1) % 24) zero-based; with
        # e.t = previous t + 1, the slot is (prev_t % 24) — written as
        # (e.t - 1) % 24 here, identical to the oracle's h.t % 24
        slot = (e["t"] - 1) % 24  # 0-based index into s
        s_old = F.element_at(acc["s"], slot + 1)
        nl = F.round(
            F.lit(a) * (e["y"] - s_old) + F.lit(1 - a) * (acc["l"] + acc["b"]),
            6,
        )
        nb = F.round(
            F.lit(be) * (nl - acc["l"]) + F.lit(1 - be) * acc["b"], 6
        )
        ns = F.transform(
            acc["s"],
            lambda sv, j: F.when(
                j == slot,
                F.round(F.lit(g) * (e["y"] - nl) + F.lit(1 - g) * sv, 6),
            ).otherwise(sv),
        )
        return F.struct(nl.alias("l"), nb.alias("b"), ns.alias("s"))

    state = F.aggregate(tail, init, step)
    fc_slot = (F.size("ys") % 24) + 1
    return series.select(
        "event_type",
        F.size("ys").cast("long").alias("n_hours"),
        F.round(state["l"], 4).alias("level"),
        F.round(state["b"], 4).alias("trend"),
        F.round(
            F.array_max(state["s"]) - F.array_min(state["s"]), 4
        ).alias("seasonal_amplitude"),
        F.round(
            state["l"] + state["b"] + F.element_at(state["s"], fc_slot), 4
        ).alias("forecast_next"),
    )


@query(
    "stat_runs_test",
    """
    WITH """ + _HOURLY + """,
    med AS (SELECT quantile_cont(y, 0.5) AS m FROM hourly),
    signs AS (
        SELECT hidx, CASE WHEN y > med.m THEN 1 ELSE 0 END AS s
        FROM hourly, med WHERE y != med.m
    ),
    runs AS (
        SELECT s,
               CASE WHEN LAG(s) OVER (ORDER BY hidx) IS NULL
                         OR LAG(s) OVER (ORDER BY hidx) != s
                    THEN 1 ELSE 0 END AS new_run
        FROM signs
    ),
    agg AS (
        SELECT CAST(SUM(new_run) AS DOUBLE) AS r,
               CAST(SUM(s) AS DOUBLE) AS n1,
               CAST(SUM(1 - s) AS DOUBLE) AS n2
        FROM runs
    )
    SELECT CAST(n1 AS BIGINT) AS n_above, CAST(n2 AS BIGINT) AS n_below,
           CAST(r AS BIGINT) AS n_runs,
           ROUND((r - (2 * n1 * n2 / (n1 + n2) + 1))
                 / sqrt(2 * n1 * n2 * (2 * n1 * n2 - n1 - n2)
                        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1))), 6)
               AS z_stat
    FROM agg
    """,
)
def stat_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the hourly mean-value series
    (above/below the exact median, median-ties dropped): too FEW runs
    means positive autocorrelation or trend, too MANY means
    oscillation — the randomness diagnostic that complements the ACF's
    lag-by-lag view with one closed-form z. The sign sequence and the
    run-start lag window live on the COLLAPSED hourly series; the
    statistic is three scalars."""
    from pyspark.sql import Window, functions as F

    hourly = _hourly_means(spark, sf_dir).localCheckpoint(eager=False)
    med = hourly.agg(F.percentile("y", F.lit(0.5)).alias("m"))
    signs = (
        hourly.crossJoin(F.broadcast(med))
        .filter(F.col("y") != F.col("m"))
        .select("hidx", (F.col("y") > F.col("m")).cast("int").alias("s"))
    )
    w = Window.orderBy("hidx")
    runs = signs.select(
        "s",
        F.when(
            F.lag("s").over(w).isNull() | (F.lag("s").over(w) != F.col("s")),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    agg = runs.agg(
        F.sum("new_run").cast("double").alias("r"),
        F.sum("s").cast("double").alias("n1"),
        F.sum(1 - F.col("s")).cast("double").alias("n2"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    mean = 2 * n1 * n2 / (n1 + n2) + 1
    var = (
        2 * n1 * n2 * (2 * n1 * n2 - n1 - n2)
        / ((n1 + n2) * (n1 + n2) * (n1 + n2 - 1))
    )
    return agg.select(
        n1.cast("long").alias("n_above"),
        n2.cast("long").alias("n_below"),
        r.cast("long").alias("n_runs"),
        F.round((r - mean) / F.sqrt(var), 6).alias("z_stat"),
    )


@query(
    "stat_jarque_bera",
    """
    WITH base AS (
        SELECT event_type, value AS v FROM events WHERE value IS NOT NULL
    ),
    mu AS (
        SELECT event_type, CAST(COUNT(*) AS DOUBLE) AS n, AVG(v) AS mu
        FROM base GROUP BY event_type
    ),
    cent AS (
        SELECT b.event_type, MAX(m.n) AS n,
               SUM((b.v - m.mu) * (b.v - m.mu)) AS c2,
               SUM((b.v - m.mu) * (b.v - m.mu) * (b.v - m.mu)) AS c3,
               SUM((b.v - m.mu) * (b.v - m.mu) * (b.v - m.mu)
                   * (b.v - m.mu)) AS c4
        FROM base b JOIN mu m ON b.event_type = m.event_type
        GROUP BY b.event_type
    ),
    moments AS (
        SELECT event_type, n,
               (c3 / n) / pow(c2 / n, 1.5) AS skew,
               (c4 / n) / pow(c2 / n, 2.0) AS kurt
        FROM cent
    )
    SELECT event_type, CAST(n AS BIGINT) AS n,
           ROUND(skew, 6) AS skewness,
           ROUND(kurt, 6) AS kurtosis,
           ROUND(n / 6.0 * (skew * skew + (kurt - 3) * (kurt - 3) / 4.0), 4)
               AS jb_stat
    FROM moments
    """,
)
def stat_jarque_bera(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality statistic per event type — the
    skewness/kurtosis-based omnibus test that tells which metric
    distributions the z-based monitors (`ev_srm_check`, the CUPED
    variance math) may legitimately assume Gaussian. TWO passes by
    design: group means first, then CENTERED power sums — raw power
    sums up to v^4 lose ~8 digits to cancellation and would hash-differ
    between engines; centered sums are stable, so both engines agree at
    6dp. Both passes are map-combinable hash aggregates (no window, no
    sort); the group-mean relation joined back is |event_type|-sized
    and broadcast."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    base = ev.filter(F.col("value").isNotNull()).select(
        "event_type", F.col("value").alias("v")
    )
    mu = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"), F.avg("v").alias("mu")
    )
    dv = F.col("v") - F.col("mu")
    cent = (
        base.join(F.broadcast(mu), "event_type")
        .groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.sum(dv * dv).alias("c2"),
            F.sum(dv * dv * dv).alias("c3"),
            F.sum(dv * dv * dv * dv).alias("c4"),
        )
    )
    n = F.col("n")
    skew = (F.col("c3") / n) / F.pow(F.col("c2") / n, F.lit(1.5))
    kurt = (F.col("c4") / n) / F.pow(F.col("c2") / n, F.lit(2.0))
    return cent.select(
        "event_type",
        n.cast("long").alias("n"),
        F.round(skew, 6).alias("skewness"),
        F.round(kurt, 6).alias("kurtosis"),
        F.round(
            n / 6.0 * (skew * skew + (kurt - 3) * (kurt - 3) / 4.0), 4
        ).alias("jb_stat"),
    )


@query(
    "ts_forecast_accuracy",
    """
    WITH """ + _DAILY_REVENUE + """,
    lags AS (
        SELECT 'naive_lag1' AS model, 1 AS lag
        UNION ALL SELECT 'seasonal_naive_lag7', 7
    ),
    scored AS (
        SELECT l.model, a.y AS actual, b.y AS pred
        FROM daily a JOIN lags l ON TRUE
        JOIN daily b ON b.didx = a.didx - l.lag
    ),
    metrics AS (
        SELECT model, CAST(COUNT(*) AS BIGINT) AS n_points,
               AVG(abs(actual - pred)) AS mae,
               sqrt(AVG((actual - pred) * (actual - pred))) AS rmse,
               AVG(2.0 * abs(actual - pred)
                   / (abs(actual) + abs(pred))) AS smape
        FROM scored GROUP BY model
    ),
    ref AS (SELECT mae AS mae1 FROM metrics WHERE model = 'naive_lag1')
    SELECT m.model, m.n_points,
           ROUND(m.mae, 4) AS mae, ROUND(m.rmse, 4) AS rmse,
           ROUND(m.smape, 6) AS smape,
           ROUND(m.mae / r.mae1, 6) AS mase
    FROM metrics m, ref r
    """,
)
def ts_forecast_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forecast-accuracy scoreboard (MAE / RMSE / sMAPE / MASE) for the
    naive and seasonal-naive baselines on the daily-revenue series —
    the yardstick every real forecaster (`ts_holt_linear`,
    `ts_holt_winters`) must beat, and the standard MASE denominator.
    Facts collapse to the bounded daily series first (one hash
    aggregate, y rounded to 4dp on both engines so double sum order
    can't leak into the metrics); each model is an EQUIJOIN of the
    daily relation to itself on didx−lag (lag exploded from a 2-row
    literal — never a range join); MASE divides by the broadcast
    in-sample naive MAE scalar. Missing days simply produce no pair
    (documented: accuracy over the observed grid)."""
    from pyspark.sql import functions as F

    daily = _daily_revenue(spark, sf_dir).localCheckpoint(eager=False)
    lags = daily.sparkSession.createDataFrame(
        [("naive_lag1", 1), ("seasonal_naive_lag7", 7)], "model string, lag int"
    )
    scored = (
        daily.crossJoin(F.broadcast(lags))
        .withColumn("tgt", F.col("didx") - F.col("lag"))
        .join(
            daily.select(F.col("didx").alias("tgt"), F.col("y").alias("pred")),
            "tgt",
        )
        .select("model", F.col("y").alias("actual"), "pred")
    )
    err = F.col("actual") - F.col("pred")
    metrics = scored.groupBy("model").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.avg(F.abs(err)).alias("mae"),
        F.sqrt(F.avg(err * err)).alias("rmse"),
        F.avg(
            2.0 * F.abs(err) / (F.abs(F.col("actual")) + F.abs(F.col("pred")))
        ).alias("smape"),
    )
    ref = metrics.filter(F.col("model") == "naive_lag1").select(
        F.col("mae").alias("mae1")
    )
    return metrics.crossJoin(F.broadcast(ref)).select(
        "model",
        "n_points",
        F.round("mae", 4).alias("mae"),
        F.round("rmse", 4).alias("rmse"),
        F.round("smape", 6).alias("smape"),
        F.round(F.col("mae") / F.col("mae1"), 6).alias("mase"),
    )


@query(
    "ts_technical_indicators",
    """
    WITH """ + _DAILY_REVENUE + """,
    deltas AS (
        SELECT didx, y,
               GREATEST(y - LAG(y) OVER (ORDER BY didx), 0) AS gain,
               GREATEST(LAG(y) OVER (ORDER BY didx) - y, 0) AS loss
        FROM daily
    ),
    ind AS (
        SELECT didx, y,
               ROW_NUMBER() OVER (ORDER BY didx) AS rn,
               AVG(y) OVER w20 AS bb_mid,
               STDDEV_SAMP(y) OVER w20 AS bb_sd,
               AVG(gain) OVER w14 AS avg_gain,
               AVG(loss) OVER w14 AS avg_loss
        FROM deltas
        WINDOW w20 AS (ORDER BY didx ROWS BETWEEN 19 PRECEDING
                       AND CURRENT ROW),
               w14 AS (ORDER BY didx ROWS BETWEEN 13 PRECEDING
                       AND CURRENT ROW)
    )
    SELECT didx, y,
           ROUND(bb_mid, 4) AS bb_mid,
           ROUND(bb_mid + 2 * bb_sd, 4) AS bb_upper,
           ROUND(bb_mid - 2 * bb_sd, 4) AS bb_lower,
           ROUND((y - (bb_mid - 2 * bb_sd)) / (4 * bb_sd), 6) AS pct_b,
           ROUND(CASE WHEN avg_loss = 0 THEN 100.0
                      ELSE 100.0 - 100.0 / (1.0 + avg_gain / avg_loss)
                 END, 6) AS rsi
    FROM ind WHERE rn >= 21
    """,
)
def ts_technical_indicators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands (20-day, ±2σ), %B position, and a 14-day
    simple-average RSI over the daily-revenue series — the rolling
    mean-reversion / momentum readouts behind `stat_anomaly_flags`'s
    simpler z-score. Facts collapse to the bounded daily series FIRST
    (days are calendar-bounded: ~2.5k rows at any SF, so the single
    ordered window over the collapsed relation is the documented
    collapse-then-window pattern, not a row-level sort); all frames are
    ROWS-based so both engines agree exactly; rows before the first
    full 20-day frame are dropped (rn >= 21 also guarantees every
    LAG-based RSI frame is full). RSI uses the simple 14-day average
    (Cutler's RSI), not Wilder's recursive smoothing — documented, and
    exactly reproducible in one window on both engines."""
    from pyspark.sql import Window, functions as F

    daily = _daily_revenue(spark, sf_dir)
    ordw = Window.orderBy("didx")
    w20 = ordw.rowsBetween(-19, 0)
    w14 = ordw.rowsBetween(-13, 0)
    deltas = daily.select(
        "didx",
        "y",
        F.greatest(F.col("y") - F.lag("y").over(ordw), F.lit(0.0)).alias(
            "gain"
        ),
        F.greatest(F.lag("y").over(ordw) - F.col("y"), F.lit(0.0)).alias(
            "loss"
        ),
    )
    ind = deltas.select(
        "didx",
        "y",
        F.row_number().over(ordw).alias("rn"),
        F.avg("y").over(w20).alias("bb_mid"),
        F.stddev_samp("y").over(w20).alias("bb_sd"),
        F.avg("gain").over(w14).alias("avg_gain"),
        F.avg("loss").over(w14).alias("avg_loss"),
    )
    return ind.filter(F.col("rn") >= 21).select(
        "didx",
        "y",
        F.round("bb_mid", 4).alias("bb_mid"),
        F.round(F.col("bb_mid") + 2 * F.col("bb_sd"), 4).alias("bb_upper"),
        F.round(F.col("bb_mid") - 2 * F.col("bb_sd"), 4).alias("bb_lower"),
        F.round(
            (F.col("y") - (F.col("bb_mid") - 2 * F.col("bb_sd")))
            / (4 * F.col("bb_sd")),
            6,
        ).alias("pct_b"),
        F.round(
            F.when(F.col("avg_loss") == 0, 100.0).otherwise(
                100.0 - 100.0 / (1.0 + F.col("avg_gain") / F.col("avg_loss"))
            ),
            6,
        ).alias("rsi"),
    )


@query(
    "graph_clustering_coefficient",
    """
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    """ + _PART_PAIRS + """,
    sym AS (
      SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs
    ),
    deg AS (SELECT u AS node, COUNT(*) AS degree FROM sym GROUP BY u),
    tri AS (
      SELECT node, COUNT(*) AS triangles FROM (
        SELECT unnest([p1.u, p1.v, p2.v]) AS node
        FROM pairs p1
        JOIN pairs p2 ON p1.u = p2.u AND p1.v < p2.v
        JOIN pairs p3 ON p3.u = p1.v AND p3.v = p2.v
      ) GROUP BY node
    )
    SELECT d.node, CAST(d.degree AS BIGINT) AS degree,
           CAST(COALESCE(t.triangles, 0) AS BIGINT) AS triangles,
           ROUND(2.0 * COALESCE(t.triangles, 0)
                 / (d.degree * (d.degree - 1)), 6) AS clustering_coef
    FROM deg d LEFT JOIN tri t ON d.node = t.node
    WHERE d.degree >= 2
    """,
)
def graph_clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per part in the co-purchase graph
    — 2T(v)/(deg(v)(deg(v)−1)), the community-tightness readout that
    turns `graph_triangles_parts`'s raw counts into a comparable [0,1]
    score. Same basket-HOF edge build; triangles via the degree-
    oriented wedge algorithm (O(|E|^1.5) wedge work); degrees come
    from the SAME degree aggregate triangle_counts already builds for
    orientation (`with_degrees=True`), stitched inside the op with a
    measured broadcast — the old shape re-derived degrees with its own
    symmetrize + aggregate and stitched with an unknown-stats
    sort-merge join. Degree-1 nodes (coefficient undefined) are
    excluded on both engines."""
    from hudi_utility_spark.ops.graph import triangle_counts

    li = load_table(spark, sf_dir, "lineitem")
    baskets = _li_baskets(spark, li)
    pairs = (
        _basket_pairs(baskets)
        .distinct()
        .localCheckpoint(eager=False)
    )
    dt = triangle_counts(pairs, assume_canonical=True, with_degrees=True)
    return (
        dt.filter(F.col("degree") >= 2)
        .select(
            "node",
            F.col("degree").cast("long").alias("degree"),
            F.col("triangles").cast("long").alias("triangles"),
            F.round(
                2.0
                * F.col("triangles")
                / (F.col("degree") * (F.col("degree") - 1)),
                6,
            ).alias("clustering_coef"),
        )
    )


@query(
    "graph_shortest_paths",
    """
    WITH RECURSIVE items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    """ + _PART_PAIRS + """,
    sym AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
    walk(node, dist) AS (
        SELECT (SELECT MIN(u) FROM sym), 0
        UNION
        SELECT e.v, w.dist + 1
        FROM walk w JOIN sym e ON e.u = w.node
        WHERE w.dist < 4
    )
    SELECT node, CAST(MIN(dist) AS INTEGER) AS dist
    FROM walk GROUP BY node
    """,
)
def graph_shortest_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-hop (<=4) BFS distances from the smallest part key in
    the co-purchase graph (`ops/graph.py::bfs_hops`) — the reachability
    primitive under blast-radius and recommendation-expansion queries.
    Spark runs true frontier BFS: one equijoin + anti-join per hop
    against the persisted edge relation, frontiers localCheckpoint'd,
    O(hops * |E|) total. The oracle is the recursive-CTE twin whose
    UNION dedup bounds it to distinct (node, dist) pairs — same answer,
    and the textbook way to say it in SQL."""
    from hudi_utility_spark.ops.graph import bfs_hops, symmetrize

    li = load_table(spark, sf_dir, "lineitem")
    baskets = _li_baskets(spark, li)
    pairs = _basket_pairs(baskets).distinct()
    sym = symmetrize(pairs, assume_canonical=True)
    seeds = sym.agg(F.min("src").alias("node"))
    return bfs_hops(sym, seeds, max_hops=4).select(
        "node", F.col("dist").cast("int").alias("dist")
    )


@query(
    "stat_kendall_tau",
    """
    WITH daily AS (
        SELECT date_diff('day', DATE '1970-01-01',
                         CAST(date_trunc('day', o_orderdate) AS DATE))
                   AS didx,
               CAST(COUNT(*) AS DOUBLE) AS x,
               ROUND(SUM(o_totalprice), 4) AS y
        FROM orders GROUP BY 1
    ),
    pairs AS (
        SELECT CASE WHEN (a.x - b.x) * (a.y - b.y) > 0 THEN 1 ELSE 0 END
                   AS conc,
               CASE WHEN (a.x - b.x) * (a.y - b.y) < 0 THEN 1 ELSE 0 END
                   AS disc
        FROM daily a JOIN daily b ON a.didx < b.didx
    ),
    cd AS (
        SELECT CAST(SUM(conc) AS DOUBLE) AS c, CAST(SUM(disc) AS DOUBLE) AS d
        FROM pairs
    ),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM daily),
    tx AS (SELECT SUM(t * (t - 1) / 2.0) AS n1
           FROM (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM daily GROUP BY x)),
    ty AS (SELECT SUM(t * (t - 1) / 2.0) AS n2
           FROM (SELECT CAST(COUNT(*) AS DOUBLE) AS t FROM daily GROUP BY y))
    SELECT CAST(n.n AS BIGINT) AS n_days,
           CAST(cd.c AS BIGINT) AS concordant,
           CAST(cd.d AS BIGINT) AS discordant,
           ROUND((cd.c - cd.d)
                 / sqrt((n.n * (n.n - 1) / 2.0 - tx.n1)
                        * (n.n * (n.n - 1) / 2.0 - ty.n2)), 6) AS tau_b
    FROM cd, n, tx, ty
    """,
)
def stat_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall's tau-b (tie-corrected) between daily order count and
    daily revenue — the rank-correlation that complements
    `stat_spearman_trend` with a concordance interpretation and full
    tie handling. Facts collapse to the CALENDAR-BOUNDED daily series
    first (~2.5k rows at any SF); the pairwise pass is a broadcast
    nested-loop over that collapsed relation (<= ~3M cheap predicate
    evaluations — bounded by the calendar, never by table size), the
    same documented collapse-then-quadratic pattern as the oracle.
    Tie terms n1/n2 come from two hash aggregates over the same
    relation."""
    from pyspark.sql import functions as F

    o = load_table(spark, sf_dir, "orders")
    daily = (
        o.groupBy(_didx())
        .agg(
            F.count(F.lit(1)).cast("double").alias("x"),
            F.round(F.sum("o_totalprice"), 4).alias("y"),
        )
        .localCheckpoint(eager=False)
    )
    b = daily.select(
        F.col("didx").alias("didx2"),
        F.col("x").alias("x2"),
        F.col("y").alias("y2"),
    )
    prod = (F.col("x") - F.col("x2")) * (F.col("y") - F.col("y2"))
    cd = (
        daily.join(F.broadcast(b), F.col("didx") < F.col("didx2"))
        .agg(
            F.sum(F.when(prod > 0, 1).otherwise(0)).cast("double").alias("c"),
            F.sum(F.when(prod < 0, 1).otherwise(0)).cast("double").alias("d"),
        )
    )
    n = daily.agg(F.count(F.lit(1)).cast("double").alias("n"))
    tie = lambda col, alias: (
        daily.groupBy(col)
        .agg(F.count(F.lit(1)).cast("double").alias("t"))
        .agg(F.sum(F.col("t") * (F.col("t") - 1) / 2.0).alias(alias))
    )
    out = (
        cd.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(tie("x", "n1")))
        .crossJoin(F.broadcast(tie("y", "n2")))
    )
    n0 = F.col("n") * (F.col("n") - 1) / 2.0
    return out.select(
        F.col("n").cast("long").alias("n_days"),
        F.col("c").cast("long").alias("concordant"),
        F.col("d").cast("long").alias("discordant"),
        F.round(
            (F.col("c") - F.col("d"))
            / F.sqrt((n0 - F.col("n1")) * (n0 - F.col("n2"))),
            6,
        ).alias("tau_b"),
    )


@query(
    "stat_ljung_box",
    """
    WITH """ + _HOURLY + """,
    mu AS (SELECT AVG(y) AS mu, CAST(COUNT(*) AS DOUBLE) AS n FROM hourly),
    dev AS (SELECT hidx, y - m.mu AS dv FROM hourly, mu m),
    den AS (SELECT SUM(dv * dv) AS den FROM dev),
    lags AS (SELECT CAST(range AS INTEGER) AS lag FROM range(1, 13)),
    acf AS (
        SELECT l.lag, SUM(a.dv * b.dv) / MAX(dn.den) AS rho
        FROM dev a JOIN lags l ON TRUE
        JOIN dev b ON b.hidx = a.hidx + l.lag, den dn
        GROUP BY l.lag
    )
    SELECT lag, ROUND(rho, 6) AS acf,
           ROUND(MAX(m.n) * (MAX(m.n) + 2)
                 * SUM(rho * rho / (MAX(m.n) - lag))
                       OVER (ORDER BY lag
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW), 4) AS q_stat
    FROM acf, mu m
    GROUP BY lag, rho
    """,
)
def stat_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau statistic Q(h) for h = 1..12 on the hourly
    mean-value series — turns `ts_acf_profile`'s lag-by-lag view into
    ONE cumulative whiteness test (Q ~ chi2(h) under the null), the
    standard residual-autocorrelation gate after fitting
    `ts_holt_linear`-style smoothers. Same collapsed-series equijoin
    ACF build (lags exploded from a 12-element sequence); the
    cumulative sum runs over the 12-row ACF relation."""
    from pyspark.sql import Window, functions as F

    hourly = _hourly_means(spark, sf_dir)
    mu = hourly.agg(
        F.avg("y").alias("mu"), F.count(F.lit(1)).cast("double").alias("n")
    )
    pairs, den = _lag_pairs(hourly, mu)
    acf = (
        pairs.groupBy("lag")
        .agg(F.sum(F.col("dv") * F.col("dv2")).alias("num"))
        .crossJoin(F.broadcast(den))
        .select("lag", (F.col("num") / F.col("den")).alias("rho"))
    )
    w = Window.orderBy("lag").rowsBetween(Window.unboundedPreceding, 0)
    return (
        acf.crossJoin(F.broadcast(mu.select("n")))
        .select(
            "lag",
            F.round("rho", 6).alias("acf"),
            F.round(
                F.col("n")
                * (F.col("n") + 2)
                * F.sum(
                    F.col("rho") * F.col("rho") / (F.col("n") - F.col("lag"))
                ).over(w),
                4,
            ).alias("q_stat"),
        )
    )


@query(
    "stat_grubbs_outlier",
    """
    WITH """ + _DAILY_REVENUE + """,
    st AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n, AVG(y) AS mu,
               STDDEV_SAMP(y) AS sd
        FROM daily
    ),
    ranked AS (
        SELECT d.didx, d.y, ROUND(abs(d.y - s.mu), 4) AS dev,
               s.n, s.mu, s.sd
        FROM daily d, st s
        ORDER BY ROUND(abs(d.y - s.mu), 4) DESC, d.didx ASC
        LIMIT 1
    )
    SELECT n AS n_days, ROUND(mu, 4) AS mean_y, ROUND(sd, 4) AS sd_y,
           didx AS worst_didx, y AS worst_y,
           ROUND(dev / sd, 6) AS g_stat
    FROM ranked
    """,
)
def stat_grubbs_outlier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grubbs' outlier statistic G = max|y - mu| / s over the daily
    revenue series, plus the offending day — the single-worst-point
    test behind `stat_anomaly_flags`' per-row z-scores. Stats are one
    aggregate over the collapsed calendar-bounded series; the argmax
    ranks on the 4dp-ROUNDED deviation with didx as tiebreak (the
    round-before-rank discipline, so ulp-level mean drift between
    engines can't flip the winner)."""
    from pyspark.sql import functions as F

    daily = _daily_revenue(spark, sf_dir)
    st = daily.agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("y").alias("mu"),
        F.stddev_samp("y").alias("sd"),
    )
    ranked = (
        daily.crossJoin(F.broadcast(st))
        .withColumn("dev", F.round(F.abs(F.col("y") - F.col("mu")), 4))
        .orderBy(F.desc("dev"), F.asc("didx"))
        .limit(1)
    )
    return ranked.select(
        F.col("n").alias("n_days"),
        F.round("mu", 4).alias("mean_y"),
        F.round("sd", 4).alias("sd_y"),
        F.col("didx").alias("worst_didx"),
        F.col("y").alias("worst_y"),
        F.round(F.col("dev") / F.col("sd"), 6).alias("g_stat"),
    )


@query(
    "ev_cohort_ltv",
    """
    WITH first_seen AS (
        SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE)
                   AS cohort_week
        FROM events GROUP BY user_id
    ),
    sizes AS (
        SELECT cohort_week, CAST(COUNT(*) AS DOUBLE) AS cohort_size
        FROM first_seen GROUP BY cohort_week
    ),
    rev AS (
        SELECT f.cohort_week,
               CAST((CAST(date_trunc('week', e.ts) AS DATE) - f.cohort_week)
                    / 7 AS INTEGER) AS week_offset,
               SUM(e.value) AS revenue
        FROM events e JOIN first_seen f ON e.user_id = f.user_id
        WHERE e.event_type = 'purchase' AND e.value IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT r.cohort_week, r.week_offset,
           CAST(s.cohort_size AS BIGINT) AS cohort_size,
           ROUND(r.revenue, 4) AS revenue,
           ROUND(SUM(r.revenue) OVER (
                     PARTITION BY r.cohort_week ORDER BY r.week_offset
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 / s.cohort_size, 6) AS cum_ltv_per_user
    FROM rev r JOIN sizes s ON r.cohort_week = s.cohort_week
    """,
)
def ev_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: cumulative purchase revenue per
    user by weeks-since-first-seen — the monetization twin of
    `ev_retention_cohorts` (retention says who comes back, LTV says
    what they're worth, and the payback-period readout falls out of
    where the curve crosses acquisition cost). Facts collapse to the
    (cohort, offset) matrix first — weeks², driver-tiny — so the
    cumulative window runs per cohort over that matrix, never over
    events; cohort sizes ride a broadcast join."""
    from pyspark.sql import Window, functions as F

    e = load_table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    sizes = first_seen.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("double").alias("cohort_size")
    )
    rev = (
        e.filter(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        )
        .join(first_seen, "user_id")
        .select(
            "cohort_week",
            (
                F.datediff(
                    F.date_trunc("week", F.col("ts")).cast("date"),
                    F.col("cohort_week"),
                )
                / 7
            )
            .cast("int")
            .alias("week_offset"),
            "value",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.sum("value").alias("revenue"))
    )
    w = (
        Window.partitionBy("cohort_week")
        .orderBy("week_offset")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        rev.join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            F.col("cohort_size").cast("long").alias("cohort_size"),
            F.round("revenue", 4).alias("revenue"),
            F.round(
                F.sum("revenue").over(w) / F.col("cohort_size"), 6
            ).alias("cum_ltv_per_user"),
        )
    )


@query(
    "ev_qini_uplift",
    """
    WITH users AS (
        SELECT user_id, CAST(user_id % 2 AS INTEGER) AS treated,
               ROUND(COALESCE(SUM(value), 0), 4) AS score,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    >= 14 AS INTEGER) AS converted
        FROM events GROUP BY user_id
    ),
    b AS (
        SELECT quantile_cont(score, [0.1, 0.2, 0.3, 0.4, 0.5,
                                     0.6, 0.7, 0.8, 0.9]) AS qs
        FROM users
    ),
    seg AS (
        SELECT CAST(1 + (score > b.qs[1])::INT + (score > b.qs[2])::INT
                      + (score > b.qs[3])::INT + (score > b.qs[4])::INT
                      + (score > b.qs[5])::INT + (score > b.qs[6])::INT
                      + (score > b.qs[7])::INT + (score > b.qs[8])::INT
                      + (score > b.qs[9])::INT AS INTEGER) AS decile,
               treated, converted
        FROM users, b
    ),
    per AS (
        SELECT decile,
               CAST(SUM(treated) AS DOUBLE) AS nt,
               CAST(SUM(1 - treated) AS DOUBLE) AS nc,
               CAST(SUM(treated * converted) AS DOUBLE) AS yt,
               CAST(SUM((1 - treated) * converted) AS DOUBLE) AS yc
        FROM seg GROUP BY decile
    ),
    cum AS (
        SELECT decile,
               SUM(nt) OVER w AS cnt, SUM(nc) OVER w AS cnc,
               SUM(yt) OVER w AS cyt, SUM(yc) OVER w AS cyc
        FROM per
        WINDOW w AS (ORDER BY decile DESC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT decile,
           CAST(cnt AS BIGINT) AS cum_treated,
           CAST(cnc AS BIGINT) AS cum_control,
           ROUND(cyt / cnt - cyc / cnc, 6) AS uplift_rate,
           ROUND(cyt - cyc * cnt / cnc, 6) AS qini
    FROM cum
    """,
)
def ev_qini_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qini / uplift curve by score decile: targeting the top-k% of
    users by engagement score, the incremental heavy-purchaser (>= 14
    purchases) conversions the
    treatment (deterministic user-parity assignment, the repo's A/B
    convention) buys over control — the readout that separates
    PERSUADABLE users from sure-things, which `ml_lift_gains_curve`'s
    single-arm lift cannot see. Facts collapse to one row per user;
    decile boundaries come from one exact percentile aggregate (9
    scalars broadcast, map-only binning — never an NTILE over facts);
    cumulative sums run over the 10-row decile relation."""
    from pyspark.sql import Window, functions as F

    ev = load_table(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.round(F.coalesce(F.sum("value"), F.lit(0.0)), 4).alias("score"),
        (
            F.sum((F.col("event_type") == "purchase").cast("int")) >= 14
        )
        .cast("int")
        .alias("converted"),
    ).select(
        (F.col("user_id") % 2).cast("int").alias("treated"),
        "score",
        "converted",
    )
    probs = F.array(*[F.lit(i / 10.0) for i in range(1, 10)])
    b = users.agg(F.percentile("score", probs).alias("qs"))
    seg_expr = F.lit(1)
    for i in range(1, 10):
        seg_expr = seg_expr + (
            F.col("score") > F.element_at(F.col("qs"), i)
        ).cast("int")
    per = (
        users.crossJoin(F.broadcast(b))
        .select(seg_expr.cast("int").alias("decile"), "treated", "converted")
        .groupBy("decile")
        .agg(
            F.sum("treated").cast("double").alias("nt"),
            F.sum(1 - F.col("treated")).cast("double").alias("nc"),
            F.sum(F.col("treated") * F.col("converted"))
            .cast("double")
            .alias("yt"),
            F.sum((1 - F.col("treated")) * F.col("converted"))
            .cast("double")
            .alias("yc"),
        )
    )
    w = Window.orderBy(F.desc("decile")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return per.select(
        "decile",
        F.sum("nt").over(w).alias("cnt"),
        F.sum("nc").over(w).alias("cnc"),
        F.sum("yt").over(w).alias("cyt"),
        F.sum("yc").over(w).alias("cyc"),
    ).select(
        "decile",
        F.col("cnt").cast("long").alias("cum_treated"),
        F.col("cnc").cast("long").alias("cum_control"),
        F.round(
            F.col("cyt") / F.col("cnt") - F.col("cyc") / F.col("cnc"), 6
        ).alias("uplift_rate"),
        F.round(
            F.col("cyt") - F.col("cyc") * F.col("cnt") / F.col("cnc"), 6
        ).alias("qini"),
    )


@query(
    "ev_tost_equivalence",
    """
    WITH s AS (
        SELECT CAST(user_id % 2 AS INTEGER) AS g, value AS v
        FROM events WHERE event_type = 'purchase' AND value IS NOT NULL
    ),
    agg AS (
        SELECT CAST(SUM(g) AS DOUBLE) AS n1,
               SUM(g * v) AS s1, SUM(g * v * v) AS q1,
               CAST(SUM(1 - g) AS DOUBLE) AS n2,
               SUM((1 - g) * v) AS s2, SUM((1 - g) * v * v) AS q2
        FROM s
    ),
    st AS (
        SELECT n1, n2, s1 / n1 AS m1, s2 / n2 AS m2,
               (q1 - s1 * s1 / n1) / (n1 - 1) AS v1,
               (q2 - s2 * s2 / n2) / (n2 - 1) AS v2
        FROM agg
    ),
    t AS (
        SELECT n1, n2, m1 - m2 AS delta,
               0.05 * (m1 + m2) / 2 AS margin,
               sqrt(v1 / n1 + v2 / n2) AS se
        FROM st
    )
    SELECT CAST(n1 AS BIGINT) AS n_treated, CAST(n2 AS BIGINT) AS n_control,
           ROUND(delta, 6) AS delta, ROUND(margin, 6) AS margin,
           ROUND(se, 6) AS se,
           ROUND((delta + margin) / se, 6) AS t_lower,
           ROUND((margin - delta) / se, 6) AS t_upper,
           ROUND((delta + margin) / se, 6) > 1.645
               AND ROUND((margin - delta) / se, 6) > 1.645 AS equivalent
    FROM t
    """,
)
def ev_tost_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TOST (two one-sided tests) equivalence check on purchase value
    between the parity arms, margin = ±5% of the grand mean — the
    inverse question to `stat_welch_ttest`: not "is there a
    difference?" but "can we AFFIRM there is no material one?" — the
    test a do-no-harm launch gate actually needs (non-significance is
    not equivalence). Same one-pass six-sufficient-statistics Welch
    aggregate; both one-sided t's against the z_0.95 critical value,
    compared on the ROUNDED statistics so both engines decide
    identically."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    s = ev.filter(
        (F.col("event_type") == "purchase") & F.col("value").isNotNull()
    ).select(
        (F.col("user_id") % 2).cast("int").alias("g"),
        F.col("value").alias("v"),
    )
    g, v = F.col("g"), F.col("v")
    agg = s.agg(
        F.sum(g).cast("double").alias("n1"),
        F.sum(g * v).alias("s1"),
        F.sum(g * v * v).alias("q1"),
        F.sum(1 - g).cast("double").alias("n2"),
        F.sum((1 - g) * v).alias("s2"),
        F.sum((1 - g) * v * v).alias("q2"),
    )
    m1 = F.col("s1") / F.col("n1")
    m2 = F.col("s2") / F.col("n2")
    v1 = (F.col("q1") - F.col("s1") * F.col("s1") / F.col("n1")) / (
        F.col("n1") - 1
    )
    v2 = (F.col("q2") - F.col("s2") * F.col("s2") / F.col("n2")) / (
        F.col("n2") - 1
    )
    st = agg.select(
        "n1",
        "n2",
        (m1 - m2).alias("delta"),
        (0.05 * (m1 + m2) / 2).alias("margin"),
        F.sqrt(v1 / F.col("n1") + v2 / F.col("n2")).alias("se"),
    )
    t_lo = F.round((F.col("delta") + F.col("margin")) / F.col("se"), 6)
    t_hi = F.round((F.col("margin") - F.col("delta")) / F.col("se"), 6)
    return st.select(
        F.col("n1").cast("long").alias("n_treated"),
        F.col("n2").cast("long").alias("n_control"),
        F.round("delta", 6).alias("delta"),
        F.round("margin", 6).alias("margin"),
        F.round("se", 6).alias("se"),
        t_lo.alias("t_lower"),
        t_hi.alias("t_upper"),
        ((t_lo > 1.645) & (t_hi > 1.645)).alias("equivalent"),
    )


@query(
    "stat_fleiss_kappa",
    r"""
    WITH rated AS (
        SELECT doc_id,
               CAST(n_chars > 300 AS INTEGER)
             + CAST(len(string_split_regex(trim(text), '\s+')) > 55
                    AS INTEGER)
             + CAST(n_chars * 1.0
                    / len(string_split_regex(trim(text), '\s+')) > 5.45
                    AS INTEGER) AS n_good
        FROM documents
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
               AVG((n_good * (n_good - 1)
                    + (3 - n_good) * (2 - n_good)) / 6.0) AS p_bar,
               SUM(n_good) / (3.0 * COUNT(*)) AS p_good
        FROM rated
    )
    SELECT CAST(n_docs AS BIGINT) AS n_docs,
           ROUND(p_good, 6) AS p_good,
           ROUND(p_bar, 6) AS p_bar,
           ROUND(p_good * p_good + (1 - p_good) * (1 - p_good), 6) AS p_e,
           ROUND((p_bar - (p_good * p_good + (1 - p_good) * (1 - p_good)))
                 / (1 - (p_good * p_good + (1 - p_good) * (1 - p_good))), 6)
               AS fleiss_kappa
    FROM agg
    """,
)
def stat_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fleiss' kappa across THREE deterministic quality raters
    (length, word-count, chars-per-word rules) labeling every document
    good/bad — the multi-rater generalization of `dq_cohen_kappa`, and
    the agreement gate a labeling pipeline runs before trusting
    ensembled heuristic filters. Per-doc agreement P_i has the closed
    form (n_good(n_good-1) + n_bad(n_bad-1))/(k(k-1)) with k=3, so the
    whole statistic is ONE map-side aggregate — no rater matrix is
    materialized."""
    from pyspark.sql import functions as F

    d = load_table(spark, sf_dir, "documents")
    words = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    n_good = (
        (F.col("n_chars") > 300).cast("int")
        + (words > 55).cast("int")
        + (F.col("n_chars") / words > 5.45).cast("int")
    )
    rated = d.select(n_good.alias("n_good"))
    p_i = (
        F.col("n_good") * (F.col("n_good") - 1)
        + (3 - F.col("n_good")) * (2 - F.col("n_good"))
    ) / 6.0
    agg = rated.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg(p_i).alias("p_bar"),
        (F.sum("n_good") / (3.0 * F.count(F.lit(1)))).alias("p_good"),
    )
    pe = F.col("p_good") * F.col("p_good") + (1 - F.col("p_good")) * (
        1 - F.col("p_good")
    )
    return agg.select(
        F.col("n_docs").cast("long").alias("n_docs"),
        F.round("p_good", 6).alias("p_good"),
        F.round("p_bar", 6).alias("p_bar"),
        F.round(pe, 6).alias("p_e"),
        F.round((F.col("p_bar") - pe) / (1 - pe), 6).alias("fleiss_kappa"),
    )


@query(
    "ev_dau_mau_stickiness",
    """
    WITH daily AS (
        SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
               CAST(date_trunc('day', ts) AS DATE) AS day,
               CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS dau
        FROM events GROUP BY 1, 2
    ),
    monthly AS (
        SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
               CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS mau
        FROM events GROUP BY 1
    )
    SELECT d.month,
           CAST(COUNT(*) AS BIGINT) AS active_days,
           ROUND(AVG(d.dau), 4) AS avg_dau,
           CAST(MAX(m.mau) AS BIGINT) AS mau,
           ROUND(AVG(d.dau) / MAX(m.mau), 6) AS stickiness
    FROM daily d JOIN monthly m ON d.month = m.month
    GROUP BY d.month
    """,
)
def ev_dau_mau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/MAU stickiness per month — the engagement-frequency ratio
    (what fraction of the monthly audience shows up on an average day)
    that `ev_user_growth`'s raw counts and `ev_retention_cohorts`'
    return rates don't give directly. Two COUNT DISTINCT aggregates
    (day and month grain — each one shuffle keyed on user_id) joined on
    the month; the result relation is months-sized."""
    from pyspark.sql import functions as F

    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_trunc("month", F.col("ts")).cast("date").alias("month"),
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
    ).agg(F.count_distinct("user_id").cast("double").alias("dau"))
    monthly = e.groupBy(
        F.date_trunc("month", F.col("ts")).cast("date").alias("month")
    ).agg(F.count_distinct("user_id").cast("double").alias("mau"))
    return (
        daily.join(F.broadcast(monthly), "month")
        .groupBy("month")
        .agg(
            F.count(F.lit(1)).alias("active_days"),
            F.round(F.avg("dau"), 4).alias("avg_dau"),
            F.max("mau").cast("long").alias("mau"),
            F.round(F.avg("dau") / F.max("mau"), 6).alias("stickiness"),
        )
    )


@query(
    "graph_assortativity",
    """
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    """ + _PART_PAIRS + """,
    sym AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
    deg AS (SELECT u AS node, CAST(COUNT(*) AS DOUBLE) AS d FROM sym
            GROUP BY u),
    ed AS (
        SELECT du.d AS x, dv.d AS y
        FROM sym s JOIN deg du ON s.u = du.node
        JOIN deg dv ON s.v = dv.node
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(x) AS sx, SUM(y) AS sy,
               SUM(x * y) AS sxy, SUM(x * x) AS sxx, SUM(y * y) AS syy
        FROM ed
    )
    SELECT CAST(n AS BIGINT) AS n_directed_edges,
           ROUND((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6)
               AS assortativity
    FROM agg
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the co-purchase graph — the Pearson
    correlation of endpoint degrees over the symmetrized edge list
    (Newman 2002): positive = hubs buy with hubs (social-network-like),
    negative = hub-and-spoke (catalog-like) — the one-number structure
    readout `graph_degree_distribution` can't give. Degrees are one
    hash aggregate; the edge-endpoint join is two equijoins on node;
    the correlation is one map-combinable six-sum aggregate (degree
    sums are exact integers in doubles — no rounding hazard before the
    final statistic)."""
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    b = items.select(
        F.col("l_orderkey").alias("l_orderkey"),
        F.col("l_partkey").alias("p2"),
    )
    pairs = (
        items.join(b, "l_orderkey")
        .filter(F.col("l_partkey") < F.col("p2"))
        .select(F.col("l_partkey").alias("u"), F.col("p2").alias("v"))
        .distinct()
    )
    sym = pairs.select("u", "v").union(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint(eager=False)
    # node-sized degree relation: checkpoint once for its two join
    # consumers and broadcast under a measured gate (the planner saw
    # unknown aggregate stats and picked sort-merge, exchanging the
    # full symmetric edge list twice — the triangle_counts fix)
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("double").alias("d")
    ).localCheckpoint(eager=False)
    dx = deg.select(F.col("node").alias("u"), F.col("d").alias("x"))
    dy = deg.select(F.col("node").alias("v"), F.col("d").alias("y"))
    if deg.count() <= 2_000_000:
        dx, dy = F.broadcast(dx), F.broadcast(dy)
    ed = sym.join(dx, "u").join(dy, "v").select("x", "y")
    agg = ed.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    return agg.select(
        n.cast("long").alias("n_directed_edges"),
        F.round(
            (n * F.col("sxy") - sx * sy)
            / F.sqrt(
                (n * F.col("sxx") - sx * sx) * (n * F.col("syy") - sy * sy)
            ),
            6,
        ).alias("assortativity"),
    )


@query(
    "ts_seasonal_strength",
    """
    WITH """ + _HOURLY + """,
    tr AS (
        SELECT hidx, y,
               AVG(y) OVER w AS trend,
               COUNT(*) OVER w AS frame_n
        FROM hourly
        WINDOW w AS (ORDER BY hidx ROWS BETWEEN 11 PRECEDING
                     AND 12 FOLLOWING)
    ),
    det AS (
        SELECT hidx, y, trend, y - trend AS detrended, hidx % 24 AS hod
        FROM tr WHERE frame_n = 24
    ),
    seas AS (
        SELECT hod, AVG(detrended) AS s FROM det GROUP BY hod
    ),
    parts AS (
        SELECT d.y, d.trend, s.s, d.detrended - s.s AS resid
        FROM det d JOIN seas s ON d.hod = s.hod
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_hours,
           ROUND(GREATEST(0, 1 - var_samp(resid)
                                 / var_samp(trend + resid)), 6)
               AS trend_strength,
           ROUND(GREATEST(0, 1 - var_samp(resid)
                                 / var_samp(detrended)), 6)
               AS seasonal_strength
    FROM (SELECT y, trend, s, resid, resid + s AS detrended FROM parts)
    """,
)
def ts_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trend and seasonal strength (Wang-Smith-Hyndman, the `tsfeatures`
    / STL-strength definition: 1 − Var(R)/Var(T+R) and
    1 − Var(R)/Var(S+R)) from a classical additive decomposition of the
    hourly series — the two numbers that tell a forecaster whether
    `ts_holt_linear` (trend) or `ts_holt_winters` (seasonality) is even
    worth fitting. Trend = centered 24-hour rolling mean over the
    COLLAPSED hourly relation (full frames only), seasonal = hour-of-day
    means of the detrended series (24-row relation, broadcast back);
    both strengths come from one variance aggregate."""
    from pyspark.sql import Window, functions as F

    hourly = _hourly_means(spark, sf_dir)
    w = Window.orderBy("hidx").rowsBetween(-11, 12)
    det = (
        hourly.select(
            "hidx",
            "y",
            F.avg("y").over(w).alias("trend"),
            F.count(F.lit(1)).over(w).alias("frame_n"),
        )
        .filter(F.col("frame_n") == 24)
        .select(
            "hidx",
            "y",
            "trend",
            (F.col("y") - F.col("trend")).alias("detrended"),
            (F.col("hidx") % 24).alias("hod"),
        )
        .localCheckpoint(eager=False)
    )
    seas = det.groupBy("hod").agg(F.avg("detrended").alias("s"))
    parts = det.join(F.broadcast(seas), "hod").select(
        "trend",
        "s",
        (F.col("detrended") - F.col("s")).alias("resid"),
        F.col("detrended").alias("detrended"),
    )
    return parts.agg(
        F.count(F.lit(1)).alias("n_hours"),
        F.round(
            F.greatest(
                F.lit(0.0),
                1
                - F.var_samp("resid")
                / F.var_samp(F.col("trend") + F.col("resid")),
            ),
            6,
        ).alias("trend_strength"),
        F.round(
            F.greatest(
                F.lit(0.0),
                1 - F.var_samp("resid") / F.var_samp("detrended"),
            ),
            6,
        ).alias("seasonal_strength"),
    )


@query(
    "ev_time_to_convert",
    """
    WITH firsts AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END)
                   AS t_purchase
        FROM events GROUP BY user_id
    ),
    conv AS (
        SELECT (epoch_us(t_purchase) - epoch_us(t_signup)) / 3600000000.0
                   AS hours
        FROM firsts
        WHERE t_signup IS NOT NULL AND t_purchase IS NOT NULL
          AND t_purchase >= t_signup
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_converted,
           ROUND(quantile_cont(hours, 0.25), 4) AS p25_hours,
           ROUND(quantile_cont(hours, 0.50), 4) AS p50_hours,
           ROUND(quantile_cont(hours, 0.75), 4) AS p75_hours,
           ROUND(quantile_cont(hours, 0.90), 4) AS p90_hours,
           ROUND(AVG(hours), 4) AS mean_hours
    FROM conv
    """,
)
def ev_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: quantiles of first-signup →
    first-purchase latency per user — the DURATION readout the funnel
    (`ev_funnel_conversion` counts who) and attribution (which channel)
    leave out, and the input to any conversion-window choice. One
    user-keyed aggregate collapses events to two firsts per user;
    latencies are exact microsecond differences; the quantile is one
    exact-percentile aggregate over converted users."""
    from pyspark.sql import functions as F

    e = load_table(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "signup", F.col("ts"))
        ).alias("t_signup"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("t_purchase"),
    )
    conv = firsts.filter(
        F.col("t_signup").isNotNull()
        & F.col("t_purchase").isNotNull()
        & (F.col("t_purchase") >= F.col("t_signup"))
    ).select(
        (
            (us("t_purchase") - us("t_signup")) / F.lit(3_600_000_000.0)
        ).alias("hours")
    )
    return conv.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.round(F.percentile("hours", F.lit(0.25)), 4).alias("p25_hours"),
        F.round(F.percentile("hours", F.lit(0.50)), 4).alias("p50_hours"),
        F.round(F.percentile("hours", F.lit(0.75)), 4).alias("p75_hours"),
        F.round(F.percentile("hours", F.lit(0.90)), 4).alias("p90_hours"),
        F.round(F.avg("hours"), 4).alias("mean_hours"),
    )


def _platt_oracle() -> str:
    """`ops/mlfit.py::logistic_fit` with ONE feature (the event value,
    rescaled) unrolled into per-iteration CTEs — the same schedule and
    quantization as `_logreg_oracle`, plus a calibration readout CTE
    comparing the mean fitted probability to the base rate."""
    feats = """
feats AS (
  SELECT value/100.0 AS s,
         CAST(event_type = 'purchase' AS INT) AS y
  FROM events WHERE value IS NOT NULL
)"""
    lr, q = _LOGREG_LR, _LOGREG_Q
    ctes = [feats]
    for i in range(1, _LOGREG_ITERS + 1):
        src = "w0" if i == 1 else f"it{i - 1}"
        ctes.append(f"""
it{i} AS (
  SELECT ROUND(MAX(wb) - {lr}*SUM(p - y)/COUNT(*), {q}) AS b,
         ROUND(MAX(ww) - {lr}*SUM((p - y)*s)/COUNT(*), {q}) AS w
  FROM (SELECT f.*, w.b AS wb, w.w AS ww,
               1.0/(1.0 + EXP(-(w.b + w.w*f.s))) AS p
        FROM feats f CROSS JOIN {src} w)
)""")
    last = f"it{_LOGREG_ITERS}"
    return (
        "WITH w0 AS (SELECT 0.0 AS b, 0.0 AS w), "
        + ", ".join(ctes)
        + f""",
cal AS (
  SELECT AVG(1.0/(1.0 + EXP(-(w.b + w.w*f.s)))) AS mean_p,
         AVG(CAST(f.y AS DOUBLE)) AS base
  FROM feats f CROSS JOIN {last} w
)
SELECT 'bias' AS metric, b AS value FROM {last}
UNION ALL SELECT 'slope', w FROM {last}
UNION ALL SELECT 'mean_calibrated', ROUND(mean_p, 6) FROM cal
UNION ALL SELECT 'base_rate', ROUND(base, 6) FROM cal"""
    )


@query("ml_platt_scaling", _platt_oracle())
def ml_platt_scaling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Platt scaling: a one-feature logistic fit mapping the raw event
    value to a purchase probability — the PARAMETRIC calibrator that
    completes the repo's calibration triad (`ml_isotonic_calibration`
    is the non-parametric one, `ml_calibration_ece` the scorecard).
    Reuses `ops/mlfit.py::logistic_fit` unchanged (3 GD iterations,
    each one map-combinable aggregate + a 2-scalar collect,
    per-iteration round-6 quantization keeping the oracle's unrolled
    CTEs bit-aligned); the readout compares mean fitted probability to
    the base rate — the sanity identity a calibrated sigmoid should
    approach."""
    from hudi_utility_spark.ops.mlfit import logistic_fit

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    feats = ev.select(
        (F.col("value") / F.lit(100.0)).alias("s"),
        (F.col("event_type") == "purchase").cast("int").alias("y"),
    ).localCheckpoint(eager=False)
    b, w = logistic_fit(
        feats, ["s"], "y", iters=_LOGREG_ITERS, lr=_LOGREG_LR,
        round_to=_LOGREG_Q,
    )
    p = 1.0 / (1.0 + F.exp(-(F.lit(b) + F.lit(w) * F.col("s"))))
    cal = feats.agg(
        F.round(F.avg(p), 6).alias("mean_p"),
        F.round(F.avg(F.col("y").cast("double")), 6).alias("base"),
    ).collect()[0]
    return spark.createDataFrame(
        [
            ("bias", float(b)),
            ("slope", float(w)),
            ("mean_calibrated", float(cal["mean_p"])),
            ("base_rate", float(cal["base"])),
        ],
        "metric string, value double",
    )


@query(
    "ts_gaps_islands",
    """
    WITH hourly AS (
        SELECT DISTINCT CAST(epoch_us(date_trunc('hour', ts)) / 3600000000
                             AS BIGINT) AS hidx
        FROM events
    ),
    grp AS (
        SELECT hidx,
               hidx - ROW_NUMBER() OVER (ORDER BY hidx) AS island_key
        FROM hourly
    ),
    islands AS (
        SELECT MIN(hidx) AS start_hidx, MAX(hidx) AS end_hidx,
               CAST(COUNT(*) AS BIGINT) AS n_hours
        FROM grp GROUP BY island_key
    )
    SELECT start_hidx, end_hidx, n_hours,
           COALESCE(start_hidx - LAG(end_hidx)
                        OVER (ORDER BY start_hidx) - 1, 0) AS gap_before
    FROM islands
    """,
)
def ts_gaps_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands over the observed hourly grid: contiguous runs
    of hours with events (start, end, length) and the silent gap before
    each — THE classic sequence-reconstruction idiom (hidx minus dense
    row number is constant within a run), and the outage/ingest-lag
    readout behind `dq_freshness_audit`'s single lag number. Both
    windows run over the COLLAPSED distinct-hour relation
    (calendar-bounded), the documented collapse-then-window pattern."""
    from pyspark.sql import Window, functions as F

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.select(_hidx().alias("hidx")).distinct()
    grp = hourly.select(
        "hidx",
        (F.col("hidx") - F.row_number().over(Window.orderBy("hidx"))).alias(
            "island_key"
        ),
    )
    islands = grp.groupBy("island_key").agg(
        F.min("hidx").alias("start_hidx"),
        F.max("hidx").alias("end_hidx"),
        F.count(F.lit(1)).alias("n_hours"),
    )
    w = Window.orderBy("start_hidx")
    return islands.select(
        "start_hidx",
        "end_hidx",
        "n_hours",
        F.coalesce(
            F.col("start_hidx") - F.lag("end_hidx").over(w) - 1, F.lit(0)
        ).alias("gap_before"),
    )


@query(
    "ev_survival_kaplan_meier",
    """
    WITH bounds AS (SELECT MAX(ts) AS t_end FROM events),
    users AS (
        SELECT user_id,
               CAST(date_diff('day', CAST(MIN(ts) AS DATE),
                              CAST(MAX(ts) AS DATE)) AS BIGINT)
                   AS duration_days,
               CAST(epoch_us(b.t_end) - epoch_us(MAX(ts))
                    > 7 * 86400000000.0 AS INTEGER) AS churned
        FROM events, bounds b GROUP BY user_id, b.t_end
    ),
    tot AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_users FROM users),
    per_t AS (
        SELECT duration_days,
               CAST(COUNT(*) AS DOUBLE) AS leaving,
               CAST(SUM(churned) AS DOUBLE) AS d
        FROM users GROUP BY duration_days
    ),
    risk AS (
        SELECT duration_days, d, leaving,
               t.n_users
               - COALESCE(SUM(leaving) OVER (
                     ORDER BY duration_days
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS n_risk
        FROM per_t, tot t
    ),
    km AS (
        SELECT duration_days, CAST(d AS BIGINT) AS d_events,
               CAST(n_risk AS BIGINT) AS n_at_risk,
               exp(SUM(CASE WHEN d < n_risk AND d > 0
                            THEN ln(1 - d / n_risk) ELSE 0 END)
                       OVER (ORDER BY duration_days
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW)) AS s_raw,
               MAX(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
                   OVER (ORDER BY duration_days
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS hit_zero
        FROM risk
    )
    SELECT duration_days, d_events, n_at_risk,
           ROUND(CASE WHEN hit_zero = 1 THEN 0.0 ELSE s_raw END, 6)
               AS survival
    FROM km
    """,
)
def ev_survival_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve of user lifetime (first→last event,
    in days; a user still active within 7 days of the corpus end is
    CENSORED, not churned — the right-censoring that makes naive churn
    averages wrong and KM the standard fix). Facts collapse to one row
    per user, then to the distinct-duration relation (calendar-bounded)
    where the at-risk counts, the Π(1−d/n) product (as exp of a
    cumulative ln sum — zero-survival handled by an explicit flag since
    Spark's ln(0) is NULL while SQL's is -inf), and the curve all live.
    The classic churn readout next to `ev_retention_cohorts`."""
    from pyspark.sql import Window, functions as F

    e = load_table(spark, sf_dir, "events")
    bounds = e.agg(F.max("ts").alias("t_end"))
    users = (
        e.crossJoin(F.broadcast(bounds))
        .groupBy("user_id")
        .agg(
            F.datediff(
                F.max("ts").cast("date"), F.min("ts").cast("date")
            )
            .cast("long")
            .alias("duration_days"),
            (
                (us(F.max("t_end")) - us(F.max("ts")))
                > 7 * 86_400_000_000.0
            )
            .cast("int")
            .alias("churned"),
        )
    )
    tot = users.agg(F.count(F.lit(1)).cast("double").alias("n_users"))
    per_t = users.groupBy("duration_days").agg(
        F.count(F.lit(1)).cast("double").alias("leaving"),
        F.sum("churned").cast("double").alias("d"),
    )
    w_prev = Window.orderBy("duration_days").rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_cum = Window.orderBy("duration_days").rowsBetween(
        Window.unboundedPreceding, 0
    )
    risk = per_t.crossJoin(F.broadcast(tot)).select(
        "duration_days",
        "d",
        (
            F.col("n_users")
            - F.coalesce(F.sum("leaving").over(w_prev), F.lit(0.0))
        ).alias("n_risk"),
    )
    ln_term = F.when(
        (F.col("d") < F.col("n_risk")) & (F.col("d") > 0),
        F.log(1 - F.col("d") / F.col("n_risk")),
    ).otherwise(0.0)
    km = risk.select(
        "duration_days",
        F.col("d").cast("long").alias("d_events"),
        F.col("n_risk").cast("long").alias("n_at_risk"),
        F.exp(F.sum(ln_term).over(w_cum)).alias("s_raw"),
        F.max(
            F.when(F.col("d") >= F.col("n_risk"), 1).otherwise(0)
        )
        .over(w_cum)
        .alias("hit_zero"),
    )
    return km.select(
        "duration_days",
        "d_events",
        "n_at_risk",
        F.round(
            F.when(F.col("hit_zero") == 1, 0.0).otherwise(F.col("s_raw")), 6
        ).alias("survival"),
    )


@query(
    "graph_modularity",
    """
    WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    """ + _PART_PAIRS + """,
    lab AS (
        SELECT pairs.u, pairs.v, pu.p_brand AS cu, pv.p_brand AS cv
        FROM pairs JOIN part pu ON pairs.u = pu.p_partkey
        JOIN part pv ON pairs.v = pv.p_partkey
    ),
    m AS (SELECT CAST(COUNT(*) AS DOUBLE) AS m FROM lab),
    intra AS (
        SELECT cu AS community, CAST(COUNT(*) AS DOUBLE) AS l_c
        FROM lab WHERE cu = cv GROUP BY cu
    ),
    degs AS (
        SELECT community, CAST(SUM(cnt) AS DOUBLE) AS d_c FROM (
            SELECT cu AS community, COUNT(*) AS cnt FROM lab GROUP BY cu
            UNION ALL
            SELECT cv, COUNT(*) FROM lab GROUP BY cv
        ) GROUP BY community
    )
    SELECT CAST((SELECT COUNT(*) FROM degs) AS BIGINT) AS n_communities,
           CAST(m.m AS BIGINT) AS n_edges,
           ROUND(SUM(COALESCE(i.l_c, 0) / m.m
                     - (d.d_c / (2 * m.m)) * (d.d_c / (2 * m.m))), 6)
               AS modularity
    FROM degs d LEFT JOIN intra i ON d.community = i.community, m
    GROUP BY m.m
    """,
)
def graph_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q of the brand partition over the co-purchase
    graph — does the catalog's brand structure explain who is bought
    with whom? (Q = Σ_c l_c/m − (d_c/2m)²; near 0 = brands are not
    communities, toward 1 = strong brand cliques.) The edge relation
    joins the broadcast part-brand dim twice; everything after is
    community-sized aggregates. The fitness function under any real
    community-detection loop (label propagation, Louvain) — here
    evaluating the catalog's own labels."""
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    items = li.select("l_orderkey", "l_partkey").distinct()
    b = items.select(
        F.col("l_orderkey"), F.col("l_partkey").alias("p2")
    )
    pairs = (
        items.join(b, "l_orderkey")
        .filter(F.col("l_partkey") < F.col("p2"))
        .select(F.col("l_partkey").alias("u"), F.col("p2").alias("v"))
        .distinct()
    )
    lab = (
        pairs.join(
            F.broadcast(p.select(F.col("p_partkey").alias("u"),
                                 F.col("p_brand").alias("cu"))), "u"
        )
        .join(
            F.broadcast(p.select(F.col("p_partkey").alias("v"),
                                 F.col("p_brand").alias("cv"))), "v"
        )
        .localCheckpoint(eager=False)
    )
    m = lab.agg(F.count(F.lit(1)).cast("double").alias("m"))
    intra = lab.filter(F.col("cu") == F.col("cv")).groupBy(
        F.col("cu").alias("community")
    ).agg(F.count(F.lit(1)).cast("double").alias("l_c"))
    degs = (
        lab.select(F.col("cu").alias("community"))
        .union(lab.select(F.col("cv").alias("community")))
        .groupBy("community")
        .agg(F.count(F.lit(1)).cast("double").alias("d_c"))
    )
    joined = (
        degs.join(F.broadcast(intra), "community", "left")
        .crossJoin(F.broadcast(m))
        .select(
            "community",
            (
                F.coalesce(F.col("l_c"), F.lit(0.0)) / F.col("m")
                - (F.col("d_c") / (2 * F.col("m")))
                * (F.col("d_c") / (2 * F.col("m")))
            ).alias("q_c"),
            "m",
        )
    )
    return joined.agg(
        F.count(F.lit(1)).alias("n_communities"),
        F.max("m").cast("long").alias("n_edges"),
        F.round(F.sum("q_c"), 6).alias("modularity"),
    )


@query(
    "ev_its_segmented",
    """
    WITH """ + _DAILY_REVENUE + """,
    cutp AS (
        SELECT MIN(didx) + CAST(FLOOR((MAX(didx) - MIN(didx)) / 2.0)
                                AS BIGINT) AS cut
        FROM daily
    ),
    seg AS (
        SELECT CASE WHEN didx < c.cut THEN 'pre' ELSE 'post' END AS segment,
               CAST(didx - c.cut AS DOUBLE) AS t, y
        FROM daily, cutp c
    ),
    fit AS (
        SELECT segment, CAST(COUNT(*) AS DOUBLE) AS n,
               SUM(t) AS st, SUM(y) AS sy, SUM(t * y) AS sty,
               SUM(t * t) AS stt
        FROM seg GROUP BY segment
    ),
    ols AS (
        SELECT segment, n,
               (n * sty - st * sy) / (n * stt - st * st) AS slope,
               (sy - (n * sty - st * sy) / (n * stt - st * st) * st) / n
                   AS level_at_cut
        FROM fit
    )
    SELECT segment, CAST(n AS BIGINT) AS n_days,
           ROUND(slope, 6) AS slope,
           ROUND(level_at_cut, 4) AS level_at_cut
    FROM ols
    UNION ALL
    SELECT 'change', CAST(SUM(n) AS BIGINT),
           ROUND(SUM(CASE WHEN segment = 'post' THEN slope ELSE -slope END),
                 6),
           ROUND(SUM(CASE WHEN segment = 'post' THEN level_at_cut
                          ELSE -level_at_cut END), 4)
    FROM ols
    """,
)
def ev_its_segmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interrupted time-series (segmented regression): OLS level and
    slope of daily revenue before vs after the midpoint cut, with time
    CENTERED AT THE CUT so each segment's intercept is directly the
    level at the intervention — the observational-causal readout next
    to `ev_did_estimator` when there is no control group (Wagner et al.
    2002). Facts collapse to the calendar-bounded daily series; each
    segment's fit is closed-form from one conditional-aggregation pass
    of sufficient statistics; the 'change' row is the ITS effect
    estimate (level + trend change)."""
    from pyspark.sql import functions as F

    daily = _daily_revenue(spark, sf_dir)
    cutp = daily.agg(
        (
            F.min("didx")
            + F.floor((F.max("didx") - F.min("didx")) / 2.0)
        )
        .cast("long")
        .alias("cut")
    )
    seg = daily.crossJoin(F.broadcast(cutp)).select(
        F.when(F.col("didx") < F.col("cut"), "pre")
        .otherwise("post")
        .alias("segment"),
        (F.col("didx") - F.col("cut")).cast("double").alias("t"),
        "y",
    )
    fit = seg.groupBy("segment").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("t").alias("st"),
        F.sum("y").alias("sy"),
        F.sum(F.col("t") * F.col("y")).alias("sty"),
        F.sum(F.col("t") * F.col("t")).alias("stt"),
    )
    slope = (
        F.col("n") * F.col("sty") - F.col("st") * F.col("sy")
    ) / (F.col("n") * F.col("stt") - F.col("st") * F.col("st"))
    ols = fit.select(
        "segment",
        "n",
        slope.alias("slope"),
        ((F.col("sy") - slope * F.col("st")) / F.col("n")).alias(
            "level_at_cut"
        ),
    ).localCheckpoint(eager=False)
    per = ols.select(
        "segment",
        F.col("n").cast("long").alias("n_days"),
        F.round("slope", 6).alias("slope"),
        F.round("level_at_cut", 4).alias("level_at_cut"),
    )
    sign = F.when(F.col("segment") == "post", 1.0).otherwise(-1.0)
    change = ols.agg(
        F.lit("change").alias("segment"),
        F.sum("n").cast("long").alias("n_days"),
        F.round(F.sum(sign * F.col("slope")), 6).alias("slope"),
        F.round(F.sum(sign * F.col("level_at_cut")), 4).alias(
            "level_at_cut"
        ),
    )
    return per.unionByName(change)


@query(
    "stat_cochran_q",
    r"""
    WITH rated AS (
        SELECT CAST(n_chars > 300 AS INTEGER) AS ra,
               CAST(len(string_split_regex(trim(text), '\s+')) > 55
                    AS INTEGER) AS rb,
               CAST(n_chars * 1.0
                    / len(string_split_regex(trim(text), '\s+')) > 5.45
                    AS INTEGER) AS rc
        FROM documents
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs,
               CAST(SUM(ra) AS DOUBLE) AS ga,
               CAST(SUM(rb) AS DOUBLE) AS gb,
               CAST(SUM(rc) AS DOUBLE) AS gc,
               CAST(SUM(ra + rb + rc) AS DOUBLE) AS t,
               CAST(SUM((ra + rb + rc) * (ra + rb + rc)) AS DOUBLE) AS l2
        FROM rated
    )
    SELECT CAST(n_docs AS BIGINT) AS n_docs, CAST(2 AS INTEGER) AS df,
           ROUND(2.0 * (3.0 * (ga * ga + gb * gb + gc * gc) - t * t)
                 / (3.0 * t - l2), 4) AS q_stat
    FROM agg
    """,
)
def stat_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q for the three binary quality raters: do the rules
    PASS documents at the same rate? — the marginal-homogeneity
    question `stat_fleiss_kappa` (do they agree per doc?) doesn't
    answer, and the k-rater generalization of `stat_mcnemar`. Closed
    form Q = (k−1)(kΣG_j² − T²)/(kT − ΣL_i²) from ONE map-side
    aggregate (rater column totals + per-doc row-total moments);
    Q ~ chi²(k−1) under the null."""
    from pyspark.sql import functions as F

    d = load_table(spark, sf_dir, "documents")
    words = F.size(F.split(F.trim(F.col("text")), r"\s+"))
    rated = d.select(
        (F.col("n_chars") > 300).cast("int").alias("ra"),
        (words > 55).cast("int").alias("rb"),
        (F.col("n_chars") / words > 5.45).cast("int").alias("rc"),
    )
    l = F.col("ra") + F.col("rb") + F.col("rc")
    agg = rated.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.sum("ra").cast("double").alias("ga"),
        F.sum("rb").cast("double").alias("gb"),
        F.sum("rc").cast("double").alias("gc"),
        F.sum(l).cast("double").alias("t"),
        F.sum(l * l).cast("double").alias("l2"),
    )
    g2 = (
        F.col("ga") * F.col("ga")
        + F.col("gb") * F.col("gb")
        + F.col("gc") * F.col("gc")
    )
    return agg.select(
        F.col("n_docs").cast("long").alias("n_docs"),
        F.lit(2).cast("int").alias("df"),
        F.round(
            2.0 * (3.0 * g2 - F.col("t") * F.col("t"))
            / (3.0 * F.col("t") - F.col("l2")),
            4,
        ).alias("q_stat"),
    )


def _heavy_purchaser_arms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per user: parity arm ``treated`` and whether they made at least
    14 purchases (``converted``)."""
    e = load_table(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        (
            F.sum((F.col("event_type") == "purchase").cast("int")) >= 14
        )
        .cast("int")
        .alias("converted")
    ).select(
        (F.col("user_id") % 2).cast("int").alias("treated"), "converted"
    )


@query(
    "ev_two_proportion_z",
    """
    WITH arms AS (
        SELECT CAST(user_id % 2 AS INTEGER) AS treated,
               user_id,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    >= 14 AS INTEGER) AS converted
        FROM events GROUP BY user_id
    ),
    agg AS (
        SELECT CAST(SUM(treated) AS DOUBLE) AS n1,
               CAST(SUM(treated * converted) AS DOUBLE) AS x1,
               CAST(SUM(1 - treated) AS DOUBLE) AS n2,
               CAST(SUM((1 - treated) * converted) AS DOUBLE) AS x2
        FROM arms
    )
    SELECT CAST(n1 AS BIGINT) AS n_treated, CAST(n2 AS BIGINT) AS n_control,
           ROUND(x1 / n1, 6) AS rate_treated,
           ROUND(x2 / n2, 6) AS rate_control,
           ROUND(x1 / n1 - x2 / n2, 6) AS rate_diff,
           ROUND((x1 / n1 - x2 / n2)
                 / sqrt(((x1 + x2) / (n1 + n2))
                        * (1 - (x1 + x2) / (n1 + n2))
                        * (1 / n1 + 1 / n2)), 6) AS z_stat
    FROM agg
    """,
)
def ev_two_proportion_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on per-user "heavy purchaser" (>= 14
    purchases) status between the parity
    arms (pooled-variance form) — the textbook conversion-rate test the
    experiment stack reads FIRST, before the heavier machinery
    (`ev_srm_check` validates the split, `ev_bayes_beta_binomial` the
    posterior, this the frequentist rate gap). One user-collapse
    aggregate + one four-sum aggregate, everything map-combinable."""
    from pyspark.sql import functions as F

    arms = _heavy_purchaser_arms(spark, sf_dir)
    t, c = F.col("treated"), F.col("converted")
    agg = arms.agg(
        F.sum(t).cast("double").alias("n1"),
        F.sum(t * c).cast("double").alias("x1"),
        F.sum(1 - t).cast("double").alias("n2"),
        F.sum((1 - t) * c).cast("double").alias("x2"),
    )
    p1 = F.col("x1") / F.col("n1")
    p2 = F.col("x2") / F.col("n2")
    pp = (F.col("x1") + F.col("x2")) / (F.col("n1") + F.col("n2"))
    return agg.select(
        F.col("n1").cast("long").alias("n_treated"),
        F.col("n2").cast("long").alias("n_control"),
        F.round(p1, 6).alias("rate_treated"),
        F.round(p2, 6).alias("rate_control"),
        F.round(p1 - p2, 6).alias("rate_diff"),
        F.round(
            (p1 - p2)
            / F.sqrt(pp * (1 - pp) * (1 / F.col("n1") + 1 / F.col("n2"))),
            6,
        ).alias("z_stat"),
    )


@query(
    "stat_bartlett",
    """
    WITH base AS (
        SELECT event_type AS g, value AS v FROM events
        WHERE value IS NOT NULL
    ),
    per AS (
        SELECT g, CAST(COUNT(*) AS DOUBLE) AS n,
               var_samp(v) AS s2
        FROM base GROUP BY g
    ),
    agg AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS k, SUM(n) AS n_tot,
               SUM((n - 1) * ln(s2)) AS sum_ln,
               SUM(1 / (n - 1)) AS sum_inv,
               SUM((n - 1) * s2) AS pooled_num
        FROM per WHERE n > 1 AND s2 > 0
    )
    SELECT CAST(k AS INTEGER) AS k_groups,
           CAST(n_tot AS BIGINT) AS n,
           ROUND(((n_tot - k) * ln(pooled_num / (n_tot - k)) - sum_ln)
                 / (1 + (sum_inv - 1 / (n_tot - k)) / (3 * (k - 1))), 4)
               AS bartlett_stat
    FROM agg
    """,
)
def stat_bartlett(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test of variance homogeneity across event types — the
    parametric (normality-assuming, more powerful) counterpart to
    `stat_brown_forsythe`'s robust version; running both is the
    standard variance-gate before pooled-variance ANOVA. Per-group
    sample variances from one hash aggregate, the statistic from one
    k-row collapse — chi²(k−1) under the null."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    per = (
        ev.filter(F.col("value").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.var_samp("value").alias("s2"),
        )
        # a zero-variance (or singleton) group is outside Bartlett's
        # domain: Spark's log(0) is NULL (sum silently skips it) while
        # DuckDB's ln(0) is -inf — filter identically on both engines
        # (ADVICE r9; same ln(0) convention as ev_survival_kaplan_meier)
        .filter((F.col("n") > 1) & (F.col("s2") > 0))
    )
    agg = per.agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum("n").alias("n_tot"),
        F.sum((F.col("n") - 1) * F.log("s2")).alias("sum_ln"),
        F.sum(1 / (F.col("n") - 1)).alias("sum_inv"),
        F.sum((F.col("n") - 1) * F.col("s2")).alias("pooled_num"),
    )
    k, n = F.col("k"), F.col("n_tot")
    stat = (
        (n - k) * F.log(F.col("pooled_num") / (n - k)) - F.col("sum_ln")
    ) / (1 + (F.col("sum_inv") - 1 / (n - k)) / (3 * (k - 1)))
    return agg.select(
        k.cast("int").alias("k_groups"),
        n.cast("long").alias("n"),
        F.round(stat, 4).alias("bartlett_stat"),
    )


@query(
    "ml_f1_threshold",
    """
    WITH base AS (
        SELECT ROUND(value, 1) AS score,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        FROM events WHERE value IS NOT NULL
    ),
    per AS (
        SELECT score, CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(pos) AS DOUBLE) AS npos
        FROM base GROUP BY score
    ),
    tot AS (SELECT SUM(n) AS tn, SUM(npos) AS tp_all FROM per),
    cum AS (
        SELECT score,
               SUM(npos) OVER (ORDER BY score DESC
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS tp,
               SUM(n) OVER (ORDER BY score DESC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS pred_pos
        FROM per
    ),
    f1s AS (
        SELECT score AS threshold,
               ROUND(tp / pred_pos, 6) AS precision,
               ROUND(tp / t.tp_all, 6) AS recall,
               ROUND(2 * tp / (pred_pos + t.tp_all), 6) AS f1
        FROM cum, tot t
    )
    SELECT threshold, precision, recall, f1 FROM f1s
    ORDER BY f1 DESC, threshold ASC LIMIT 1
    """,
)
def ml_f1_threshold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimal F1 decision threshold for the value-predicts-purchase
    scorer: sweep every (0.1-quantized) score cutoff, compute
    P/R/F1 from cumulative counts, return the argmax — the
    threshold-tuning step between `ml_pr_curve` (the whole curve) and
    deployment (one operating point). F1 = 2TP/(predP + allP) needs no
    FP/FN bookkeeping; facts collapse to the quantized-score relation
    first (the r8 cardinality discipline), cumulative windows run over
    that collapsed relation, and the argmax ranks on ROUNDED F1 with
    the threshold as tiebreak."""
    from pyspark.sql import Window, functions as F

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    per = ev.select(
        F.round("value", 1).alias("score"),
        (F.col("event_type") == "purchase").cast("int").alias("pos"),
    ).groupBy("score").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("pos").cast("double").alias("npos"),
    )
    tot = per.agg(
        F.sum("n").alias("tn"), F.sum("npos").alias("tp_all")
    )
    w = Window.orderBy(F.desc("score")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = per.select(
        "score",
        F.sum("npos").over(w).alias("tp"),
        F.sum("n").over(w).alias("pred_pos"),
    )
    f1s = cum.crossJoin(F.broadcast(tot)).select(
        F.col("score").alias("threshold"),
        F.round(F.col("tp") / F.col("pred_pos"), 6).alias("precision"),
        F.round(F.col("tp") / F.col("tp_all"), 6).alias("recall"),
        F.round(
            2 * F.col("tp") / (F.col("pred_pos") + F.col("tp_all")), 6
        ).alias("f1"),
    )
    return f1s.orderBy(F.desc("f1"), F.asc("threshold")).limit(1)


@query(
    "ml_regression_report",
    "\n    WITH "
    + _DOC_LEN_FEATS
    + r""",
    s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               SUM(x1) AS s1, SUM(x2) AS s2,
               SUM(y) AS sy,
               SUM(x1 * x1) AS s11,
               SUM(x1 * x2) AS s12,
               SUM(x2 * x2) AS s22,
               SUM(x1 * y) AS s1y,
               SUM(x2 * y) AS s2y
        FROM feats WHERE doc_id % 2 = 0
    ),
    """ + _OLS2_SOLVE_ROUNDED + r""",
    test AS (
        SELECT y, b.b0 + b.b1 * x1 + b.b2 * x2 AS pred
        FROM feats, b WHERE doc_id % 2 = 1
    ),
    m AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n_test,
               AVG(abs(y - pred)) AS mae,
               sqrt(AVG((y - pred) * (y - pred))) AS rmse,
               AVG(abs(y - pred) / abs(y)) AS mape,
               SUM((y - pred) * (y - pred)) AS sse,
               SUM(y * y) AS syy2, SUM(y) AS sy2
        FROM test
    )
    SELECT CAST(n_test AS BIGINT) AS n_test,
           ROUND(mae, 4) AS mae, ROUND(rmse, 4) AS rmse,
           ROUND(mape, 6) AS mape,
           ROUND(1 - sse / (syy2 - sy2 * sy2 / n_test), 6) AS r2_test
    FROM m
    """,
)
def ml_regression_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out regression scoreboard: OLS of document length (n_chars
    ~ word count + max token length) trained on EVEN doc ids (the same
    Cramer closed form as `ml_ols_normal_eq`, weights rounded to 6dp
    before application — round-before-apply keeps both engines
    predicting identical values), evaluated on the ODD half: test MAE /
    RMSE / MAPE / R² — the train→eval loop closed out-of-sample, where
    in-sample R² flatters. Train is one sufficient-stats aggregate; the
    weight row broadcasts onto the test scan; metrics are one
    aggregate."""
    from pyspark.sql import functions as F

    from hudi_utility_spark.ops.mlfit import ols2_normal_equations

    feats = _doc_len_feats(spark, sf_dir).localCheckpoint(eager=False)
    w = ols2_normal_equations(
        feats.filter(F.col("doc_id") % 2 == 0), "y", "x1", "x2"
    ).select("b0", "b1", "b2")
    test = (
        feats.filter(F.col("doc_id") % 2 == 1)
        .crossJoin(F.broadcast(w))
        .select(
            "y",
            (
                F.col("b0")
                + F.col("b1") * F.col("x1")
                + F.col("b2") * F.col("x2")
            ).alias("pred"),
        )
    )
    err = F.col("y") - F.col("pred")
    m = test.agg(
        F.count(F.lit(1)).cast("double").alias("n_test"),
        F.avg(F.abs(err)).alias("mae"),
        F.sqrt(F.avg(err * err)).alias("rmse"),
        F.avg(F.abs(err) / F.abs(F.col("y"))).alias("mape"),
        F.sum(err * err).alias("sse"),
        F.sum(F.col("y") * F.col("y")).alias("syy2"),
        F.sum("y").alias("sy2"),
    )
    return m.select(
        F.col("n_test").cast("long").alias("n_test"),
        F.round("mae", 4).alias("mae"),
        F.round("rmse", 4).alias("rmse"),
        F.round("mape", 6).alias("mape"),
        F.round(
            1
            - F.col("sse")
            / (F.col("syy2") - F.col("sy2") * F.col("sy2") / F.col("n_test")),
            6,
        ).alias("r2_test"),
    )


_ABSORB_ITERS = 20


def _absorbing_oracle() -> str:
    """Value iteration E = 1 + P·E for expected steps to absorption,
    unrolled into one CTE per iteration (the `_logreg_oracle`
    discipline): transition probabilities are rounded to 6dp BEFORE
    iterating and every iterate is re-rounded, so the driver-side float
    recursion and this SQL replay stay bit-aligned."""
    head = """
ordered AS (
    SELECT user_id, event_type,
           LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS next_type
    FROM events
),
counts AS (
    SELECT event_type AS from_type, next_type AS to_type,
           CAST(COUNT(*) AS DOUBLE) AS c
    FROM ordered WHERE next_type IS NOT NULL
    GROUP BY 1, 2
),
probs AS (
    SELECT from_type, to_type,
           ROUND(c / SUM(c) OVER (PARTITION BY from_type), 6) AS p
    FROM counts WHERE from_type <> 'purchase'
),
it0 AS (
    SELECT DISTINCT from_type, 0.0 AS val FROM probs
)"""
    ctes = [head]
    for i in range(1, _ABSORB_ITERS + 1):
        ctes.append(f"""
it{i} AS (
    SELECT p.from_type,
           ROUND(1 + SUM(p.p * COALESCE(e.val, 0.0)), 6) AS val
    FROM probs p LEFT JOIN it{i - 1} e ON e.from_type = p.to_type
    GROUP BY p.from_type
)""")
    return (
        "WITH "
        + ", ".join(ctes)
        + f"""
SELECT from_type AS state, val AS expected_steps
FROM it{_ABSORB_ITERS}"""
    )


@query("ev_markov_absorbing", _absorbing_oracle())
def ev_markov_absorbing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected number of events until the next purchase, per current
    state — absorbing-Markov value iteration E = 1 + P·E with purchase
    as the absorbing state, the "how far from converting is a user who
    just errored?" readout that turns `ev_markov_transitions`' raw
    matrix into a decision number. The transition matrix is collected
    ONCE (≤ k² scalars — the codebook-literal budget); {n} fixed
    driver-side iterations with per-step 6dp quantization keep the
    recursion identical to the oracle's unrolled CTEs. One lead-window
    pass + one matrix aggregate touch the data; the iteration never
    does.""".replace("{n}", str(_ABSORB_ITERS))
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    counts = (
        e.select(
            F.col("event_type").alias("from_type"),
            F.lead("event_type").over(w).alias("to_type"),
        )
        .filter(F.col("to_type").isNotNull())
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    pw = Window.partitionBy("from_type")
    probs = (
        counts.filter(F.col("from_type") != "purchase")
        .select(
            "from_type",
            "to_type",
            F.round(F.col("c") / F.sum("c").over(pw), 6).alias("p"),
        )
        .collect()
    )
    # collect order is partitioning-dependent; the float sum below is
    # not associative, so a different order could flip the per-step 6dp
    # round (ADVICE r9). Sort by (from_type, to_type) — the oracle's
    # unrolled CTE terms are summed over the same deterministic set.
    probs = sorted(probs, key=lambda r: (r["from_type"], r["to_type"]))
    states = sorted({r["from_type"] for r in probs})
    ev = {s: 0.0 for s in states}
    for _ in range(_ABSORB_ITERS):
        nxt = {}
        for s in states:
            acc = 1.0
            for r in probs:
                if r["from_type"] == s:
                    acc += r["p"] * ev.get(r["to_type"], 0.0)
            nxt[s] = round(acc, 6)
        ev = nxt
    return spark.createDataFrame(
        [(s, ev[s]) for s in states], "state string, expected_steps double"
    )


@query(
    "stat_durbin_watson",
    """
    WITH """ + _DAILY_REVENUE + """,
    fit AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(didx) AS sx, SUM(y) AS sy,
               SUM(didx * y) AS sxy, SUM(CAST(didx AS DOUBLE) * didx) AS sxx
        FROM daily
    ),
    ab AS (
        SELECT (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b,
               (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
                   AS a, n
        FROM fit
    ),
    resid AS (
        SELECT d.didx, d.y - (ab.a + ab.b * d.didx) AS e
        FROM daily d, ab
    ),
    lagged AS (
        SELECT e, LAG(e) OVER (ORDER BY didx) AS e_prev FROM resid
    )
    SELECT CAST((SELECT n FROM ab) AS BIGINT) AS n_days,
           ROUND(SUM(CASE WHEN e_prev IS NOT NULL
                          THEN (e - e_prev) * (e - e_prev) ELSE 0 END)
                 / SUM(e * e), 6) AS dw_stat
    FROM lagged
    """,
)
def stat_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson statistic on the residuals of the daily-revenue
    linear trend — the FIRST-LAG autocorrelation test a regression
    report quotes (DW ≈ 2 = independent residuals, → 0 = positive
    serial correlation meaning OLS standard errors are lies), the
    fitted-model complement to `stat_ljung_box`'s raw-series Q. Trend
    fit is closed-form sufficient statistics; residuals and the lag
    window live on the collapsed calendar-bounded daily relation."""
    from pyspark.sql import Window

    daily = _daily_revenue(spark, sf_dir)
    fit = daily.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("didx").cast("double").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("didx") * F.col("y")).alias("sxy"),
        F.sum(F.col("didx").cast("double") * F.col("didx")).alias("sxx"),
    )
    b = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    ab = fit.select(
        b.alias("b"),
        ((F.col("sy") - b * F.col("sx")) / F.col("n")).alias("a"),
        "n",
    )
    resid = daily.crossJoin(F.broadcast(ab)).select(
        "didx",
        "n",
        (F.col("y") - (F.col("a") + F.col("b") * F.col("didx"))).alias("e"),
    )
    w = Window.orderBy("didx")
    lagged = resid.select(
        "n", "e", F.lag("e").over(w).alias("e_prev")
    )
    num = F.sum(
        F.when(
            F.col("e_prev").isNotNull(),
            (F.col("e") - F.col("e_prev")) * (F.col("e") - F.col("e_prev")),
        ).otherwise(0.0)
    )
    return lagged.agg(
        F.max("n").cast("long").alias("n_days"),
        F.round(num / F.sum(F.col("e") * F.col("e")), 6).alias("dw_stat"),
    )


@query(
    "ev_new_vs_returning",
    """
    WITH first_seen AS (
        SELECT user_id, CAST(date_trunc('day', MIN(ts)) AS DATE) AS d0
        FROM events GROUP BY user_id
    ),
    daily AS (
        SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
        FROM events
    )
    SELECT d.d AS day,
           CAST(COUNT(*) AS BIGINT) AS dau,
           CAST(SUM(CASE WHEN d.d = f.d0 THEN 1 ELSE 0 END) AS BIGINT)
               AS new_users,
           CAST(SUM(CASE WHEN d.d > f.d0 THEN 1 ELSE 0 END) AS BIGINT)
               AS returning_users,
           ROUND(SUM(CASE WHEN d.d > f.d0 THEN 1.0 ELSE 0 END) / COUNT(*),
                 6) AS returning_share
    FROM daily d JOIN first_seen f ON d.user_id = f.user_id
    GROUP BY d.d
    """,
)
def ev_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users split into new vs returning (first-seen day
    vs later) — the acquisition-vs-retention mix behind every growth
    chart, the per-day drilldown of `ev_user_growth`. Two user-keyed
    aggregates joined on user_id, result relation days-sized."""
    from pyspark.sql import functions as F

    e = load_table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("day", F.min("ts")).cast("date").alias("d0")
    )
    daily = e.select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("d")
    ).distinct()
    new_flag = (F.col("d") == F.col("d0")).cast("int")
    ret_flag = (F.col("d") > F.col("d0")).cast("int")
    return (
        daily.join(first_seen, "user_id")
        .groupBy(F.col("d").alias("day"))
        .agg(
            F.count(F.lit(1)).alias("dau"),
            F.sum(new_flag).alias("new_users"),
            F.sum(ret_flag).alias("returning_users"),
            F.round(F.sum(ret_flag) / F.count(F.lit(1)), 6).alias(
                "returning_share"
            ),
        )
    )


@query(
    "ev_cart_abandonment",
    """
    WITH clicks AS (
        SELECT user_id, ts AS click_ts,
               CAST(date_trunc('day', ts) AS DATE) AS day
        FROM events WHERE event_type = 'click'
    ),
    converted AS (
        SELECT DISTINCT c.user_id, c.click_ts
        FROM clicks c JOIN events p
          ON p.user_id = c.user_id
         AND p.event_type = 'purchase'
         AND p.ts >= c.click_ts
         AND epoch_us(p.ts) - epoch_us(c.click_ts) <= 86400000000
    )
    SELECT c.day,
           CAST(COUNT(*) AS BIGINT) AS n_clicks,
           CAST(SUM(CASE WHEN v.user_id IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS abandoned,
           ROUND(SUM(CASE WHEN v.user_id IS NULL THEN 1.0 ELSE 0 END)
                 / COUNT(*), 6) AS abandonment_rate
    FROM clicks c
    LEFT JOIN converted v
      ON v.user_id = c.user_id AND v.click_ts = c.click_ts
    GROUP BY c.day
    """,
)
def ev_cart_abandonment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cart-abandonment rate: clicks with no purchase by the same
    user within 24 hours — the within-window conversion complement to
    `ev_funnel_conversion` (which has no deadline) and the
    batch twin of `stream_interval_join`'s click→purchase window. The
    click→purchase probe is a user-keyed equijoin with the 24 h bound
    as a post-join predicate (AQE sizes the shuffle); the per-click
    converted set collapses to DISTINCT before the left join so
    multiple purchases can't double-count a click."""
    from pyspark.sql import functions as F

    e = load_table(spark, sf_dir, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        "user_id",
        F.col("ts").alias("click_ts"),
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("ts").alias("p_ts")
    )
    converted = (
        clicks.join(purchases, "user_id")
        .filter(
            (F.col("p_ts") >= F.col("click_ts"))
            & (
                us("p_ts") - us("click_ts")
                <= F.lit(86_400_000_000)
            )
        )
        .select("user_id", "click_ts")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        clicks.join(converted, ["user_id", "click_ts"], "left")
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).alias("n_clicks"),
            F.sum(
                F.when(F.col("hit").isNull(), 1).otherwise(0)
            ).alias("abandoned"),
            F.round(
                F.sum(F.when(F.col("hit").isNull(), 1.0).otherwise(0.0))
                / F.count(F.lit(1)),
                6,
            ).alias("abandonment_rate"),
        )
    )


@query(
    "stat_chi2_gof_hour",
    """
    WITH per AS (
        SELECT CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hod,
               CAST(COUNT(*) AS DOUBLE) AS o
        FROM events GROUP BY 1
    ),
    tot AS (SELECT SUM(o) AS n, CAST(COUNT(*) AS DOUBLE) AS k FROM per)
    SELECT CAST(t.n AS BIGINT) AS n_events,
           CAST(t.k AS INTEGER) AS k_cells,
           ROUND(SUM((p.o - t.n / t.k) * (p.o - t.n / t.k) / (t.n / t.k)),
                 4) AS chi2_stat
    FROM per p, tot t
    GROUP BY t.n, t.k
    """,
)
def stat_chi2_gof_hour(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square goodness-of-fit of event volume by hour-of-day
    against the uniform null — the one-number "is there diurnal
    seasonality at all?" gate before the heavier seasonal machinery
    (`ts_seasonal_strength` says how strong, this says whether;
    chi²(k−1) under the null). One 24-cell aggregate + one scalar
    collapse — the goodness-of-fit corner of the chi² family next to
    `stat_chi2_independence`'s two-variable version."""
    from pyspark.sql import functions as F

    e = load_table(spark, sf_dir, "events")
    per = e.groupBy(F.hour("ts").alias("hod")).agg(
        F.count(F.lit(1)).cast("double").alias("o")
    )
    tot = per.agg(
        F.sum("o").alias("n"), F.count(F.lit(1)).cast("double").alias("k")
    )
    exp = F.col("n") / F.col("k")
    return (
        per.crossJoin(F.broadcast(tot))
        .groupBy("n", "k")
        .agg(
            F.round(
                F.sum((F.col("o") - exp) * (F.col("o") - exp) / exp), 4
            ).alias("chi2_stat")
        )
        .select(
            F.col("n").cast("long").alias("n_events"),
            F.col("k").cast("int").alias("k_cells"),
            "chi2_stat",
        )
    )


@query(
    "ev_interarrival_profile",
    """
    WITH gaps AS (
        SELECT event_type,
               (epoch_us(ts) - epoch_us(LAG(ts) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id)))
               / 1000000.0 AS gap_s
        FROM events
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_gaps,
           ROUND(AVG(gap_s), 4) AS mean_gap_s,
           ROUND(quantile_cont(gap_s, 0.5), 4) AS p50_gap_s,
           ROUND(quantile_cont(gap_s, 0.9), 4) AS p90_gap_s,
           ROUND(STDDEV_SAMP(gap_s) / AVG(gap_s), 6) AS cov
    FROM gaps WHERE gap_s IS NOT NULL
    GROUP BY event_type
    """,
)
def ev_interarrival_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time profile per event type (mean / p50 / p90 gap
    and the coefficient of variation — CoV ≈ 1 is Poisson-like, ≫ 1 is
    bursty) — the arrival-process fingerprint that sizes streaming
    watermarks and capacity. The lag window is PARTITIONED by event
    type over event time (a parallel row-level window, not a global
    sort); quantiles are one exact-percentile aggregate per type."""
    from pyspark.sql import Window, functions as F

    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = e.select(
        "event_type",
        ((us("ts") - us(F.lag("ts").over(w))) / 1_000_000.0).alias(
            "gap_s"
        ),
    ).filter(F.col("gap_s").isNotNull())
    return gaps.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.round(F.avg("gap_s"), 4).alias("mean_gap_s"),
        F.round(F.percentile("gap_s", F.lit(0.5)), 4).alias("p50_gap_s"),
        F.round(F.percentile("gap_s", F.lit(0.9)), 4).alias("p90_gap_s"),
        F.round(F.stddev_samp("gap_s") / F.avg("gap_s"), 6).alias("cov"),
    )


@query(
    "ts_weekday_profile",
    """
    WITH daily AS (
        SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
               ROUND(SUM(o_totalprice), 4) AS y
        FROM orders GROUP BY 1
    ),
    tot AS (SELECT SUM(y) AS t FROM daily)
    SELECT CAST(dayofweek(d.day) AS INTEGER) AS dow,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(AVG(d.y), 4) AS avg_revenue,
           ROUND(SUM(d.y) / t.t, 6) AS revenue_share
    FROM daily d, tot t
    GROUP BY dayofweek(d.day), t.t
    """,
)
def ts_weekday_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week revenue profile (average daily revenue and share per
    weekday) — the weekly-seasonality readout behind the seasonal-naive
    lag-7 baseline in `ts_forecast_accuracy`. Collapsed daily series,
    7-row result; DuckDB dayofweek (0=Sunday) matches Spark's
    dayofweek−1, aligned explicitly."""
    from pyspark.sql import functions as F

    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(
        F.date_trunc("day", F.col("o_orderdate")).cast("date").alias("day")
    ).agg(F.round(F.sum("o_totalprice"), 4).alias("y"))
    tot = daily.agg(F.sum("y").alias("t"))
    return (
        daily.crossJoin(F.broadcast(tot))
        .groupBy((F.dayofweek("day") - 1).cast("int").alias("dow"), "t")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.round(F.avg("y"), 4).alias("avg_revenue"),
            F.round(F.sum("y") / F.max("t"), 6).alias("revenue_share"),
        )
        .select("dow", "n_days", "avg_revenue", "revenue_share")
    )


@query(
    "ml_permutation_importance",
    "\n    WITH "
    + _DOC_LEN_FEATS
    + r""",
    swapped AS (
        SELECT a.doc_id, a.y, a.x1, a.x2,
               b.x1 AS x1p, b.x2 AS x2p
        FROM feats a JOIN feats b
          ON b.doc_id = CAST(xor(a.doc_id, 1) AS BIGINT)
    ),
    s AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               SUM(x1) AS s1, SUM(x2) AS s2, SUM(y) AS sy,
               SUM(x1 * x1) AS s11, SUM(x1 * x2) AS s12,
               SUM(x2 * x2) AS s22,
               SUM(x1 * y) AS s1y, SUM(x2 * y) AS s2y
        FROM swapped
    ),
    """ + _OLS2_SOLVE_ROUNDED + r""",
    scores AS (
        SELECT 'baseline' AS variant, y,
               b.b0 + b.b1 * x1 + b.b2 * x2 AS pred
        FROM swapped, b
        UNION ALL
        SELECT 'permute_x1', y, b.b0 + b.b1 * x1p + b.b2 * x2
        FROM swapped, b
        UNION ALL
        SELECT 'permute_x2', y, b.b0 + b.b1 * x1 + b.b2 * x2p
        FROM swapped, b
    ),
    m AS (
        SELECT variant, CAST(COUNT(*) AS DOUBLE) AS n,
               SUM((y - pred) * (y - pred)) AS sse,
               SUM(y * y) AS syy, SUM(y) AS sy
        FROM scores GROUP BY variant
    )
    SELECT variant,
           ROUND(1 - sse / (syy - sy * sy / n), 6) AS r2
    FROM m
    """,
)
def ml_permutation_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Permutation feature importance for the document-length OLS: R²
    with each feature's values swapped between doc-id pairs (the
    DETERMINISTIC permutation doc_id XOR 1 — a true derangement on
    pairs, reproducible on both engines, where random shuffling would
    never hash-match) vs the baseline — the model-agnostic "which
    feature carries the signal" readout (Breiman 2001). Weights come
    from the same Cramer closed form (round-before-apply); the swap is
    ONE self-equijoin on the XOR'd key; three scoring passes share one
    aggregate shape."""
    from pyspark.sql import functions as F

    from hudi_utility_spark.ops.mlfit import ols2_normal_equations

    feats = _doc_len_feats(spark, sf_dir)
    part = feats.select(
        F.col("doc_id").bitwiseXOR(F.lit(1)).alias("doc_id"),
        F.col("x1").alias("x1p"),
        F.col("x2").alias("x2p"),
    )
    swapped = feats.join(part, "doc_id").localCheckpoint(eager=False)
    w = ols2_normal_equations(swapped, "y", "x1", "x2").select(
        "b0", "b1", "b2"
    )
    sw = swapped.crossJoin(F.broadcast(w))
    variants = [
        ("baseline", F.col("x1"), F.col("x2")),
        ("permute_x1", F.col("x1p"), F.col("x2")),
        ("permute_x2", F.col("x1"), F.col("x2p")),
    ]
    out = None
    for name, v1, v2 in variants:
        pred = F.col("b0") + F.col("b1") * v1 + F.col("b2") * v2
        err = F.col("y") - pred
        m = sw.agg(
            F.lit(name).alias("variant"),
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum(err * err).alias("sse"),
            F.sum(F.col("y") * F.col("y")).alias("syy"),
            F.sum("y").alias("sy"),
        )
        out = m if out is None else out.unionByName(m)
    return out.select(
        "variant",
        F.round(
            1
            - F.col("sse")
            / (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n")),
            6,
        ).alias("r2"),
    )


@query(
    "stat_var_backtest",
    """
    WITH """ + _DAILY_REVENUE + """,
    rets AS (
        SELECT didx, ln(y / LAG(y) OVER (ORDER BY didx)) AS r
        FROM daily
    ),
    cutp AS (
        SELECT MIN(didx) + CAST(FLOOR((MAX(didx) - MIN(didx)) / 2.0)
                                AS BIGINT) AS cut
        FROM daily
    ),
    var95 AS (
        SELECT quantile_cont(r, 0.05) AS v
        FROM rets, cutp WHERE r IS NOT NULL AND didx < cut
    ),
    test AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(CASE WHEN r < v.v THEN 1 ELSE 0 END) AS DOUBLE)
                   AS x
        FROM rets, cutp, var95 v WHERE r IS NOT NULL AND didx >= cut
    )
    SELECT CAST(n AS BIGINT) AS n_test_days,
           CAST(x AS BIGINT) AS exceedances,
           ROUND(x / n, 6) AS exceed_rate,
           ROUND((SELECT v FROM var95), 6) AS var_95,
           ROUND(-2 * ((n - x) * ln(0.95) + x * ln(0.05)
                       - CASE WHEN x = 0 THEN n * ln(1 - 0.0 / n)
                              WHEN x = n THEN x * ln(x / n)
                              ELSE (n - x) * ln(1 - x / n)
                                   + x * ln(x / n) END), 4)
               AS kupiec_lr
    FROM test
    """,
)
def stat_var_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kupiec proportion-of-failures VaR backtest: the 95% value-at-
    risk of daily log revenue changes is estimated on the FIRST half of
    the calendar (walk-forward split — in-sample VaR would make the
    test vacuous) and the exceedance count on the second half feeds the
    POF likelihood ratio (LR ~ chi²(1) under correct coverage) — the
    risk-model validation standard (Kupiec 1995), and a different
    consumer of the collapsed daily series than the forecasting stack.
    Returns, the split, the quantile, and the test are each one
    aggregate over the bounded series."""
    from pyspark.sql import Window, functions as F

    daily = _daily_revenue(spark, sf_dir)
    w = Window.orderBy("didx")
    rets = daily.select(
        "didx", F.log(F.col("y") / F.lag("y").over(w)).alias("r")
    ).localCheckpoint(eager=False)
    cutp = daily.agg(
        (F.min("didx") + F.floor((F.max("didx") - F.min("didx")) / 2.0))
        .cast("long")
        .alias("cut")
    )
    with_cut = rets.crossJoin(F.broadcast(cutp)).filter(
        F.col("r").isNotNull()
    )
    var95 = (
        with_cut.filter(F.col("didx") < F.col("cut"))
        .agg(F.percentile("r", F.lit(0.05)).alias("v"))
    )
    test = (
        with_cut.filter(F.col("didx") >= F.col("cut"))
        .crossJoin(F.broadcast(var95))
        .agg(
            F.count(F.lit(1)).cast("double").alias("n"),
            F.sum((F.col("r") < F.col("v")).cast("int"))
            .cast("double")
            .alias("x"),
            F.max("v").alias("v"),
        )
    )
    n, x = F.col("n"), F.col("x")
    import math

    null_ll = (n - x) * math.log(0.95) + x * math.log(0.05)
    alt_ll = (
        F.when(x == 0, n * F.log(F.lit(1.0)))
        .when(x == n, x * F.log(x / n))
        .otherwise((n - x) * F.log(1 - x / n) + x * F.log(x / n))
    )
    return test.select(
        n.cast("long").alias("n_test_days"),
        x.cast("long").alias("exceedances"),
        F.round(x / n, 6).alias("exceed_rate"),
        F.round(F.col("v"), 6).alias("var_95"),
        F.round(-2 * (null_ll - alt_ll), 4).alias("kupiec_lr"),
    )


@query(
    "ts_holt_eval",
    """
    WITH RECURSIVE """ + _HOURLY_SERIES + """,
    holt(event_type, t, n, l, b, sh, sn, prev) AS (
        SELECT i1.event_type, 1, i1.n, i1.y, i2.y - i1.y,
               CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), i1.y
        FROM idx i1 JOIN idx i2
          ON i2.event_type = i1.event_type AND i1.t = 1 AND i2.t = 2
        UNION ALL
        SELECT s.event_type, s.t + 1, s.n,
               0.4 * i.y + 0.6 * (s.l + s.b),
               0.3 * ((0.4 * i.y + 0.6 * (s.l + s.b)) - s.l) + 0.7 * s.b,
               s.sh + abs(i.y - (s.l + s.b)),
               s.sn + abs(i.y - s.prev),
               i.y
        FROM holt s JOIN idx i
          ON i.event_type = s.event_type AND i.t = s.t + 1
        WHERE s.t + 1 <= s.n
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_hours,
           ROUND(sh / (n - 1), 4) AS holt_mae,
           ROUND(sn / (n - 1), 4) AS naive_mae,
           ROUND(sh / sn, 6) AS mase
    FROM holt WHERE t = n
    """,
)
def ts_holt_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-sample one-step-ahead evaluation of the Holt smoother: the
    SAME coupled recursion as `ts_holt_linear` but accumulating
    |y_t − (l+b)| (Holt's forecast error, taken BEFORE each update) and
    |y_t − y_{t−1}| (the naive error) through the fold — emitting MASE
    per event type, i.e. "does the model beat persistence on the data
    it smoothed?", the accept/reject number `ts_forecast_accuracy`
    establishes for the baselines. Same engine mechanics: a codegen'd
    higher-order aggregate over the collapsed per-type series vs the
    recursive-CTE oracle, identical operation order, hash-stable even
    with ~700 accumulation steps."""
    from pyspark.sql import functions as F

    series = _hourly_series(spark, sf_dir).filter(F.size("ys") >= 2)
    alpha, beta = 0.4, 0.3
    init = F.struct(
        F.element_at("ys", 1).alias("l"),
        (F.element_at("ys", 2) - F.element_at("ys", 1)).alias("b"),
        F.lit(0.0).alias("sh"),
        F.lit(0.0).alias("sn"),
        F.element_at("ys", 1).alias("prev"),
    )

    def step(acc, y):
        nl = F.lit(alpha) * y + F.lit(1 - alpha) * (acc["l"] + acc["b"])
        nb = F.lit(beta) * (nl - acc["l"]) + F.lit(1 - beta) * acc["b"]
        return F.struct(
            nl.alias("l"),
            nb.alias("b"),
            (acc["sh"] + F.abs(y - (acc["l"] + acc["b"]))).alias("sh"),
            (acc["sn"] + F.abs(y - acc["prev"])).alias("sn"),
            y.alias("prev"),
        )

    state = F.aggregate(
        F.slice(F.col("ys"), 2, F.size("ys") - 1), init, step
    )
    n = F.size("ys")
    return series.select(
        "event_type",
        n.cast("long").alias("n_hours"),
        F.round(state["sh"] / (n - 1), 4).alias("holt_mae"),
        F.round(state["sn"] / (n - 1), 4).alias("naive_mae"),
        F.round(state["sh"] / state["sn"], 6).alias("mase"),
    )


@query(
    "graph_diameter_double_sweep",
    """
    WITH RECURSIVE items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    """ + _PART_PAIRS + """,
    sym AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
    w1(node, dist) AS (
        SELECT (SELECT MIN(u) FROM sym), 0
        UNION
        SELECT e.v, w.dist + 1 FROM w1 w JOIN sym e ON e.u = w.node
        WHERE w.dist < 8
    ),
    d1 AS (SELECT node, MIN(dist) AS dist FROM w1 GROUP BY node),
    far AS (SELECT node FROM d1 ORDER BY dist DESC, node LIMIT 1),
    w2(node, dist) AS (
        SELECT (SELECT node FROM far), 0
        UNION
        SELECT e.v, w.dist + 1 FROM w2 w JOIN sym e ON e.u = w.node
        WHERE w.dist < 8
    ),
    d2 AS (SELECT node, MIN(dist) AS dist FROM w2 GROUP BY node)
    SELECT (SELECT MIN(u) FROM sym) AS seed,
           (SELECT node FROM far) AS far_node,
           CAST((SELECT MAX(dist) FROM d2) AS INTEGER) AS diameter_lb,
           CAST((SELECT COUNT(*) FROM d2) AS BIGINT) AS n_reached
    """,
)
def graph_diameter_double_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-sweep diameter lower bound (Magnien-Latapy-Habib): BFS
    from the smallest node, re-root at the farthest vertex found
    (round-free deterministic tiebreak: max dist, then min node), BFS
    again — the second eccentricity is the classic near-tight diameter
    estimate at TWO BFS costs where the exact diameter needs |V|.
    Both sweeps are `ops/graph.py::bfs_hops` frontier BFS (equijoin +
    anti-join per hop, localCheckpoint'd); the re-root relation is a
    1-row TakeOrdered, never a global sort."""
    from hudi_utility_spark.ops.graph import bfs_hops, symmetrize

    li = load_table(spark, sf_dir, "lineitem")
    baskets = _li_baskets(spark, li)
    # same distinct canonical pair set as the old items self-join (both
    # enumerate i<j part pairs within an order), built map-side from
    # ONE lineitem scan instead of a two-scan self-join (guide §1.2)
    pairs = _basket_pairs(baskets, "u", "v").distinct()
    sym = symmetrize(pairs, "u", "v", assume_canonical=True).localCheckpoint(eager=False)
    seed = sym.agg(F.min("src").alias("node"))
    d1 = bfs_hops(sym, seed, max_hops=8)
    far = (
        d1.orderBy(F.desc("dist"), F.asc("node"))
        .limit(1)
        .select("node")
    )
    d2 = bfs_hops(sym, far, max_hops=8)
    return (
        d2.agg(
            F.max("dist").cast("int").alias("diameter_lb"),
            F.count(F.lit(1)).alias("n_reached"),
        )
        .crossJoin(F.broadcast(seed.select(F.col("node").alias("seed"))))
        .crossJoin(F.broadcast(far.select(F.col("node").alias("far_node"))))
        .select("seed", "far_node", "diameter_lb", "n_reached")
    )


@query(
    "ev_retention_halflife",
    """
    WITH first_seen AS (
        SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE)
                   AS cohort_week
        FROM events GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE)
                   AS act_week
        FROM events
    ),
    matrix AS (
        SELECT CAST((a.act_week - f.cohort_week) / 7 AS INTEGER)
                   AS week_offset,
               CAST(COUNT(DISTINCT f.user_id) AS DOUBLE) AS n_active
        FROM first_seen f JOIN activity a ON f.user_id = a.user_id
        GROUP BY 1
    ),
    base AS (SELECT n_active AS n0 FROM matrix WHERE week_offset = 0),
    rates AS (
        SELECT CAST(week_offset AS DOUBLE) AS t,
               ln(m.n_active / b.n0) AS lr
        FROM matrix m, base b WHERE m.week_offset > 0 AND m.n_active > 0
    ),
    fit AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n, SUM(t) AS sx, SUM(lr) AS sy,
               SUM(t * lr) AS sxy, SUM(t * t) AS sxx
        FROM rates
    )
    SELECT CAST(n AS BIGINT) AS n_points,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS decay_rate,
           ROUND(CASE WHEN (n * sxy - sx * sy) / (n * sxx - sx * sx) < 0
                      THEN -ln(2) / ((n * sxy - sx * sy)
                                     / (n * sxx - sx * sx))
                      ELSE NULL END, 4) AS half_life_weeks,
           ROUND(exp((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                     / n), 6) AS r0_intercept
    FROM fit
    """,
)
def ev_retention_halflife(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponential retention-decay fit: log-linear OLS of aggregate
    weekly retention (active at offset t / cohort-week-0 base) giving
    the decay rate and HALF-LIFE in weeks — the single number product
    teams quote from `ev_retention_cohorts`' whole matrix, and the
    model behind LTV extrapolation (`ev_cohort_ltv`'s curve converges
    at rate decay). Everything after the two user-keyed aggregates
    runs on the weeks-sized matrix; the fit is closed-form sufficient
    statistics; a non-negative decay slope yields NULL half-life
    (documented: retention not decaying)."""
    from pyspark.sql import functions as F

    e = load_table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = e.select(
        "user_id",
        F.date_trunc("week", F.col("ts")).cast("date").alias("act_week"),
    ).distinct()
    matrix = (
        first_seen.join(activity, "user_id")
        .select(
            (F.datediff("act_week", "cohort_week") / 7)
            .cast("int")
            .alias("week_offset"),
            "user_id",
        )
        .groupBy("week_offset")
        .agg(F.count_distinct("user_id").cast("double").alias("n_active"))
        .localCheckpoint(eager=False)
    )
    base = matrix.filter(F.col("week_offset") == 0).select(
        F.col("n_active").alias("n0")
    )
    rates = (
        matrix.filter((F.col("week_offset") > 0) & (F.col("n_active") > 0))
        .crossJoin(F.broadcast(base))
        .select(
            F.col("week_offset").cast("double").alias("t"),
            F.log(F.col("n_active") / F.col("n0")).alias("lr"),
        )
    )
    fit = rates.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("t").alias("sx"),
        F.sum("lr").alias("sy"),
        F.sum(F.col("t") * F.col("lr")).alias("sxy"),
        F.sum(F.col("t") * F.col("t")).alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return fit.select(
        F.col("n").cast("long").alias("n_points"),
        F.round(slope, 6).alias("decay_rate"),
        F.round(
            F.when(slope < 0, -F.log(F.lit(2.0)) / slope).otherwise(
                F.lit(None)
            ),
            4,
        ).alias("half_life_weeks"),
        F.round(
            F.exp((F.col("sy") - slope * F.col("sx")) / F.col("n")), 6
        ).alias("r0_intercept"),
    )


@query(
    "ev_wilson_ci",
    """
    WITH arms AS (
        SELECT CAST(user_id % 2 AS INTEGER) AS treated,
               CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                    >= 14 AS INTEGER) AS converted
        FROM events GROUP BY user_id
    ),
    agg AS (
        SELECT treated, CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(converted) AS DOUBLE) AS x
        FROM arms GROUP BY treated
    )
    SELECT treated, CAST(n AS BIGINT) AS n, CAST(x AS BIGINT) AS conversions,
           ROUND(x / n, 6) AS rate,
           ROUND((x / n + 1.9208 / n
                  - 1.96 * sqrt((x / n) * (1 - x / n) / n
                                + 0.9604 / (n * n)))
                 / (1 + 3.8416 / n), 6) AS wilson_lo,
           ROUND((x / n + 1.9208 / n
                  + 1.96 * sqrt((x / n) * (1 - x / n) / n
                                + 0.9604 / (n * n)))
                 / (1 + 3.8416 / n), 6) AS wilson_hi
    FROM agg
    """,
)
def ev_wilson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson 95% score interval for each arm's heavy-purchaser rate —
    the binomial CI that stays inside [0,1] and behaves at small n or
    extreme rates where the naive Wald interval collapses; the
    per-arm UNCERTAINTY readout the point estimates in
    `ev_two_proportion_z` omit (z²=3.8416, z²/2=1.9208, z²/4=0.9604
    folded as literals so both engines evaluate the same arithmetic).
    One user-collapse + one 2-row aggregate."""
    from pyspark.sql import functions as F

    arms = _heavy_purchaser_arms(spark, sf_dir)
    agg = arms.groupBy("treated").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("converted").cast("double").alias("x"),
    )
    p = F.col("x") / F.col("n")
    n = F.col("n")
    half = 1.96 * F.sqrt(p * (1 - p) / n + 0.9604 / (n * n))
    denom = 1 + 3.8416 / n
    return agg.select(
        "treated",
        n.cast("long").alias("n"),
        F.col("x").cast("long").alias("conversions"),
        F.round(p, 6).alias("rate"),
        F.round((p + 1.9208 / n - half) / denom, 6).alias("wilson_lo"),
        F.round((p + 1.9208 / n + half) / denom, 6).alias("wilson_hi"),
    )
