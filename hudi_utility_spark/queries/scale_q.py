"""Oracle-checked scale-technique queries: the skew and layout machinery
(ops/skew.py, write.write_bucketed_table) exercised under the driver's
value-hash gate — salting and bucketing must be *invisible* in results
(identical to the plain join the oracle runs) while changing the
physical plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hudi_utility_spark.ops.skew import key_histogram, salted_join
from hudi_utility_spark.queries import events_table, fresh_scratch, query
from hudi_utility_spark.tables import load_table


@query(
    "skew_key_histogram",
    """
    SELECT user_id, COUNT(*) AS "rows"
    FROM events GROUP BY user_id
    ORDER BY "rows" DESC, user_id LIMIT 20
    """,
)
def skew_key_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key profile of the events fact — the measurement that decides
    between AQE skew-split and explicit salting (deterministic top-20:
    ties break on the key)."""
    return key_histogram(load_table(spark, sf_dir, "events"), on=["user_id"], top=20)


@query(
    "skew_salted_join",
    """
    WITH dim AS (
      SELECT user_id, MIN(event_id) AS first_event_id
      FROM events GROUP BY user_id
    )
    SELECT e.event_type,
           COUNT(*) AS cnt,
           CAST(SUM(CASE WHEN e.event_id = d.first_event_id THEN 1 ELSE 0 END)
             AS BIGINT) AS first_events,
           ROUND(SUM(e.value), 2) AS total_value
    FROM events e JOIN dim d ON e.user_id = d.user_id
    GROUP BY e.event_type
    """,
)
def skew_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈dim equi-join executed through the salting path (16-way
    scatter of the fact, replicated dim). The oracle runs the plain
    join — salting must not change a single value."""
    ev = load_table(spark, sf_dir, "events")
    dim = ev.groupBy("user_id").agg(F.min("event_id").alias("first_event_id"))
    joined = salted_join(
        ev, dim, on=["user_id"], salt_buckets=16, salt_source=["event_id"]
    )
    return joined.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(
            F.when(F.col("event_id") == F.col("first_event_id"), 1).otherwise(0)
        ).alias("first_events"),
        F.round(F.sum("value"), 2).alias("total_value"),
    )


@query(
    "bucketed_colocated_join",
    """
    WITH dim AS (
      SELECT user_id, COUNT(*) AS n_events
      FROM events GROUP BY user_id
    )
    SELECT e.event_type,
           COUNT(*) AS cnt,
           CAST(SUM(d.n_events) AS BIGINT) AS sum_user_events
    FROM events e JOIN dim d ON e.user_id = d.user_id
    GROUP BY e.event_type
    """,
    sequential=True,
)
def bucketed_colocated_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-located fact⋈dim join over two catalog tables bucketed on the
    join key (same bucket count) — bucket i of each side meets in one
    task, no exchange on either side (test_write_layout asserts the
    shuffle-free plan). Pay one bucketed write, amortize over every
    subsequent join: the 100 TB answer to recurring fact⋈fact joins."""
    from hudi_utility_spark.write import write_bucketed_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    dim = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    try:
        write_bucketed_table(spark, ev, "q_bucketed_events", ["user_id"], num_buckets=8)
        write_bucketed_table(spark, dim, "q_bucketed_users", ["user_id"], num_buckets=8)
        fact = spark.table("q_bucketed_events")
        users = spark.table("q_bucketed_users")
    except Exception:
        # catalog/warehouse unavailable (read-only cwd, no metastore):
        # same join un-bucketed — identical values, shuffled plan
        fact, users = ev, dim
    return (
        fact.join(users, "user_id")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("n_events").alias("sum_user_events"),
        )
    )


@query(
    "index_file_skipping_scan",
    """
    SELECT l_returnflag,
           COUNT(*) AS cnt,
           ROUND(SUM(l_extendedprice), 2) AS sum_price
    FROM lineitem
    WHERE l_orderkey BETWEEN 1000 AND 2000
    GROUP BY l_returnflag
    """,
    sequential=True,
)
def index_file_skipping_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-stats file skipping (Hudi's column_stats metadata
    partition): write lineitem range-sorted on l_orderkey, index per-file
    min/max, answer a range query by scanning only files whose range
    intersects — the result must be indistinguishable from the full-scan
    filter the oracle runs. The pruned file list is asserted strictly
    smaller in tests/test_index.py; here the value hash pins
    correctness."""

    from hudi_utility_spark import index
    from hudi_utility_spark.write import write_sorted_partitioned

    root = fresh_scratch(sf_dir, "idx_skip")
    li = load_table(spark, sf_dir, "lineitem")
    write_sorted_partitioned(
        li, root, ["l_returnflag"], ["l_orderkey"], num_files=16
    )
    # footer-metadata build: O(files) footer reads, zero data IO —
    # the production stats path (guide §6); pinned scan-build-identical
    # by tests/test_index.py::test_footer_built_index_matches_scan_built
    index.build_column_stats_from_footers(spark, root, ["l_orderkey"])
    pruned = index.read_with_skipping(spark, root, "l_orderkey", 1000, 2000)
    return (
        pruned.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        )
    )


@query(
    "index_point_lookup",
    """
    SELECT event_id, event_type, ROUND(value, 2) AS value
    FROM events WHERE event_id % 97 = 0
    """,
    sequential=True,
)
def index_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record-level index (Hudi record_index): bootstrap events into a
    scratch keyed table, index key→file, then answer a point-lookup
    batch by reading only the matched base files — results must equal
    the oracle's plain key filter. Lookup cost on a clustered layout is
    ~one file per key instead of a partition scan."""

    from hudi_utility_spark import index
    from hudi_utility_spark.write import upsert

    root = fresh_scratch(sf_dir, "idx_point")
    table = events_table(root)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    upsert(spark, events, table, commit_time="20260101000000001")
    index.build_record_index(spark, table)
    wanted = events.filter(F.col("event_id") % 97 == 0).select("event_id")
    got = index.point_lookup(spark, table, wanted)
    return got.select("event_id", "event_type", F.round("value", 2).alias("value"))


@query(
    "index_bloom_lookup",
    """
    SELECT event_id, event_type, ROUND(value, 2) AS value
    FROM events WHERE event_id % 89 = 0
    """,
    sequential=True,
)
def index_bloom_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter index (Hudi's default BLOOM index): per-file bloom
    bit sets built from the portable md5 hash family, probed with a
    point-lookup key batch — only files whose filter might contain a
    probe key are read, the exact residual filter discards false
    positives, and false negatives are impossible by construction. The
    oracle is the plain key filter: routing through the index must be
    result-invisible. Strict file pruning is asserted in
    tests/test_index.py."""

    from hudi_utility_spark import index
    from hudi_utility_spark.write import upsert

    root = fresh_scratch(sf_dir, "idx_bloom")
    table = events_table(root)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    upsert(spark, events, table, commit_time="20260101000000001")
    index.build_bloom_index(spark, table)
    wanted = events.filter(F.col("event_id") % 89 == 0).select("event_id")
    got = index.bloom_lookup(spark, table, wanted)
    return got.select("event_id", "event_type", F.round("value", 2).alias("value"))


@query(
    "zorder_two_dim_scan",
    """
    SELECT COUNT(*) AS cnt,
           ROUND(SUM(l_extendedprice), 2) AS sum_price
    FROM lineitem
    WHERE l_partkey BETWEEN 50 AND 400
    """,
    sequential=True,
)
def zorder_two_dim_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering: lineitem rewritten along a Morton curve over
    (l_orderkey, l_partkey), so the column-stats index prunes files for
    ranges on EITHER column — here the query filters the SECOND
    dimension, the one a plain sort cannot prune. Result must equal the
    oracle's full-scan filter; strict pruning on both dims is asserted
    in tests/test_index.py."""
    import os

    from hudi_utility_spark import index
    from hudi_utility_spark.write import write_zordered

    root = fresh_scratch(sf_dir, "zorder")
    li = load_table(spark, sf_dir, "lineitem")
    # file count derived from input size, not a constant (guide §6: a
    # hard-coded 16 means 4 MB files at sf0.1 and 6 TB files at 100 TB):
    # ~8 MB per file, floor 8, so the skipping index has real pruning
    # granularity at test SFs
    src_bytes = os.path.getsize(os.path.join(sf_dir, "lineitem.parquet"))
    n_files = max(8, src_bytes // (8 << 20))
    write_zordered(li, root, ["l_orderkey", "l_partkey"], num_files=n_files)
    # footer-metadata stats build — zero data IO (see index_file_skipping_scan)
    index.build_column_stats_from_footers(spark, root, ["l_orderkey", "l_partkey"])
    pruned = index.read_with_skipping(spark, root, "l_partkey", 50, 400)
    return pruned.agg(
        F.count(F.lit(1)).alias("cnt"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )


@query(
    "index_secondary_lookup",
    """
    SELECT o_orderkey, o_custkey, ROUND(o_totalprice, 2) AS o_totalprice
    FROM orders WHERE o_custkey % 101 = 0
    """,
    sequential=True,
)
def index_secondary_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Secondary index (Hudi 1.0): point lookup on a NON-key column —
    o_custkey value → base files via the index, exact residual filter
    after precombine resolution. Must be result-identical to the
    oracle's plain filter; strict pruning + post-index log churn pinned
    in tests/test_index.py."""

    from hudi_utility_spark import index
    from hudi_utility_spark.table import KeyedTable, TableType
    from hudi_utility_spark.write import upsert

    root = fresh_scratch(sf_dir, "idx_secondary")
    table = KeyedTable(
        path=root,
        record_key=["o_orderkey"],
        precombine="o_orderdate",
        partition_fields=["o_orderstatus"],
        table_type=TableType.MERGE_ON_READ,
    )
    orders = load_table(spark, sf_dir, "orders")
    upsert(spark, orders, table, commit_time="20260101000000001")
    index.build_secondary_index(spark, table, "o_custkey")
    wanted = orders.filter(F.col("o_custkey") % 101 == 0).select("o_custkey")
    got = index.secondary_lookup(spark, table, "o_custkey", wanted)
    return got.select(
        "o_orderkey", "o_custkey", F.round("o_totalprice", 2).alias("o_totalprice")
    )


def _cms_oracle(depth: int = 4, width: int = 1024, top: int = 20) -> str:
    """Count-Min oracle: identical md5-family cell arithmetic, exact
    top-N keys joined to their sketch estimates."""
    from hudi_utility_spark.ops import phash

    hi, lo = phash.sql_parts("CAST(user_id AS VARCHAR)")
    arms = "\n        UNION ALL ".join(
        f"SELECT user_id, {j} AS j, "
        f"({phash.sql_family(hi, lo, j)} % {width}) AS pos FROM events"
        for j in range(depth)
    )
    return f"""
    WITH cells AS (
        {arms}
    ),
    sketch AS (SELECT j, pos, COUNT(*) AS cnt FROM cells GROUP BY j, pos),
    exact AS (
        SELECT user_id, COUNT(*) AS "rows" FROM events GROUP BY user_id
        ORDER BY "rows" DESC, user_id LIMIT {top}
    ),
    est AS (
        SELECT p.user_id, MIN(s.cnt) AS est_rows
        FROM (SELECT DISTINCT user_id, j, pos FROM cells) p
        JOIN sketch s USING (j, pos)
        GROUP BY p.user_id
    )
    SELECT e.user_id, e."rows", CAST(est.est_rows AS BIGINT) AS est_rows
    FROM exact e JOIN est ON e.user_id = est.user_id
    """


@query("skew_cms_heavy_hitters", _cms_oracle(depth=4, width=1024, top=20))
def skew_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min heavy-hitter profile: the bounded-state alternative to
    the exact key histogram — the sketch is depth×width counters no
    matter how many distinct keys the fact has, which is what makes
    hot-key detection (the input to salting) affordable on a
    billion-key 100 TB fact. Estimates are one-sided (never under the
    true count); here the exact top-20 keys are joined to their sketch
    estimates and the whole arithmetic is oracle-replicated."""
    from hudi_utility_spark.ops.skew import cms_estimate, cms_sketch

    ev = load_table(spark, sf_dir, "events")
    sketch = cms_sketch(ev, "user_id", depth=4, width=1024)
    top = key_histogram(ev, on=["user_id"], top=20)
    est = cms_estimate(
        sketch, top.select("user_id"), "user_id", depth=4, width=1024
    )
    return top.join(est, "user_id").select("user_id", "rows", "est_rows")


def _hll_scalar_sql(col: str, table: str, p: int = 9) -> str:
    """Scalar portable-HLL estimate fragment (same integer arithmetic
    as quality_q's _hll_oracle, shaped as a single value)."""
    from hudi_utility_spark.ops import phash

    m = 1 << p
    alpha = 0.7213 / (1 + 1.079 / m)
    hi, lo = phash.sql_parts(f"CAST({col} AS VARCHAR)")
    ladder = " ".join(
        f"WHEN {lo} >= {1 << (b - 1)} THEN {33 - b}"
        for b in range(32, 0, -1)
    )
    return f"""(
      SELECT ROUND(CASE WHEN e_raw <= {2.5 * m!r} AND zeros > 0
                        THEN {float(m)!r} * ln({float(m)!r} / zeros)
                        ELSE e_raw END, 4)
      FROM (
        SELECT {alpha * m * m!r} / (s + zeros) AS e_raw, zeros FROM (
          SELECT SUM(power(2.0, -r)) AS s, {m} - COUNT(*) AS zeros FROM (
            SELECT bucket, MAX(rank) AS r FROM (
              SELECT ({hi} % {m}) AS bucket,
                     (CASE {ladder} ELSE 33 END) AS rank
              FROM {table} WHERE {col} IS NOT NULL
            ) GROUP BY bucket
          )
        )
      )
    )"""


@query(
    "plan_join_cardinality",
    f"""
    WITH nl AS (SELECT COUNT(*) AS n_left FROM orders),
    nr AS (SELECT COUNT(*) AS n_right FROM customer),
    hl AS (SELECT {_hll_scalar_sql("o_custkey", "orders")} AS ndv_left),
    hr AS (SELECT {_hll_scalar_sql("c_custkey", "customer")} AS ndv_right),
    ac AS (SELECT COUNT(*) AS actual_rows
           FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)
    SELECT n_left, n_right, ndv_left, ndv_right,
           ROUND(n_left * n_right / greatest(ndv_left, ndv_right), 4)
               AS est_rows,
           actual_rows
    FROM nl, nr, hl, hr, ac
    """,
)
def plan_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation as a first-class diagnostic: the
    System-R/Catalyst |L|x|R|/max(ndv) formula over portable-HLL NDVs,
    value-checked against DuckDB down to the sketch buckets, with the
    exact join count alongside as the calibration readout."""
    from hudi_utility_spark.ops.skew import join_cardinality_estimate

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    return join_cardinality_estimate(orders, cust, "o_custkey", "c_custkey")


@query(
    "plan_join_hotkeys",
    """
    WITH la AS (SELECT o_custkey AS k, COUNT(*) AS ca FROM orders GROUP BY 1),
    lb AS (SELECT c_custkey AS k, COUNT(*) AS cb FROM customer GROUP BY 1)
    SELECT la.k AS join_key,
           CAST(la.ca AS BIGINT) AS left_rows,
           CAST(lb.cb AS BIGINT) AS right_rows,
           CAST(la.ca * lb.cb AS BIGINT) AS output_rows
    FROM la JOIN lb USING (k)
    ORDER BY output_rows DESC, join_key LIMIT 10
    """,
)
def plan_join_hotkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join hot-key diagnosis: the 10 keys contributing the most output
    rows (product of per-side counts) — the follow-up when
    `plan_join_cardinality` predicts an explosion: these keys are what
    `salted_join` scatters. Two keyed count aggregates + a count-sized
    join; the fact tables are scanned once each."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    la = orders.groupBy(F.col("o_custkey").alias("join_key")).agg(
        F.count(F.lit(1)).alias("left_rows")
    )
    lb = cust.groupBy(F.col("c_custkey").alias("join_key")).agg(
        F.count(F.lit(1)).alias("right_rows")
    )
    return (
        la.join(lb, "join_key")
        .select(
            "join_key",
            "left_rows",
            "right_rows",
            (F.col("left_rows") * F.col("right_rows")).alias("output_rows"),
        )
        .orderBy(F.desc("output_rows"), F.asc("join_key"))
        .limit(10)
    )


@query(
    "plan_clustering_bins",
    """
    WITH files AS (
        SELECT event_type || '/' || strftime(CAST(ts AS DATE), '%Y-%m-%d')
                   AS file_id,
               COUNT(*) * 100 AS size_bytes
        FROM events GROUP BY 1
    ),
    planned AS (
        SELECT file_id, size_bytes,
               CAST(FLOOR((SUM(size_bytes) OVER (
                        ORDER BY size_bytes DESC, file_id) - size_bytes)
                    / 50000.0) AS BIGINT) AS bin_id
        FROM files
    )
    SELECT bin_id,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(size_bytes) AS BIGINT) AS bin_bytes,
           MIN(file_id) AS first_file
    FROM planned GROUP BY bin_id
    """,
)
def plan_clustering_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustering-service PLAN over a per-(type, day) file inventory
    (row count x 100 as the size proxy): `write.clustering_plan`'s
    largest-first cumulative sweep packs small files into ~50 KB output
    groups — each group overshoots by at most one straddling file. The
    sweep windows over file-inventory METADATA (guarded), never data
    rows; the execute half is `table.compact_small_files`."""
    from hudi_utility_spark.write import clustering_plan

    ev = load_table(spark, sf_dir, "events")
    files = ev.groupBy(
        F.concat(
            F.col("event_type"),
            F.lit("/"),
            F.date_format("ts", "yyyy-MM-dd"),
        ).alias("file_id")
    ).agg((F.count(F.lit(1)) * 100).alias("size_bytes"))
    plan = clustering_plan(files, target_bytes=50_000)
    return plan.groupBy("bin_id").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum("size_bytes").alias("bin_bytes"),
        F.min("file_id").alias("first_file"),
    )


def _ams_oracle(sketches: int = 16) -> str:
    """AMS F2 oracle: the identical ±1 md5-family signs, unrolled."""
    from hudi_utility_spark.ops import phash

    hi, lo = phash.sql_parts("CAST(user_id AS VARCHAR)")
    xs = ",\n               ".join(
        f"CAST(SUM(CASE WHEN ({phash.sql_family(hi, lo, j)} % 2) = 1 "
        f"THEN 1 ELSE -1 END) AS DOUBLE) AS x{j}"
        for j in range(sketches)
    )
    est = " + ".join(f"x{j} * x{j}" for j in range(sketches))
    return f"""
    WITH s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
               {xs}
        FROM events
    ),
    exact AS (
        SELECT CAST(SUM(c * c) AS BIGINT) AS f2 FROM (
            SELECT COUNT(*) AS c FROM events GROUP BY user_id
        )
    )
    SELECT s.n_rows, exact.f2 AS f2_exact,
           ROUND(({est}) / {sketches}.0, 2) AS f2_estimate,
           ROUND(ABS(({est}) / {sketches}.0 - exact.f2)
                 / CAST(exact.f2 AS DOUBLE), 6) AS rel_error
    FROM s, exact
    """


@query("skew_ams_f2", _ams_oracle(16))
def skew_ams_f2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS second-frequency-moment sketch (Alon-Matias-Szegedy 1996):
    F2 = Σ count(key)² — the self-join-size / skew statistic — estimated
    by 16 independent ±1-hash sums, each a single running counter. The
    md5-derived sign family (ops/phash.py) is engine-reproducible, so
    the sketch itself is value-hash-checked, not just its error bound.
    The sketch pass is ONE map-side-combinable aggregate over 16
    integers — at 100 TB it needs no per-key state at all, which is the
    entire point vs the exact groupBy it is compared against here."""
    from hudi_utility_spark.ops import phash

    ev = load_table(spark, sf_dir, "events")
    hi, lo = phash.parts(F.col("user_id").cast("string"))
    xs = [
        F.sum(
            F.when(phash.family_hash(hi, lo, j) % 2 == 1, 1).otherwise(-1)
        )
        .cast("double")
        .alias(f"x{j}")
        for j in range(16)
    ]
    s = ev.agg(F.count(F.lit(1)).alias("n_rows"), *xs)
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .agg(F.sum(F.col("c") * F.col("c")).alias("f2"))
    )
    est = None
    for j in range(16):
        t = F.col(f"x{j}") * F.col(f"x{j}")
        est = t if est is None else est + t
    est = est / F.lit(16.0)
    return (
        s.crossJoin(F.broadcast(exact))
        .select(
            "n_rows",
            F.col("f2").alias("f2_exact"),
            F.round(est, 2).alias("f2_estimate"),
            F.round(
                F.abs(est - F.col("f2")) / F.col("f2").cast("double"), 6
            ).alias("rel_error"),
        )
    )


@query(
    "approx_kmv_distinct",
    """
    WITH h AS (
        SELECT DISTINCT
               CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 8))
                    AS BIGINT) * 65536
               + CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 9, 8))
                      AS BIGINT) % 65536 AS hv
        FROM events
    ),
    kth AS (
        SELECT MAX(hv) AS hk, CAST(COUNT(*) AS BIGINT) AS k FROM (
            SELECT hv FROM h ORDER BY hv LIMIT 256
        )
    ),
    exact AS (SELECT COUNT(DISTINCT user_id) AS nd FROM events)
    SELECT exact.nd AS exact_distinct, kth.k,
           ROUND((kth.k - 1) * 281474976710656.0 / kth.hk, 2) AS kmv_estimate
    FROM kth, exact
    """,
)
def approx_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-Minimum-Values distinct sketch (Bar-Yossef et al. 2002; the
    theta-sketch core): hash every key into [0, 2^48), keep the 256
    smallest DISTINCT hashes, estimate distinct = (k−1)/θ with
    θ = h_k/2^48 — bounded state (256 longs) where exact COUNT DISTINCT
    shuffles every key, and unlike HLL the sketch supports set
    intersection. The md5 hash is engine-identical, so sketch AND
    estimate are value-hash-checked next to the exact count. If fewer
    than 256 distinct hashes exist the estimate degrades to k−1 — the
    sketch's documented small-set regime (use the exact count there)."""
    from hudi_utility_spark.ops import phash

    ev = load_table(spark, sf_dir, "events")
    hi, lo = phash.parts(F.col("user_id").cast("string"))
    h = ev.select((hi * F.lit(65536) + lo % F.lit(65536)).alias("hv")).distinct()
    kth = (
        h.orderBy("hv")
        .limit(256)
        .agg(F.max("hv").alias("hk"), F.count(F.lit(1)).alias("k"))
    )
    exact = ev.agg(F.count_distinct("user_id").alias("nd"))
    return (
        kth.crossJoin(F.broadcast(exact))
        .select(
            F.col("nd").alias("exact_distinct"),
            "k",
            F.round(
                (F.col("k") - 1) * F.lit(281474976710656.0) / F.col("hk"), 2
            ).alias("kmv_estimate"),
        )
    )


@query(
    "approx_kmv_jaccard",
    """
    WITH keys AS (
        SELECT event_type,
               concat(CAST(user_id AS VARCHAR), '-',
                      CAST(date_diff('day', DATE '1970-01-01',
                                     CAST(date_trunc('day', ts) AS DATE))
                           AS VARCHAR)) AS k
        FROM events WHERE event_type IN ('purchase', 'click')
    ),
    ha AS (
        SELECT DISTINCT
               CAST(concat('0x', substr(md5(k), 1, 8)) AS BIGINT) * 65536
               + CAST(concat('0x', substr(md5(k), 9, 8)) AS BIGINT) % 65536
                   AS hv
        FROM keys WHERE event_type = 'purchase'
    ),
    hb AS (
        SELECT DISTINCT
               CAST(concat('0x', substr(md5(k), 1, 8)) AS BIGINT) * 65536
               + CAST(concat('0x', substr(md5(k), 9, 8)) AS BIGINT) % 65536
                   AS hv
        FROM keys WHERE event_type = 'click'
    ),
    un AS (SELECT hv FROM ha UNION SELECT hv FROM hb),
    kth AS (
        SELECT MAX(hv) AS hk, CAST(COUNT(*) AS BIGINT) AS k FROM (
            SELECT hv FROM un ORDER BY hv LIMIT 256
        )
    ),
    rho AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS rho
        FROM ha JOIN hb USING (hv), kth
        WHERE ha.hv <= kth.hk
    ),
    exact AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS inter,
               (SELECT COUNT(*) FROM un) AS uni
        FROM (SELECT hv FROM ha INTERSECT SELECT hv FROM hb)
    )
    SELECT kth.k, rho.rho,
           ROUND(rho.rho * 1.0 / kth.k, 6) AS jaccard_kmv,
           ROUND(exact.inter / exact.uni, 6) AS jaccard_exact,
           ROUND(rho.rho * 1.0 / kth.k
                 * ((kth.k - 1) * 281474976710656.0 / kth.hk), 2)
               AS intersection_estimate
    FROM kth, rho, exact
    """,
)
def approx_kmv_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set intersection: KMV-estimated Jaccard between the
    purchase user-day set and the click user-day set, next to the exact
    answer — the operation HLL cannot do (union-only) and the reason
    `approx_kmv_distinct` keeps actual hash values. One 256-value
    union sketch fixes theta; rho counts sketch members present in BOTH
    sets; J = rho/k and |A∩B| = J * union_estimate. All hashes are the
    portable md5 family, so sketch, estimate, and exact agree
    value-for-value across engines."""
    from hudi_utility_spark.ops import phash

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("purchase", "click")
    )
    key = F.concat_ws(
        "-",
        F.col("user_id").cast("string"),
        F.datediff(
            F.to_date(F.date_trunc("day", F.col("ts"))),
            F.lit("1970-01-01").cast("date"),
        ).cast("string"),
    )
    hi, lo = phash.parts(key)
    hv = (hi * F.lit(65536) + lo % F.lit(65536)).alias("hv")
    keys = ev.select("event_type", hv)
    ha = keys.filter(F.col("event_type") == "purchase").select("hv").distinct()
    hb = keys.filter(F.col("event_type") == "click").select("hv").distinct()
    un = ha.union(hb).distinct().localCheckpoint(eager=False)
    kth = (
        un.orderBy("hv")
        .limit(256)
        .agg(F.max("hv").alias("hk"), F.count(F.lit(1)).alias("k"))
    )
    inter = ha.join(hb, "hv").localCheckpoint(eager=False)
    rho = inter.crossJoin(F.broadcast(kth)).filter(
        F.col("hv") <= F.col("hk")
    ).agg(F.count(F.lit(1)).alias("rho"))
    exact = inter.agg(F.count(F.lit(1)).cast("double").alias("inter")).crossJoin(
        F.broadcast(un.agg(F.count(F.lit(1)).alias("uni")))
    )
    return (
        kth.crossJoin(F.broadcast(rho))
        .crossJoin(F.broadcast(exact))
        .select(
            "k",
            "rho",
            F.round(F.col("rho") / F.col("k"), 6).alias("jaccard_kmv"),
            F.round(F.col("inter") / F.col("uni"), 6).alias("jaccard_exact"),
            F.round(
                F.col("rho")
                / F.col("k")
                * ((F.col("k") - 1) * F.lit(281474976710656.0) / F.col("hk")),
                2,
            ).alias("intersection_estimate"),
        )
    )


@query(
    "approx_moments_quantile",
    """
    WITH s AS (
        SELECT event_type,
               CAST(COUNT(*) AS DOUBLE) AS n,
               SUM(value) AS s1,
               SUM(value * value) AS s2,
               SUM(value * value * value) AS s3,
               quantile_cont(value, 0.5) AS q50_exact,
               quantile_cont(value, 0.9) AS q90_exact
        FROM events WHERE value IS NOT NULL
        GROUP BY event_type
    ),
    m AS (
        SELECT event_type, n, q50_exact, q90_exact,
               s1 / n AS mean,
               sqrt(s2 / n - (s1 / n) * (s1 / n)) AS sd,
               (s3 / n - 3 * (s1 / n) * (s2 / n)
                + 2 * (s1 / n) * (s1 / n) * (s1 / n))
                   / pow(sqrt(s2 / n - (s1 / n) * (s1 / n)), 3) AS skew
        FROM s
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n,
           ROUND(mean + sd * (0 + (0 * 0 - 1) / 6.0 * skew), 4) AS q50_est,
           ROUND(mean + sd * (1.2815515655446004
                 + (1.2815515655446004 * 1.2815515655446004 - 1) / 6.0
                   * skew), 4) AS q90_est,
           ROUND(q50_exact, 4) AS q50_exact,
           ROUND(q90_exact, 4) AS q90_exact,
           ROUND(ABS(mean + sd * (1.2815515655446004
                 + (1.2815515655446004 * 1.2815515655446004 - 1) / 6.0
                   * skew) - q90_exact) / q90_exact, 4) AS q90_rel_err
    FROM m
    """,
)
def approx_moments_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moments-sketch quantiles (Gan et al. 2018, "Moment-Based
    Quantile Sketches"): per-group raw power sums (n, Σv, Σv², Σv³) —
    FOUR doubles of state that merge by ADDITION across partitions,
    executors, and days — feed a Cornish-Fisher expansion
    q_p ≈ μ + σ·(z_p + (z_p²−1)/6·γ) for the p50/p90 estimate. The
    exact interpolated percentile and the relative error ride along,
    so the accuracy CLAIM itself crosses the value-hash gate (same
    discipline as `approx_quantile_check` / `approx_kmv_distinct`).

    100 TB posture: this is the cheapest mergeable quantile path that
    exists — one map-side-combinable aggregate, constant state, no GK
    buffers, no sort anywhere; the trade is distribution-shape
    sensitivity (third-order CF), which the shipped rel-err column
    makes observable rather than assumed."""
    z = 1.2815515655446004
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
    )
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("value").alias("s1"),
        F.sum(F.col("value") * F.col("value")).alias("s2"),
        F.sum(F.col("value") * F.col("value") * F.col("value")).alias("s3"),
        F.expr("percentile(value, 0.5)").alias("q50_exact"),
        F.expr("percentile(value, 0.9)").alias("q90_exact"),
    )
    mean = F.col("s1") / F.col("n")
    sd = F.sqrt(F.col("s2") / F.col("n") - mean * mean)
    skew = (
        F.col("s3") / F.col("n")
        - 3 * mean * (F.col("s2") / F.col("n"))
        + 2 * mean * mean * mean
    ) / F.pow(sd, F.lit(3.0))
    q50 = mean + sd * (F.lit(0.0) + (F.lit(0.0) - 1) / F.lit(6.0) * skew)
    q90 = mean + sd * (F.lit(z) + (F.lit(z * z) - 1) / F.lit(6.0) * skew)
    return s.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.round(q50, 4).alias("q50_est"),
        F.round(q90, 4).alias("q90_est"),
        F.round("q50_exact", 4).alias("q50_exact"),
        F.round("q90_exact", 4).alias("q90_exact"),
        F.round(F.abs(q90 - F.col("q90_exact")) / F.col("q90_exact"), 4).alias(
            "q90_rel_err"
        ),
    )
