"""Oracle-checked lifecycle queries: the reference's core flows — MOR
snapshot resolution and the bootstrap→reconcile lifecycle — run against
scratch tables and checked by value hash, not just by pytest.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hudi_utility_spark.io import read_files
from hudi_utility_spark.queries import (
    EVENTS_RESOLVED,
    events_table,
    fresh_scratch,
    query,
)
from hudi_utility_spark.table import TableType
from hudi_utility_spark.tables import load_table
from hudi_utility_spark.write import upsert


# base + log resolution of `_signup_update_table`: both versions of every
# signup, latest ts wins per key
_SIGNUP_RESOLVED = """
    WITH unioned AS (
      SELECT event_id, ts, user_id, event_type, value FROM events
      UNION ALL
      SELECT event_id,
             ts + INTERVAL 1 HOUR AS ts,
             user_id, event_type,
             value + 5000 AS value
      FROM events WHERE event_type = 'signup'
    ), """ + EVENTS_RESOLVED + """"""


def _signup_update_table(spark: SparkSession, sf_dir: str, name: str):
    """Fresh MOR events table: every event, then a second commit moving
    each signup an hour later with value +5000 (a delta-log append)."""
    table = events_table(fresh_scratch(sf_dir, name))
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    upsert(spark, events, table)
    changed = (
        events.filter(F.col("event_type") == "signup")
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR"))
        .withColumn("value", F.col("value") + 5000)
    )
    upsert(spark, changed, table)
    return table


@query(
    "mor_snapshot_read",
    _SIGNUP_RESOLVED
    + """
    SELECT event_id, user_id, event_type, ROUND(value, 2) AS value
    FROM resolved WHERE rn = 1
    """,
    sequential=True,
)
def mor_snapshot_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4/MOR read resolution as a query: bootstrap events into a MOR
    table, upsert a modified slice (appends to the delta log, no base
    rewrite), read the snapshot — the read-time precombine window
    (SURVEY §7 hard-part (a)) must resolve base+log to latest-by-key.
    The oracle replays the same union+window in SQL."""
    table = _signup_update_table(spark, sf_dir, "mor_snapshot")
    snap = table.read(spark)
    return snap.select(
        "event_id", "user_id", "event_type", F.round("value", 2).alias("value")
    )


@query(
    "lifecycle_bootstrap_reconcile",
    """
    WITH src AS (
      SELECT event_type, COUNT(*) AS src_cnt FROM events GROUP BY event_type
    )
    SELECT event_type,
           src_cnt,
           src_cnt AS dst_cnt,
           'complete' AS status
    FROM src
    """,
    sequential=True,
)
def lifecycle_bootstrap_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's whole job as one query: FULL_RECORD bootstrap of
    events into a scratch keyed table, then the V3/V4 reconciliation —
    per-partition source vs destination counts with the
    missing/incomplete/complete status vocabulary. A correct bootstrap
    makes every partition 'complete', which is exactly what the oracle
    asserts from the source alone."""
    from hudi_utility_spark.engine import bootstrap
    from hudi_utility_spark.validate import BootstrapRequest

    root = fresh_scratch(sf_dir, "lifecycle")
    req = BootstrapRequest(
        data_file_path=os.path.join(sf_dir, "events.parquet"),
        table_name="events_lifecycle",
        record_key=["event_id"],
        precombine="ts",
        partition_fields=["event_type"],
        output_path=root,
    )
    bootstrap(spark, req)
    src = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("src_cnt"))
    )
    dst = (
        read_files(spark, root, merge_schema=False)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("dst_cnt"))
    )
    return (
        src.join(dst, "event_type", "full_outer")
        .select(
            "event_type",
            F.coalesce("src_cnt", F.lit(0)).alias("src_cnt"),
            F.coalesce("dst_cnt", F.lit(0)).alias("dst_cnt"),
            F.when(F.col("dst_cnt").isNull(), "missing")
            .when(F.col("src_cnt").isNull(), "unexpected")
            .when(F.col("src_cnt") != F.col("dst_cnt"), "incomplete")
            .otherwise("complete")
            .alias("status"),
        )
    )


@query(
    "lifecycle_schema_evolution",
    """
    WITH unioned AS (
      SELECT event_id, ts, event_type, CAST(NULL AS DOUBLE) AS score
      FROM events
      UNION ALL
      SELECT event_id, ts + INTERVAL 1 HOUR AS ts, event_type, 0.9 AS score
      FROM events WHERE event_type = 'click'
    ), """ + EVENTS_RESOLVED + """
    SELECT event_id, event_type, ROUND(score, 2) AS score
    FROM resolved WHERE rn = 1
    """,
    sequential=True,
)
def lifecycle_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution under upsert: a later batch carries a new
    ``score`` column (the reference's mergeSchema read at
    ``pyspark_script.py:333`` exists for exactly this case). Earlier
    rows resolve with NULL score, evolved rows with the value; the
    oracle replays union + precombine window with an explicit NULL
    column."""
    root = fresh_scratch(sf_dir, "schema_evo")
    table = events_table(root, TableType.COPY_ON_WRITE)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type"
    )
    upsert(spark, events, table, commit_time="20260101000000001")
    evolved = (
        events.filter(F.col("event_type") == "click")
        .withColumn("score", F.lit(0.9))
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR"))
    )
    upsert(spark, evolved, table, commit_time="20260102000000001")
    snap = table.read(spark)
    return snap.select(
        "event_id", "event_type", F.round("score", 2).alias("score")
    )


@query(
    "lifecycle_delete_reinsert",
    """
    WITH tomb AS (
      -- delete every click (fresh tombstone), plus a STALE delete of
      -- views that loses the precombine race
      SELECT event_id, ts + INTERVAL 1 HOUR AS ts, TRUE AS dead FROM events
      WHERE event_type = 'click'
      UNION ALL
      SELECT event_id, ts - INTERVAL 1 HOUR AS ts, TRUE AS dead FROM events
      WHERE event_type = 'view'
    ), unioned AS (
      SELECT event_id, ts, event_type, value, FALSE AS dead FROM events
      UNION ALL
      SELECT t.event_id, t.ts, e.event_type, CAST(NULL AS DOUBLE), t.dead
      FROM tomb t JOIN events e USING (event_id)
    ), """ + EVENTS_RESOLVED + """
    SELECT event_id, event_type, ROUND(value, 2) AS value
    FROM resolved WHERE rn = 1 AND NOT dead
    """,
    sequential=True,
)
def lifecycle_delete_reinsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-by-key under precombine arbitration: clicks get a fresh
    tombstone (gone), views get a STALE one (the existing row's newer
    precombine wins — Hudi delete-marker rules). The oracle replays both
    races with a union + window + tombstone filter."""
    from hudi_utility_spark.write import delete_keys

    root = fresh_scratch(sf_dir, "delete_lifecycle")
    table = events_table(root)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    upsert(spark, events, table, commit_time="20260101000000001")
    fresh = events.filter(F.col("event_type") == "click").select(
        "event_id", "event_type", (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("ts")
    )
    stale = events.filter(F.col("event_type") == "view").select(
        "event_id", "event_type", (F.col("ts") - F.expr("INTERVAL 1 HOUR")).alias("ts")
    )
    delete_keys(
        spark, fresh.unionByName(stale), table, commit_time="20260102000000001"
    )
    snap = table.read(spark)
    return snap.select(
        "event_id", "event_type", F.round("value", 2).alias("value")
    )


@query(
    "s7_partial_update",
    """
    WITH unioned AS (
      SELECT event_id, ts, event_type, value, props FROM events
      UNION ALL
      SELECT event_id, ts + INTERVAL 1 HOUR AS ts, event_type,
             value * 2 AS value, CAST(NULL AS VARCHAR) AS props
      FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT event_id, ts + INTERVAL 2 HOUR AS ts, event_type,
             CAST(NULL AS DOUBLE) AS value, 'audited' AS props
      FROM events WHERE event_type = 'purchase'
    ), filled AS (
      SELECT event_id, ts, event_type,
             LAST_VALUE(value IGNORE NULLS) OVER (
               PARTITION BY event_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
             LAST_VALUE(props IGNORE NULLS) OVER (
               PARTITION BY event_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS props
      FROM unioned
    ), resolved AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY event_id ORDER BY ts DESC) AS rn
      FROM filled
    )
    SELECT event_id, event_type, ROUND(value, 2) AS value, props
    FROM resolved WHERE rn = 1
    """,
    sequential=True,
)
def s7_partial_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial-update payload semantics (Hudi's
    OverwriteNonDefaultsWithLatestAvroPayload / 1.x partial merge mode):
    two partial batches — clicks double ``value`` but carry NULL
    ``props`` (must inherit the existing props), purchases set ``props``
    but carry NULL ``value`` (must keep the existing value). The oracle
    replays the per-column last-non-null resolution with IGNORE NULLS
    windows."""
    from hudi_utility_spark.write import upsert_partial

    root = fresh_scratch(sf_dir, "partial_update")
    table = events_table(root, TableType.COPY_ON_WRITE)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value", "props"
    )
    upsert_partial(spark, events, table, commit_time="20260101000000001")
    clicks = events.filter(F.col("event_type") == "click").select(
        "event_id",
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("ts"),
        "event_type",
        (F.col("value") * 2).alias("value"),
        F.lit(None).cast("string").alias("props"),
    )
    upsert_partial(spark, clicks, table, commit_time="20260102000000001")
    buys = events.filter(F.col("event_type") == "purchase").select(
        "event_id",
        (F.col("ts") + F.expr("INTERVAL 2 HOUR")).alias("ts"),
        "event_type",
        F.lit(None).cast("double").alias("value"),
        F.lit("audited").alias("props"),
    )
    upsert_partial(spark, buys, table, commit_time="20260103000000001")
    snap = table.read(spark)
    return snap.select(
        "event_id", "event_type", F.round("value", 2).alias("value"), "props"
    )


@query(
    "rollup_incremental_maintenance",
    """
    WITH unioned AS (
      SELECT event_id, ts, event_type, user_id, value, FALSE AS dead
      FROM events
      UNION ALL
      SELECT event_id, ts + INTERVAL 1 HOUR AS ts, event_type,
             user_id + 1 AS user_id, value * 2 AS value, FALSE AS dead
      FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT event_id, ts + INTERVAL 1 HOUR AS ts, event_type,
             user_id, CAST(NULL AS DOUBLE), TRUE AS dead
      FROM events WHERE event_type = 'view'
    ), """ + EVENTS_RESOLVED + """
    SELECT user_id, COUNT(*) AS cnt, ROUND(SUM(value), 2) AS sum_value
    FROM resolved WHERE rn = 1 AND NOT dead
    GROUP BY user_id
    """,
    sequential=True,
)
def rollup_incremental_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: seed a per-user rollup
    at T1, churn the table at T2 (click rows update AND move to a
    neighboring user group; every view row is deleted), then advance the
    rollup by applying only the CDC delta — work ∝ changed keys, the
    fact table is never re-aggregated. The oracle recomputes the final
    state from scratch; the maintained view must hash-match it."""
    from hudi_utility_spark import materialize
    from hudi_utility_spark.write import delete_keys

    root = fresh_scratch(sf_dir, "rollup_maint")
    table = events_table(os.path.join(root, "t"))
    t1, t2 = "20260101000000001", "20260102000000001"
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "user_id", "value"
    )
    upsert(spark, events, table, commit_time=t1)
    roll = os.path.join(root, "rollup")
    materialize.seed_rollup(spark, table, roll, ["user_id"], "value", as_of=t1)

    moved = events.filter(F.col("event_type") == "click").select(
        "event_id",
        "event_type",
        (F.col("user_id") + 1).alias("user_id"),
        (F.col("value") * 2).alias("value"),
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("ts"),
    )
    gone = events.filter(F.col("event_type") == "view").select(
        "event_id", "event_type", (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("ts")
    )
    upsert(spark, moved, table, commit_time=t2)
    delete_keys(spark, gone, table, commit_time=t2)

    out = materialize.maintain_rollup(
        spark, table, roll, ["user_id"], "value", since=t1, until=t2
    )
    return out.select(
        "user_id", "cnt", F.round("sum_value", 2).alias("sum_value")
    )


@query(
    "merge_multi_action",
    """
    WITH b AS (
      SELECT event_id, ts, user_id, event_type, value FROM events
    ), srcm AS (
      SELECT * FROM b WHERE event_id % 10 < 3
    ), srci AS (
      SELECT event_id + 10000000 AS event_id, ts, user_id, event_type, value
      FROM b WHERE event_id % 10 = 7
    ), kept AS (
      SELECT t.event_id, t.ts, t.user_id, t.event_type,
             CASE WHEN s.event_id IS NOT NULL AND t.user_id % 2 = 0
                  THEN ROUND(t.value + s.value, 2)
                  ELSE t.value END AS value
      FROM b t LEFT JOIN srcm s ON t.event_id = s.event_id
      WHERE NOT (s.event_id IS NOT NULL AND t.event_type = 'error')
    ), final AS (
      SELECT * FROM kept UNION ALL SELECT * FROM srci
    )
    SELECT event_id, user_id, event_type, ROUND(value, 2) AS value,
           epoch_us(ts) AS ts_us
    FROM final
    """,
    sequential=True,
)
def merge_multi_action(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-action MERGE lifecycle (`write.merge_into`): bootstrap
    events as a COW keyed table, then one merge that simultaneously
    (a) deletes matched rows sitting in the 'error' partition,
    (b) updates matched even-user rows (`value += s.value`), and
    (c) inserts never-seen keys — clause order delete→update, Hudi
    style. The oracle replays the same CASE/anti-predicate algebra in
    SQL over the untouched source parquet."""
    from hudi_utility_spark import tsutil
    from hudi_utility_spark.write import merge_into

    root = fresh_scratch(sf_dir, "merge_multi")
    table = events_table(root, TableType.COPY_ON_WRITE)
    base = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    upsert(spark, base, table)
    matched_src = base.filter(F.col("event_id") % 10 < 3)
    inserts = base.filter(F.col("event_id") % 10 == 7).withColumn(
        "event_id", F.col("event_id") + F.lit(10_000_000)
    )
    merge_into(
        spark,
        matched_src.unionByName(inserts),
        table,
        update_set={"value": "ROUND(t.value + s.value, 2)"},
        update_condition="t.user_id % 2 = 0",
        delete_condition="t.event_type = 'error'",
    )
    snap = table.read(spark)
    return snap.select(
        "event_id",
        "user_id",
        "event_type",
        F.round("value", 2).alias("value"),
        tsutil.us("ts").alias("ts_us"),
    )


@query(
    "sql_api_mor_view",
    _SIGNUP_RESOLVED
    + """
    SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
    FROM resolved WHERE rn = 1
    GROUP BY event_type
    """,
    sequential=True,
)
def sql_api_mor_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL front door over a MOR keyed table: `create_or_replace_view`
    registers the resolved snapshot (base+log precombine window), then
    a plain `spark.sql` aggregate runs against it — a user who only
    speaks SQL sees exactly what `KeyedTable.read` returns. Oracle
    replays the log-resolution union+window, then the same aggregate."""
    table = _signup_update_table(spark, sf_dir, "sql_mor_view")
    view = table.create_or_replace_view(spark, "mor_view_q")
    return spark.sql(
        f"""
        SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total_value
        FROM {view} GROUP BY event_type
        """
    )


@query(
    "replication_sync",
    """
    WITH u AS (
      SELECT event_id, ts, user_id, event_type, value, FALSE AS dead
      FROM events
      UNION ALL
      SELECT event_id, ts + INTERVAL 1 HOUR, user_id, event_type,
             value + 5000, FALSE
      FROM events WHERE event_type = 'signup'
      UNION ALL
      SELECT event_id, ts + INTERVAL 2 HOUR, user_id, event_type,
             NULL, TRUE
      FROM events WHERE event_type = 'error'
    ), resolved AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY event_id ORDER BY ts DESC) AS rn
      FROM u
    )
    SELECT event_id, user_id, event_type, ROUND(value, 2) AS value
    FROM resolved WHERE rn = 1 AND NOT dead
    """,
    sequential=True,
)
def replication_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental replication lifecycle (`materialize.
    replicate_incremental`): a MOR source takes an upsert wave and a
    delete wave; two CDC-driven sync steps roll the deltas into a COW
    replica, whose snapshot the oracle recomputes from first
    principles (union + precombine window + tombstone drop). Sync cost
    is O(delta) per step — the Hudi incremental-ETL chain."""
    from hudi_utility_spark.materialize import replicate_incremental
    from hudi_utility_spark.write import delete_keys

    root = fresh_scratch(sf_dir, "replication_sync")
    src = events_table(os.path.join(root, "src"))
    dst = events_table(os.path.join(root, "dst"), TableType.COPY_ON_WRITE)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    upsert(spark, events, src, commit_time="20260101000000000")
    replicate_incremental(spark, src, dst)  # bootstrap sync

    changed = (
        events.filter(F.col("event_type") == "signup")
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR"))
        .withColumn("value", F.col("value") + 5000)
    )
    upsert(spark, changed, src, commit_time="20260102000000000")
    dead = events.filter(F.col("event_type") == "error").withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 2 HOURS")
    )
    delete_keys(spark, dead, src, commit_time="20260103000000000")
    replicate_incremental(spark, src, dst)  # delta sync

    return dst.read(spark).select(
        "event_id",
        "user_id",
        "event_type",
        F.round("value", 2).alias("value"),
    )


@query(
    "v_partition_fingerprint",
    """
    SELECT CAST(event_type AS VARCHAR) AS event_type,
           CAST(SUM(CAST(concat('0x', substr(md5(concat_ws(chr(31),
                    coalesce(CAST(event_id AS VARCHAR), chr(0)),
                    coalesce(CAST(user_id AS VARCHAR), chr(0)))),
                  1, 12)) AS BIGINT) % 1000000007)
                % 1000000007 AS BIGINT) AS fp,
           COUNT(*) AS row_cnt
    FROM events GROUP BY 1
    """,
    sequential=True,
)
def v_partition_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent per-partition content fingerprint
    (repair.partition_fingerprints): md5-derived 48-bit row hash folded
    mod 1e9+7, summed per partition. The oracle recomputes the SAME
    hash in DuckDB — a value-hash match here proves the fingerprint is
    engine-portable, which is the whole point (verify a warehouse copy
    against the lake without moving data). One map-side-partial
    aggregate per side at any scale; no join, no sort."""
    from hudi_utility_spark.repair import partition_fingerprints

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    return partition_fingerprints(ev, "event_type", ["event_id", "user_id"])


@query(
    "v_anti_entropy_cycle",
    """
    WITH c AS (SELECT event_type, COUNT(*) AS c FROM events GROUP BY 1)
    SELECT CAST(event_type AS VARCHAR) AS event_type,
           CASE WHEN event_type = 'signup' THEN 'divergent'
                WHEN event_type = 'purchase' THEN 'missing'
                ELSE 'match' END AS status,
           c AS src_cnt,
           CASE WHEN event_type = 'purchase' THEN 0 ELSE c END AS dst_cnt
    FROM c
    UNION ALL
    SELECT 'zombie', 'extra', 0,
           (SELECT COUNT(*) FROM events WHERE event_type = 'click')
    """,
    sequential=True,
)
def v_anti_entropy_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-entropy content diff (repair.content_diff) over a replica
    with all three drift modes injected: one partition corrupted IN
    PLACE with the same row count (user_id+1 on 'signup' — invisible
    to the J2 count audit, caught only by the fingerprint), one
    partition dropped ('purchase' → missing), one partition the source
    never had ('zombie' → extra). The oracle derives every status and
    count from the source table alone. The diff itself is one
    aggregate over both sides' rows tagged by side, with a fingerprint
    per side — scan-bound at 100 TB, no join."""
    from hudi_utility_spark.repair import content_diff
    from hudi_utility_spark.write import write_partitioned

    root = fresh_scratch(sf_dir, "anti_entropy")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type"
    )
    write_partitioned(ev, root, ["event_type"])
    # in-place corruption: same cardinality, different content
    write_partitioned(
        ev.filter(F.col("event_type") == "signup").withColumn(
            "user_id", F.col("user_id") + 1
        ),
        root,
        ["event_type"],
    )
    shutil.rmtree(os.path.join(root, "event_type=purchase"))
    write_partitioned(
        ev.filter(F.col("event_type") == "click").withColumn(
            "event_type", F.lit("zombie")
        ),
        root,
        ["event_type"],
    )
    spark.catalog.refreshByPath(root)
    dest = read_files(spark, root, merge_schema=False)
    return content_diff(ev, dest, "event_type", ["event_id", "user_id"])


@query(
    "rollup_join_view_maintenance",
    """
    WITH l AS (
        SELECT l_orderkey,
               l_extendedprice * (1 - l_discount) AS revenue
        FROM lineitem
    )
    SELECT o.o_orderpriority AS priority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(SUM(l.revenue), 2) AS revenue
    FROM orders o JOIN l ON o.o_orderkey = l.l_orderkey
    GROUP BY o.o_orderpriority
    """,
    sequential=True,
)
def rollup_join_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance: the orders x lineitem revenue
    view is seeded from the 90% 'old' batch of each side, then advanced
    to full freshness by applying only the delta identity
    ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB (materialize.join_view_delta) for the 10%
    'new' batch — the big join is never re-run. The oracle recomputes
    the final aggregate from scratch over the full tables; the
    incrementally maintained view must hash-match it."""
    from hudi_utility_spark.materialize import join_view_delta

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "revenue"
        ),
    ).withColumnRenamed("l_orderkey", "o_orderkey")
    is_new_o = F.col("o_orderkey") % 10 == 0
    o_old, o_new = o.filter(~is_new_o), o.filter(is_new_o)
    l_old, l_new = li.filter(~is_new_o), li.filter(is_new_o)

    v_old = o_old.join(l_old, "o_orderkey")
    delta = join_view_delta(o_old, o_new, l_old, l_new, "o_orderkey")
    maintained = v_old.unionByName(delta)
    return maintained.groupBy(
        F.col("o_orderpriority").alias("priority")
    ).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("revenue"), 2).alias("revenue"),
    )


@query(
    "mor_compaction_invariance",
    """
    WITH unioned AS (
      SELECT event_id, ts, user_id, event_type, value FROM events
      UNION ALL
      SELECT event_id,
             ts + INTERVAL 1 HOUR AS ts,
             user_id, event_type,
             value + 250 AS value
      FROM events WHERE event_type = 'click'
    ), """ + EVENTS_RESOLVED + """
    SELECT event_id, user_id, event_type, ROUND(value, 2) AS value
    FROM resolved WHERE rn = 1
    """,
    sequential=True,
)
def mor_compaction_invariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction + clustering TABLE SERVICES under the oracle gate:
    bootstrap a MOR table, log an update slice, COMPACT (fold the delta
    log into the base, partition-scoped), then CLUSTER (whole-table
    range-sorted rewrite) — and the snapshot read afterwards must be
    bit-identical to the precombine resolution the oracle states. The
    services move bytes, never values (Hudi's compaction/clustering
    contract, reference table type `pyspark_script.py:361`); the query
    raises if the delta log survives compaction, so a silent no-op
    cannot pass. Complements `mor_snapshot_read` (which pins the
    READ-time resolution; this pins the REWRITE-time fold).

    100 TB posture: compact is partition-scoped (only log-touched
    partitions are read or rewritten — a hot-tail ingest compacts days,
    not the table); clustering is the out-of-band layout rewrite whose
    payoff `zorder_two_dim_scan`/`index_file_skipping_scan` measure."""
    root = fresh_scratch(sf_dir, "mor_compaction")
    table = events_table(root)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    upsert(spark, events, table)
    changed = (
        events.filter(F.col("event_type") == "click")
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR"))
        .withColumn("value", F.col("value") + 250)
    )
    upsert(spark, changed, table)
    table.compact(spark)
    if os.path.isdir(table.log_path):
        raise AssertionError("compaction left the delta log in place")
    table.cluster(spark, sort_fields=["event_id"], num_files=8)
    snap = table.read(spark)
    return snap.select(
        "event_id", "user_id", "event_type", F.round("value", 2).alias("value")
    )
