"""Oracle-checked incremental-read query over the commit timeline.

Builds a real keyed table in a scratch dir from the events source, runs
two upserts at known instants, and reads the delta — the full
write→stamp→incremental lifecycle under the driver's hash check.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hudi_utility_spark import timeline
from hudi_utility_spark.queries import (
    EVENTS_RESOLVED,
    events_table,
    fresh_scratch,
    query,
)
from hudi_utility_spark.tables import load_table
from hudi_utility_spark.write import upsert

T1, T2 = "20260101000000001", "20260102000000001"

# snapshot after the first two commits of `_three_commits`: union of
# both versions resolved by the precombine window
_TWO_COMMIT_STATE = """
    WITH unioned AS (
      SELECT event_id, ts, event_type, value FROM events
      UNION ALL
      SELECT event_id, ts + INTERVAL 1 HOUR AS ts, event_type,
             value + 1000 AS value
      FROM events WHERE event_type = 'click'
    ), """ + EVENTS_RESOLVED + """
    SELECT event_id, event_type, ROUND(value, 2) AS value
    FROM resolved WHERE rn = 1
    """


def _three_commits(spark: SparkSession, sf_dir: str, name: str):
    """Fresh MOR events table with three commits: every event at T1,
    clicks +1000 an hour later at T2, then a bad -1 overwrite of every
    click another hour later at a third instant."""
    table = events_table(fresh_scratch(sf_dir, name))
    events = load_table(spark, sf_dir, "events")
    upsert(spark, events, table, commit_time=T1)
    clicks = (
        events.filter(F.col("event_type") == "click")
        .withColumn("value", F.col("value") + 1000)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR"))
    )
    upsert(spark, clicks, table, commit_time=T2)
    bad = clicks.withColumn("value", F.lit(-1.0)).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 1 HOUR")
    )
    upsert(spark, bad, table, commit_time="20260103000000001")
    return table


@query(
    "timeline_incremental_read",
    oracle="""
    SELECT event_id, event_type, ROUND(value + 1000, 2) AS value
    FROM events WHERE event_type = 'click'
    """,
    sequential=True,
)
def timeline_incremental_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental read: bootstrap-upsert all events at T1, upsert a
    modified click slice at T2, read the (T1, T2] window — exactly the
    modified records come back, which is what lets a downstream consumer
    of a 100 TB table process deltas instead of snapshots."""
    root = fresh_scratch(sf_dir, "timeline")
    table = events_table(root)
    events = load_table(spark, sf_dir, "events")
    upsert(spark, events, table, commit_time=T1)
    clicks = events.filter(F.col("event_type") == "click").withColumn(
        "value", F.col("value") + 1000
    ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR"))
    upsert(spark, clicks, table, commit_time=T2)
    delta = timeline.incremental_read(spark, table, since=T1, until=T2)
    return delta.select(
        "event_id", "event_type", F.round("value", 2).alias("value")
    )


@query(
    "timeline_rollback_restore",
    oracle=_TWO_COMMIT_STATE,
    sequential=True,
)
def timeline_rollback_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollback table service: three commits (bootstrap, +1000 clicks,
    a bad -1 overwrite of every click), then ``rollback`` to the second
    instant — the snapshot must be exactly the two-commit state, which
    the oracle replays as union + precombine window. The bad commit
    leaves no trace (Hudi restore semantics; the reference app can only
    re-bootstrap after a bad load)."""
    table = _three_commits(spark, sf_dir, "timeline_rb")
    timeline.rollback(spark, table, T2)
    snap = table.read(spark)
    return snap.select(
        "event_id", "event_type", F.round("value", 2).alias("value")
    )


@query(
    "timeline_cdc_ops",
    oracle="""
    WITH mx AS (SELECT MAX(event_id) AS m FROM events)
    SELECT 'update' AS op, event_id, ROUND(value + 1000, 2) AS value
    FROM events WHERE event_type = 'click'
    UNION ALL
    SELECT 'insert' AS op, event_id + (SELECT m + 1 FROM mx) AS event_id,
           ROUND(value + 1000, 2) AS value
    FROM events WHERE event_type = 'click'
    UNION ALL
    SELECT 'delete' AS op, event_id, CAST(NULL AS DOUBLE) AS value
    FROM events WHERE event_type = 'view'
    """,
    sequential=True,
)
def timeline_cdc_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC incremental read: one commit window containing updates (click
    values +1000), inserts (same rows under fresh keys), and deletes
    (every view) — ``incremental_cdc`` labels each changed key with its
    op and after-image (NULL payload for deletes). The oracle is the
    literal union of the three expected change sets."""
    from hudi_utility_spark.write import delete_keys

    root = fresh_scratch(sf_dir, "timeline_cdc")
    table = events_table(root)
    events = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    upsert(spark, events, table, commit_time=T1)
    # fresh-key offset as a broadcast one-row aggregate, not a collect():
    # keeps the insert-synthesis a single self-contained plan
    id_base = events.agg((F.max("event_id") + F.lit(1)).alias("_id_base"))
    changed = (
        events.filter(F.col("event_type") == "click")
        .withColumn("value", F.col("value") + 1000)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR"))
    )
    inserts = (
        changed.crossJoin(F.broadcast(id_base))
        .withColumn("event_id", F.col("event_id") + F.col("_id_base"))
        .drop("_id_base")
    )
    deletes = events.filter(F.col("event_type") == "view").select(
        "event_id", "event_type", (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("ts")
    )
    upsert(spark, changed.unionByName(inserts), table, commit_time=T2)
    delete_keys(spark, deletes, table, commit_time=T2)
    cdc = timeline.incremental_cdc(spark, table, since=T1, until=T2)
    return cdc.select("op", "event_id", F.round("value", 2).alias("value"))


@query(
    "timeline_read_as_of",
    oracle=_TWO_COMMIT_STATE,
    sequential=True,
)
def timeline_read_as_of(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel: three commits, then ``read_as_of`` the SECOND
    instant — the historical snapshot must be exactly the two-commit
    state while the live table keeps all three (non-destructive, unlike
    rollback). The MOR log is the version store; the as-of read just
    bounds the precombine window at the instant."""
    table = _three_commits(spark, sf_dir, "timeline_asof")
    snap = timeline.read_as_of(spark, table, T2)
    return snap.select(
        "event_id", "event_type", F.round("value", 2).alias("value")
    )


@query(
    "timeline_clean_invariance",
    oracle="""
    WITH unioned AS (
      SELECT event_id, ts, event_type, value FROM events
      UNION ALL
      SELECT event_id, ts + INTERVAL 1 HOUR AS ts, event_type,
             value + 1000 AS value
      FROM events WHERE event_type = 'click'
      UNION ALL
      SELECT event_id, ts + INTERVAL 2 HOUR AS ts, event_type,
             value + 2000 AS value
      FROM events WHERE event_type = 'click'
    ), """ + EVENTS_RESOLVED + """
    SELECT event_id, event_type, ROUND(value, 2) AS value
    FROM resolved WHERE rn = 1
    """,
    sequential=True,
)
def timeline_clean_invariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cleaner table service: after two rounds of click churn, reclaim
    every version older than the latest instant — the SNAPSHOT must be
    bit-identical before and after (the cleaner deletes only superseded
    versions), which the oracle pins by recomputing the resolved state
    from the full history."""
    root = fresh_scratch(sf_dir, "timeline_clean")
    table = events_table(root)
    t3 = "20260103000000001"
    events = load_table(spark, sf_dir, "events")
    upsert(spark, events, table, commit_time=T1)
    clicks = events.filter(F.col("event_type") == "click")
    upsert(
        spark,
        clicks.withColumn("value", F.col("value") + 1000)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 HOUR")),
        table,
        commit_time=T2,
    )
    upsert(
        spark,
        clicks.withColumn("value", F.col("value") + 2000)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 2 HOURS")),
        table,
        commit_time=t3,
    )
    timeline.clean(spark, table, older_than=t3)
    snap = table.read(spark)
    return snap.select(
        "event_id", "event_type", F.round("value", 2).alias("value")
    )
