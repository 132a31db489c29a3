"""Incremental materialized-view maintenance over keyed tables.

A rollup (per-group count + sum) kept current by applying the CDC
delta of each commit window instead of recomputing from the snapshot —
the standard lakehouse pattern the reference's Hudi tables enable but
its app never exploits (it re-reads and re-counts the whole destination
on every run, ``pyspark_script.py:168-174``).

Maintenance math per changed key (from `timeline.incremental_cdc` +
before-images at the window start):

    insert:  group += (1, value)
    delete:  group -= (1, before_value)
    update:  old group -= (1, before_value); new group += (1, value)
             (an update may MOVE a row between groups)

Scale: every step is proportional to the delta, not the table — the
CDC read prunes to changed keys, before-images come from one
left-semi-joined as-of read, the delta aggregate shuffles
O(changed-groups) rows, and the merge outer-joins the (small) rollup
with the (small) delta. A 100 TB fact with a 0.1 % daily churn
maintains its rollup touching ~0.1 % of the data.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hudi_utility_spark.io import read_files
from hudi_utility_spark.table import KeyedTable
from hudi_utility_spark.timeline import incremental_cdc, read_as_of


def compute_rollup(
    snapshot: DataFrame, group_cols: list[str], value_col: str
) -> DataFrame:
    """Full recompute — used to seed the view and as the oracle the
    incremental path must match."""
    return snapshot.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(value_col).alias("sum_value"),
    )


def seed_rollup(
    spark: SparkSession,
    table: KeyedTable,
    rollup_path: str,
    group_cols: list[str],
    value_col: str,
    as_of: str,
) -> DataFrame:
    """Materialize the rollup at instant ``as_of`` (one full pass) and
    record ``as_of`` as the maintenance high-water mark (``._since``
    marker beside the rollup — consumed by
    ``streaming.ingest.stream_rollup_maintenance``)."""
    snap = read_as_of(spark, table, as_of)
    rollup = compute_rollup(snap, group_cols, value_col)
    rollup.write.mode("overwrite").parquet(rollup_path)
    spark.catalog.refreshByPath(rollup_path)
    with open(rollup_path.rstrip("/") + "._since", "w") as f:
        f.write(as_of)
    return read_files(spark, rollup_path, merge_schema=False)


def maintain_rollup(
    spark: SparkSession,
    table: KeyedTable,
    rollup_path: str,
    group_cols: list[str],
    value_col: str,
    since: str,
    until: str | None = None,
) -> DataFrame:
    """Advance the materialized rollup across ``(since, until]`` by
    applying the CDC delta. Work ∝ changed keys; the base table is
    never re-aggregated."""
    cdc = incremental_cdc(spark, table, since, until)
    keys = table.record_key

    # before-images of the changed keys only (semi-join prunes the
    # as-of read to the delta)
    before = read_as_of(spark, table, since).join(
        cdc.select(*keys).distinct(), on=keys, how="left_semi"
    )

    # negative contributions: the pre-change row leaves its old group
    minus = (
        before.join(
            cdc.filter(F.col("op").isin("update", "delete")).select(*keys),
            on=keys,
            how="left_semi",
        )
        .groupBy(*group_cols)
        .agg(
            (-F.count(F.lit(1))).alias("d_cnt"),
            (-F.sum(value_col)).alias("d_sum"),
        )
    )
    # positive contributions: the after-image joins its (possibly new)
    # group
    plus = (
        cdc.filter(F.col("op").isin("insert", "update"))
        .groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).alias("d_cnt"),
            F.sum(value_col).alias("d_sum"),
        )
    )
    delta = (
        minus.unionByName(plus)
        .groupBy(*group_cols)
        .agg(F.sum("d_cnt").alias("d_cnt"), F.sum("d_sum").alias("d_sum"))
    )

    old = read_files(spark, rollup_path, merge_schema=False)
    merged = (
        old.join(delta, on=group_cols, how="full_outer")
        .select(
            *group_cols,
            (F.coalesce("cnt", F.lit(0)) + F.coalesce("d_cnt", F.lit(0))).alias("cnt"),
            (
                F.coalesce("sum_value", F.lit(0.0)) + F.coalesce("d_sum", F.lit(0.0))
            ).alias("sum_value"),
        )
        .filter(F.col("cnt") > 0)
    )
    # the write goes to a tmp dir and the swap follows it, so `old`'s
    # files stay in place while `merged` reads them
    tmp = rollup_path.rstrip("/") + ".maint.tmp"
    merged.write.mode("overwrite").parquet(tmp)
    from hudi_utility_spark.write import atomic_swap_dir

    atomic_swap_dir(tmp, rollup_path)
    spark.catalog.refreshByPath(rollup_path)
    return read_files(spark, rollup_path, merge_schema=False)


def replicate_incremental(
    spark: SparkSession,
    src: KeyedTable,
    dst: KeyedTable,
) -> dict:
    """One step of incremental table-to-table replication — the
    flagship Hudi incremental-ETL chain (downstream table fed by the
    upstream's incremental query instead of full recomputes): read
    ``src``'s CDC delta since the last applied instant, apply inserts/
    updates as an upsert and deletes as key deletes on ``dst``, advance
    the high-water marker (``._sync_since`` beside the destination,
    same pattern as the rollup's ``._since``).

    Invariants (pinned by tests): after a sync, ``dst``'s snapshot
    equals ``src``'s snapshot modulo commit instants (dst keeps its own
    timeline); a second sync with no new upstream commits is a no-op;
    the first sync against an empty marker bootstraps dst from the full
    CDC-since-epoch window. CDC delete rows carry the tombstone's own
    precombine, so a later upstream re-insert replays correctly against
    the replica's tombstone ordering.

    Cost per step: the CDC read (two as-of windows joined over the
    commit-pruned changed slice — O(delta)) plus upsert/delete on only
    the touched partitions. A 100 TB upstream with 0.1 % churn syncs
    its replica touching ~0.1 % of the data. Returns
    ``{"applied_upserts": n, "applied_deletes": n, "since": s,
    "until": u}``.
    """
    from hudi_utility_spark.concurrency import latest_commit
    from hudi_utility_spark.timeline import EPOCH_INSTANT
    from hudi_utility_spark.write import delete_keys, upsert

    marker = dst.path.rstrip("/") + "._sync_since"
    since = EPOCH_INSTANT
    if os.path.exists(marker):
        since = open(marker).read().strip() or EPOCH_INSTANT
    until = latest_commit(spark, src)
    if until <= since:
        return {
            "applied_upserts": 0,
            "applied_deletes": 0,
            "since": since,
            "until": until,
        }
    cdc = incremental_cdc(spark, src, since, until).persist()
    ups = cdc.filter(F.col("op") != "delete").drop("op")
    dels = cdc.filter(F.col("op") == "delete").select(
        *src.record_key, src.precombine, *src.partition_fields
    )
    # one conditional aggregate instead of two cache-scan counts (the
    # first of which also paid the CDC materialization): same values,
    # one job fewer per sync step
    row = cdc.agg(
        F.count(F.when(F.col("op") != "delete", 1)).alias("u"),
        F.count(F.when(F.col("op") == "delete", 1)).alias("d"),
    ).collect()[0]
    n_ups, n_dels = row["u"], row["d"]
    if n_ups:
        upsert(spark, ups, dst)
    if n_dels:
        if dst.exists():
            delete_keys(spark, dels, dst)
        # deletes against a not-yet-created replica have nothing to do
    cdc.unpersist()
    os.makedirs(os.path.dirname(marker) or ".", exist_ok=True)
    # atomic marker write (temp + rename, same discipline as
    # write.atomic_swap_dir): a crash mid-write must leave the old
    # watermark intact, never a truncated one that would re-sync from
    # a garbage instant
    tmp_marker = marker + ".tmp"
    with open(tmp_marker, "w") as f:
        f.write(until)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp_marker, marker)
    return {
        "applied_upserts": n_ups,
        "applied_deletes": n_dels,
        "since": since,
        "until": until,
    }


def join_view_delta(
    left_old: DataFrame,
    left_delta: DataFrame,
    right_old: DataFrame,
    right_delta: DataFrame,
    on: list[str] | str,
) -> DataFrame:
    """Insert-only delta of a JOIN view — the classic incremental-view-
    maintenance identity (Blakeley et al. 1986; every streaming SQL
    engine's inner-join operator is this identity run continuously):

        Δ(A ⋈ B) = (ΔA ⋈ B_old) ∪ (A_old ⋈ ΔB) ∪ (ΔA ⋈ ΔB)

    Appending the returned delta to the old view yields exactly
    A_new ⋈ B_new — the rollup twin is `maintain_rollup`; this is the
    join twin, and together they maintain an aggregate-over-join view
    without ever re-running the big join.

    Scale: each term joins a DELTA against a base (or the other delta)
    — work ∝ |Δ| per maintenance cycle, never |A ⋈ B|. Broadcast the
    delta side when it fits (Catalyst does this from statistics when
    the deltas are file-backed); the two base relations are only ever
    probed, never joined to each other. Non-key output columns must be
    disjoint across sides (same contract as the join itself).
    """
    return (
        left_delta.join(right_old, on)
        .unionByName(left_old.join(right_delta, on))
        .unionByName(left_delta.join(right_delta, on))
    )
