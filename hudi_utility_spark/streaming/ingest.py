"""Streaming ingest into keyed tables: the streaming twin of the
reference's batch bootstrap (its `spark-submit` job re-run per dataset —
reference ``fastapi-backend/app.py:126-163`` — becomes one continuous
query).

``foreachBatch`` is the idiomatic Spark bridge from a stream to a
batch-only sink with merge semantics: each micro-batch runs the same
``write.upsert`` used for batch loads, so COW/MOR and precombine
semantics are identical across ingest modes. Exactly-once per batch
comes from the checkpointed batch id — on recovery a replayed batch
re-upserts the same rows, and upsert is idempotent by key+precombine.

At scale: MOR tables make the micro-batch cheap (append to the delta
log, no read-modify-write); compaction runs out-of-band via
``KeyedTable.compact``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hudi_utility_spark.io import read_files
from hudi_utility_spark.table import KeyedTable
from hudi_utility_spark.write import latest_by_key, upsert


def _start_sink(stream: DataFrame, sink, checkpoint_dir: str, trigger_once: bool):
    """Start *stream* into the foreachBatch *sink* in update mode,
    checkpointed at *checkpoint_dir*; *trigger_once* drains what is
    available now and stops."""
    writer = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_upsert(
    spark: SparkSession,
    stream_df: DataFrame,
    table: KeyedTable,
    checkpoint_dir: str,
    trigger_once: bool = False,
):
    """Start a streaming query that upserts every micro-batch into
    `table`. Returns the StreamingQuery (caller owns the lifecycle).

    Each micro-batch is pre-deduplicated with the precombine window so a
    batch carrying several versions of one key writes only the survivor
    — the same guarantee Hudi's streamer gives via its own precombine.
    """

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        deduped = latest_by_key(batch_df, table.record_key, table.precombine)
        upsert(spark, deduped, table)

    return _start_sink(stream_df, _sink, checkpoint_dir, trigger_once)


def stream_rollup_maintenance(
    spark: SparkSession,
    table: KeyedTable,
    rollup_path: str,
    group_cols: list[str],
    value_col: str,
    checkpoint_dir: str,
    trigger_once: bool = False,
):
    """Continuously maintain a materialized rollup from a MOR table's
    delta log: a file stream over the log makes each newly committed
    batch a trigger, and the sink advances the rollup with
    ``materialize.maintain_rollup`` — CDC-delta work per micro-batch,
    never a recompute.

    The high-water instant lives next to the rollup (``_since`` marker),
    so restarts resume the maintenance window exactly where it stopped;
    re-delivered triggers are no-ops because ``maintain_rollup`` over an
    empty ``(since, since]`` window applies an empty delta. The rollup
    must be seeded first (``materialize.seed_rollup``)."""
    import os

    from hudi_utility_spark.concurrency import latest_commit
    from hudi_utility_spark.materialize import maintain_rollup

    marker = rollup_path.rstrip("/") + "._since"

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if not os.path.exists(marker):
            return  # not seeded yet
        since = open(marker).read().strip()
        until = latest_commit(spark, table)
        if until <= since:
            return
        maintain_rollup(
            spark, table, rollup_path, group_cols, value_col, since, until
        )
        with open(marker, "w") as f:
            f.write(until)

    stream = table.read_log(spark, stream=True)
    return _start_sink(stream, _sink, checkpoint_dir, trigger_once)


def stream_dedup_ingest(
    spark: SparkSession,
    stream_df: DataFrame,
    table: KeyedTable,
    store_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    trigger_once: bool = False,
):
    """Continuously ingest a document stream with corpus-level exact
    dedup: each micro-batch is admitted through
    ``ops.dedup.dedup_incremental`` against the persisted fingerprint
    store at ``store_path``, survivors are upserted into ``table``, and
    their fingerprints appended to the store — so duplicates are
    rejected across micro-batches, across restarts, and against
    everything ever ingested. This is the streaming form of the
    train-corpus ingest loop (crawl shard in → deduped keyed table out).

    Idempotency under replay: a re-delivered batch's fingerprints are
    already in the store, so its rows dedup to nothing and the upsert is
    a no-op (and even a crash BETWEEN the upsert and the store append
    only re-admits rows whose upsert is idempotent by key).

    Scale: the store is (fingerprint, id) — ~1000× narrower than text;
    per-batch work ∝ batch size (see SCALE.md, incremental dedup)."""
    import os

    from hudi_utility_spark.ops.dedup import dedup_incremental
    from hudi_utility_spark.ops.text import fingerprint

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if os.path.isdir(store_path):
            store = read_files(spark, store_path, merge_schema=False)
        else:
            store = fingerprint(batch_df.limit(0), text_col).select(
                id_col, "fingerprint"
            )
        fresh = dedup_incremental(
            batch_df, corpus_fingerprints=store, id_col=id_col, text_col=text_col
        ).persist()  # consumed by emptiness probe + upsert + store append
        try:
            if fresh.isEmpty():
                return
            upsert(spark, fresh, table)
            fingerprint(fresh, text_col).select(id_col, "fingerprint").write.mode(
                "append"
            ).parquet(store_path)
            spark.catalog.refreshByPath(store_path)
        finally:
            fresh.unpersist()

    return _start_sink(stream_df, _sink, checkpoint_dir, trigger_once)


def stream_neardedup_ingest(
    spark: SparkSession,
    stream_df: DataFrame,
    table: KeyedTable,
    band_store_path: str,
    checkpoint_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    trigger_once: bool = False,
):
    """`stream_dedup_ingest`'s NEAR-dup sibling: each micro-batch is
    gated by ``ops.dedup.incremental_minhash`` against the persisted
    LSH band store at ``band_store_path`` (a (band, band_hash, id)
    index — `minhash_bands`), survivors are upserted into ``table`` and
    their bands appended to the store. Rejects re-crawls with edited
    boilerplate and near-copies that exact fingerprints admit.

    Replay idempotency: a re-delivered batch collides with its own
    bands already in the store → admits nothing; a crash between upsert
    and store append only re-admits rows whose upsert is idempotent by
    key. Store growth is bands×~24 bytes per admitted doc.
    """
    import os

    from hudi_utility_spark.ops.dedup import incremental_minhash, minhash_bands

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if os.path.isdir(band_store_path):
            store = read_files(spark, band_store_path, merge_schema=False)
        else:
            store = minhash_bands(
                batch_df.limit(0), id_col, text_col, num_hashes, bands
            )
        fresh, batch_bands = incremental_minhash(
            batch_df,
            store,
            id_col=id_col,
            text_col=text_col,
            num_hashes=num_hashes,
            bands=bands,
            return_bands=True,
        )
        fresh = fresh.persist()  # consumed by emptiness probe + upsert + append
        try:
            if fresh.isEmpty():
                return
            upsert(spark, fresh, table)
            # admitted bands = the already-computed batch bands filtered
            # to admitted ids — no second signature pass over the text
            batch_bands.join(
                fresh.select(F.col(id_col).alias("id")), "id", "left_semi"
            ).write.mode("append").parquet(band_store_path)
            spark.catalog.refreshByPath(band_store_path)
        finally:
            fresh.unpersist()
            batch_bands.unpersist()

    return _start_sink(stream_df, _sink, checkpoint_dir, trigger_once)


def stream_scd2_maintenance(
    spark: SparkSession,
    stream_df: DataFrame,
    dim_path: str,
    keys: list[str],
    ts_col: str,
    tracked: list[str],
    checkpoint_dir: str,
    tiebreak: list[str] | None = None,
    trigger_once: bool = False,
):
    """Continuously maintain an SCD2 dimension from a change stream:
    each micro-batch runs ``scd.scd2_apply`` against the dimension on
    disk and atomically swaps in the result — the versioned-table twin
    of ``stream_upsert``'s latest-wins ingest.

    Replay safety (checkpointed batch ids re-deliver after recovery):
    before applying, the batch is filtered to changes strictly NEWER
    than each key's current ``effective_from`` (an anti-condition join
    against only the current slice, broadcast-sized). A replayed batch
    therefore re-applies as a no-op — without the filter, replaying a
    batch that carried several versions of one key would re-open
    already-closed spans and duplicate them. Ties at exactly
    ``effective_from`` are dropped by the same rule (the forward-only
    SCD2 contract; an equal-timestamp contradiction is ambiguous
    anyway).

    Per micro-batch cost: O(current versions + batch) — closed history
    passes through untouched inside ``scd2_apply``; the swap is the
    crash-safe ``atomic_swap_dir`` used by every table rewrite.
    """
    import os

    from hudi_utility_spark.scd import EFF_FROM, IS_CURRENT, scd2_apply, scd2_from_history
    from hudi_utility_spark.write import atomic_swap_dir, write_partitioned

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        if os.path.isdir(dim_path):
            dim = read_files(spark, dim_path, merge_schema=False)
            cur = dim.filter(F.col(IS_CURRENT)).select(
                *keys, F.col(EFF_FROM).alias("_cur_from")
            )
            fresh = (
                batch_df.join(cur, on=keys, how="left")
                .filter(
                    F.col("_cur_from").isNull()
                    | (F.col(ts_col) > F.col("_cur_from"))
                )
                .drop("_cur_from")
            )
            if fresh.isEmpty():
                return
            new_dim = scd2_apply(dim, fresh, keys, ts_col, tracked, tiebreak)
        else:
            new_dim = scd2_from_history(
                batch_df, keys, ts_col, tracked, tiebreak
            )
        tmp = dim_path.rstrip("/") + f".b{batch_id}.tmp"
        write_partitioned(new_dim, tmp, [], mode="overwrite")
        if os.path.isdir(dim_path):
            atomic_swap_dir(tmp, dim_path)
        else:
            os.rename(tmp, dim_path)

    return _start_sink(stream_df, _sink, checkpoint_dir, trigger_once)


def stream_replication(
    spark: SparkSession,
    src_table: KeyedTable,
    dst_table: KeyedTable,
    checkpoint_dir: str,
    trigger_once: bool = False,
):
    """Continuous table-to-table replication: a file stream over the
    source MOR delta log makes every committed batch a trigger, and the
    sink advances the replica with ``materialize.replicate_incremental``
    — CDC-delta work per micro-batch, the streaming twin of the rollup
    maintainer. Restart-safe the same way: the ``._sync_since`` marker
    lives beside the replica, and a re-delivered trigger syncs an empty
    ``(since, since]`` window (no-op)."""
    from hudi_utility_spark.materialize import replicate_incremental

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        replicate_incremental(spark, src_table, dst_table)

    stream = src_table.read_log(spark, stream=True)
    return _start_sink(stream, _sink, checkpoint_dir, trigger_once)
