"""Commit timeline: incremental queries and time travel over keyed tables.

Apache Hudi's signature read modes, absent from the reference app's
surface but core to the table format it writes (the reference's Hudi
tables carry ``_hoodie_commit_time`` on every record — SURVEY §1.1/§1.2
notes the ``_``-prefix metadata convention at ``pyspark_script.py:154``).
This module gives our pure-Spark keyed tables the same capability:

- every upsert stamps its rows with a monotonically increasing instant
  string in the ``_commit_time`` metadata column;
- ``incremental_read(since)`` returns only records whose *current*
  version was written after ``since`` — CDC-style consumption that lets
  a downstream pipeline process 100 TB tables by reading only deltas;
- ``read_as_of(instant)`` reconstructs a MERGE_ON_READ snapshot at a
  past instant from the retained delta log (COW rewrites discard old
  versions, as in Hudi without savepoints — it raises there).

The ``_`` prefix keeps the column invisible to reconciliation
(``validate.schema_diff`` ignores metadata columns, mirroring
``pyspark_script.py:154``).

Scale notes: stamping is a literal projection (free under codegen);
incremental reads filter on a plain column, so with commit-time
bucketing or partition layout the scan prunes to recent files; nothing
here adds a shuffle beyond the table's normal read resolution.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hudi_utility_spark.io import read_files
from hudi_utility_spark.partition_paths import read_partition_segment
from hudi_utility_spark.table import KeyedTable, TableType

COMMIT_COL = "_commit_time"

# sorts before any real instant: rows from pre-timeline writes (no
# stamp) are treated as written at the epoch
EPOCH_INSTANT = "0"


def new_instant() -> str:
    """Monotonic instant string, Hudi-style ``yyyyMMddHHmmssSSS``."""
    return datetime.now(timezone.utc).strftime("%Y%m%d%H%M%S%f")[:17]


def stamp(df: DataFrame, instant: str | None = None) -> DataFrame:
    """Attach/overwrite the ``_commit_time`` metadata column."""
    instant = instant or new_instant()
    if COMMIT_COL in df.columns:
        df = df.drop(COMMIT_COL)
    return df.withColumn(COMMIT_COL, F.lit(instant))


def _commit_expr():
    return F.coalesce(F.col(COMMIT_COL), F.lit(EPOCH_INSTANT))


def incremental_read(
    spark: SparkSession,
    table: KeyedTable,
    since: str,
    until: str | None = None,
) -> DataFrame:
    """Records whose current version was committed in ``(since, until]``.

    Semantics match Hudi's incremental query: a record appears iff its
    *winning* version (after precombine resolution) carries an instant
    in the window — unchanged records are absent, so downstream work is
    proportional to the delta, not the table.
    """
    snap = table.read(spark)
    if COMMIT_COL not in snap.columns:
        raise ValueError(
            f"table at {table.path} has no commit timeline "
            f"(write it with upsert(), which stamps {COMMIT_COL})"
        )
    out = snap.filter(_commit_expr() > F.lit(since))
    if until is not None:
        out = out.filter(_commit_expr() <= F.lit(until))
    return out


def _rewrite_log(spark: SparkSession, table: KeyedTable, kept: DataFrame) -> int:
    """Replace the delta log with *kept* via tmp-dir + atomic swap.

    Collect-free: the new log is written distributed, then directories
    are swapped driver-side (a metadata move on HDFS/object stores with
    rename semantics). Returns the retained row count."""
    import os
    import shutil

    from hudi_utility_spark.write import write_partitioned

    n = kept.count()
    if n == 0:
        # nothing retained: an empty dynamic-overwrite write would leave
        # no partitions behind, so just drop the log directory
        shutil.rmtree(table.log_path)
        return 0
    tmp = table.log_path.rstrip("/") + ".rewrite.tmp"
    write_partitioned(kept, tmp, table.partition_fields, mode="overwrite")
    from hudi_utility_spark.write import atomic_swap_dir

    atomic_swap_dir(tmp, table.log_path)
    return n


def rollback(spark: SparkSession, table: KeyedTable, instant: str) -> dict:
    """Undo every commit after ``instant`` (Hudi's rollback/restore
    table service — absent from the reference app, which can only
    re-bootstrap from scratch on a bad load; its FAILED ledger rows at
    ``app.py:296-305`` record the damage but nothing repairs it).

    MOR only: upserts land exclusively in the delta log, so dropping log
    rows with ``_commit_time > instant`` restores the exact snapshot at
    ``instant``. Raises if the base itself carries later commits (a
    compaction folded them in — history is gone, as in Hudi once the
    cleaner runs past a commit without a savepoint).

    Scale: one pruned scan + rewrite of the *log* (the small side of a
    MOR table by design); the base is untouched.
    """
    if table.table_type is not TableType.MERGE_ON_READ:
        raise ValueError(
            "rollback requires a MERGE_ON_READ table: COPY_ON_WRITE "
            "rewrites discard prior record versions"
        )
    base = table.read_base(spark)
    if COMMIT_COL in base.columns:
        late = base.filter(_commit_expr() > F.lit(instant))
        if not late.isEmpty():
            raise ValueError(
                f"base files contain commits after {instant} (compacted); "
                "rollback target predates retained history"
            )
    log = table.read_log(spark)
    if log is None:
        return {"instant": instant, "log_rows_kept": 0}
    kept = log.filter(_commit_expr() <= F.lit(instant))
    n = _rewrite_log(spark, table, kept)
    return {"instant": instant, "log_rows_kept": n}


def _savepoint_dir(table: KeyedTable) -> str:
    import os

    return os.path.join(table.path, "_savepoints")


def savepoint(table: KeyedTable, instant: str) -> None:
    """Pin ``instant``: the cleaner keeps every log row needed to
    reconstruct the snapshot at a savepointed instant, however far the
    retention horizon moves (Hudi's savepoint semantics — the guard its
    docs require before any destructive table service).

    Metadata only: one marker file under ``_savepoints/`` (the ``_``
    prefix keeps the dir invisible to parquet partition discovery, same
    convention as the ``_commit_time`` column)."""
    import os

    d = _savepoint_dir(table)
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, instant), "w") as f:
        f.write(instant)


def list_savepoints(table: KeyedTable) -> list[str]:
    import os

    d = _savepoint_dir(table)
    if not os.path.isdir(d):
        return []
    return sorted(os.listdir(d))


def delete_savepoint(table: KeyedTable, instant: str) -> None:
    import os

    p = os.path.join(_savepoint_dir(table), instant)
    if os.path.exists(p):
        os.remove(p)


def clean(spark: SparkSession, table: KeyedTable, older_than: str) -> dict:
    """Hudi's cleaner service: reclaim superseded record versions while
    keeping (a) every current winning version and (b) full history after
    ``older_than``. Time travel via ``read_as_of`` stays exact for
    instants ≥ ``older_than``; older instants lose fidelity — the same
    contract as Hudi's ``hoodie.cleaner.commits.retained``.

    Scale: winners are identified with one left-semi join of the log
    against the resolved snapshot keyed on (record key, precombine,
    commit) — no collect, no O(commits) passes; then one log rewrite.
    """
    log = table.read_log(spark)
    if log is None:
        return {"older_than": older_than, "log_rows_kept": 0}
    # keep_tombstones: an active delete marker IS the winning version of
    # its key — reclaiming it would resurrect the deleted row
    snap = table.read(spark, keep_tombstones=True)
    join_cols = [*table.record_key, table.precombine]
    if COMMIT_COL in snap.columns and COMMIT_COL in log.columns:
        join_cols.append(COMMIT_COL)
    # rows worth keeping: current winners, plus the winners of every
    # savepointed snapshot (pins read_as_of at those instants forever)
    keep_keys = snap.select(*join_cols)
    for sp in list_savepoints(table):
        keep_keys = keep_keys.unionByName(
            read_as_of(spark, table, sp, keep_tombstones=True).select(*join_cols)
        )
    old_winners = (
        log.filter(_commit_expr() <= F.lit(older_than))
        .join(keep_keys.distinct(), on=join_cols, how="left_semi")
    )
    recent = log.filter(_commit_expr() > F.lit(older_than))
    kept = recent.unionByName(old_winners)
    n = _rewrite_log(spark, table, kept)
    return {"older_than": older_than, "log_rows_kept": n}


def read_as_of(
    spark: SparkSession,
    table: KeyedTable,
    instant: str,
    keep_tombstones: bool = False,
) -> DataFrame:
    """Snapshot of a MERGE_ON_READ table as of ``instant``.

    Filters base + delta log to versions committed at or before the
    instant, then resolves latest-by-precombine — one window, same cost
    as a normal MOR read. Keys whose winner at the instant is a delete
    tombstone are absent (they were deleted by then) unless
    ``keep_tombstones``. COPY_ON_WRITE rewrites discard history, so
    time travel is undefined there (matches Hudi sans savepoints).
    """
    if table.table_type is not TableType.MERGE_ON_READ:
        raise ValueError(
            "read_as_of requires a MERGE_ON_READ table: COPY_ON_WRITE "
            "rewrites discard prior record versions"
        )
    return table.resolve(
        *_versions_upto(spark, table, instant), keep_tombstones=keep_tombstones
    )


def _versions_upto(
    spark: SparkSession, table: KeyedTable, instant: str
) -> list[DataFrame | None]:
    """Base and log row versions committed at or before ``instant``
    (unstamped rows count as committed at the epoch)."""

    def _upto(versions: DataFrame | None) -> DataFrame | None:
        if versions is None:
            return None
        if COMMIT_COL not in versions.columns:
            versions = versions.withColumn(COMMIT_COL, F.lit(None).cast("string"))
        return versions.filter(_commit_expr() <= F.lit(instant))

    return [_upto(table.read_base(spark)), _upto(table.read_log(spark))]


def incremental_cdc(
    spark: SparkSession,
    table: KeyedTable,
    since: str,
    until: str | None = None,
) -> DataFrame:
    """Change-data-capture read: every key whose winning version changed
    in ``(since, until]``, labeled ``op`` ∈ insert / update / delete
    (Hudi's incremental query in CDC format — the after-image variant).

    MOR only (COW physically discards the history CDC is derived from).
    Cost: one read of base and log and one precombine window over the
    versions committed by ``until``. The window ranks each key's
    versions by precombine: the first row is the winner as of
    ``until``, and the first version committed by ``since`` says
    whether the key was alive then. Ties on precombine pick an
    arbitrary winner, as every resolution does.

    Delete rows carry the record key, partition fields, and commit
    columns; other columns are NULL (the before-image lives at
    ``read_as_of(since)`` if the log retains it).
    """
    from pyspark.sql import Window

    from hudi_utility_spark.table import DELETED_COL, union_versions

    if table.table_type is not TableType.MERGE_ON_READ:
        raise ValueError("incremental_cdc requires a MERGE_ON_READ table")
    hi = until or "9" * 17
    versions = union_versions(*_versions_upto(spark, table, hi))
    if DELETED_COL not in versions.columns:
        versions = versions.withColumn(DELETED_COL, F.lit(False))
    dead = F.coalesce(F.col(DELETED_COL), F.lit(False))
    by_key = Window.partitionBy(*table.record_key).orderBy(F.desc(table.precombine))
    alive_at_since = F.first(
        F.when(_commit_expr() <= F.lit(since), ~dead), ignorenulls=True
    ).over(by_key.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    changed = (
        versions.withColumn("__rn", F.row_number().over(by_key))
        .withColumn("__existed", F.coalesce(alive_at_since, F.lit(False)))
        .filter((F.col("__rn") == 1) & (_commit_expr() > F.lit(since)))
    )
    existed = F.col("__existed")
    op = (
        F.when(dead & existed, F.lit("delete"))
        .when(~dead & existed, F.lit("update"))
        .when(~dead & ~existed, F.lit("insert"))
    )  # dead & ~existed: tombstone for a never-alive key — dropped
    out_cols = [c for c in versions.columns if c != DELETED_COL]
    return (
        changed.withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .select("op", *out_cols)
    )


def expire_partitions(
    spark: SparkSession, table: KeyedTable, cutoff: str
) -> dict:
    """Data-retention sweep (TTL / compliance delete): drop every
    partition whose partition VALUE orders strictly below ``cutoff`` —
    a **metadata-only** operation: directory removals on base and MOR
    log, zero data scanned or rewritten, O(partitions) filesystem calls
    at any data size. Values are read back from the directory names
    (``%XX`` decoded) and compared as strings: for ISO dates and
    zero-padded keys lexical order is the value order, same assumption
    the reference's partition regexes make. A NULL partition never
    expires.

    Contrast with `delete_keys` (row-granular, rewrites touched
    partitions) and `clean` (version-granular, preserves the current
    snapshot): expiry removes CURRENT data wholesale and therefore also
    invalidates time travel into the dropped range — savepoints inside
    it are refused, matching Hudi's delete_partition + savepoint guard.

    Returns {"dropped": [values], "kept": n_remaining_partitions}.
    """
    import os
    import shutil

    if not table.partition_fields:
        raise ValueError("expire_partitions requires a partitioned table")
    pfield = table.partition_fields[0]
    prefix = f"{pfield}="

    def _parts(root: str) -> list[str]:
        if not os.path.isdir(root):
            return []
        return [d for d in os.listdir(root) if d.startswith(prefix)]

    def _value(d: str) -> str | None:
        return read_partition_segment(d[len(prefix):])

    # NULL < cutoff is not true (the savepoint guard's SQL below): the
    # NULL partition never expires
    doomed = {
        d for d in _parts(table.base_path) + _parts(table.log_path)
        if (v := _value(d)) is not None and v < cutoff
    }
    # savepoints pin history; refuse to silently break one. On MOR the
    # pinned snapshot is reconstructable (read_as_of) so the check is
    # precise; COW keeps no version history, so any savepoint must be
    # treated as pinning everything — conservative refusal.
    if doomed:
        for sp in list_savepoints(table):
            if table.table_type is not TableType.MERGE_ON_READ:
                raise ValueError(
                    f"savepoint {sp} exists on a COPY_ON_WRITE table, whose "
                    f"pinned snapshot cannot be reconstructed to prove the "
                    f"cutoff {cutoff!r} safe; delete the savepoint before "
                    "expiring"
                )
            snap = read_as_of(spark, table, sp, keep_tombstones=True)
            hit = (
                snap.filter(F.col(pfield).cast("string") < F.lit(cutoff))
                .limit(1)
                .count()
            )
            if hit:
                raise ValueError(
                    f"savepoint {sp} pins data below cutoff {cutoff!r}; "
                    "delete the savepoint before expiring"
                )
    for root in (table.base_path, table.log_path):
        for d in _parts(root):
            if d in doomed:
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)
    dropped = sorted(_value(d) for d in doomed)
    kept = len(_parts(table.base_path))
    spark.catalog.refreshByPath(table.base_path)
    return {"dropped": dropped, "kept": kept}


def export_snapshot(
    spark: SparkSession, table: KeyedTable, dest: str
) -> dict:
    """Backup service: write the table's RESOLVED current snapshot
    (MOR base+log folded, tombstones dropped) to ``dest`` as a plain
    partitioned-parquet layout, plus an ``_export_meta.json`` recording
    the table spec and the exported instant. The backup is
    self-contained — readable by any engine, importable by
    :func:`restore_snapshot` — and costs one resolved read + one
    partitioned write (the same IO as a clustering pass over the live
    data). Savepoint-style guarantees without retaining the log:
    export is the off-table archival arm, savepoints the in-table one.
    """
    import json as _json
    import os

    from hudi_utility_spark.concurrency import latest_commit
    from hudi_utility_spark.write import write_partitioned

    snap = table.read(spark)
    instant = latest_commit(spark, table)
    write_partitioned(snap, dest, table.partition_fields, mode="overwrite")
    meta = {
        "record_key": table.record_key,
        "precombine": table.precombine,
        "partition_fields": table.partition_fields,
        "instant": instant,
        "rows": read_files(spark, dest, merge_schema=False).count(),
    }
    with open(os.path.join(dest, "_export_meta.json"), "w") as f:
        f.write(_json.dumps(meta))
    return meta


def restore_snapshot(
    spark: SparkSession, table: KeyedTable, backup: str
) -> dict:
    """Restore a table from an :func:`export_snapshot` backup: the
    backup's data replaces the table's base via the crash-safe swap
    (leases, savepoints and indexes survive; the MOR log drops — the
    restored state IS the resolved snapshot, so the log is incorporated
    by construction). Refuses a backup whose key spec
    disagrees with the table's. Returns the backup metadata."""
    import json as _json
    import os
    import shutil

    from hudi_utility_spark.table import _MOR_LOG_DIR
    from hudi_utility_spark.write import atomic_swap_dir

    meta_path = os.path.join(backup, "_export_meta.json")
    if not os.path.exists(meta_path):
        raise ValueError(f"{backup} is not an export_snapshot backup")
    meta = _json.loads(open(meta_path).read())
    for k in ("record_key", "precombine", "partition_fields"):
        if meta[k] != getattr(table, k):
            raise ValueError(
                f"backup {k}={meta[k]!r} does not match table "
                f"{getattr(table, k)!r}"
            )
    tmp = table.path.rstrip("/") + ".restore.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.copytree(
        backup, tmp, ignore=shutil.ignore_patterns("_export_meta.json")
    )
    atomic_swap_dir(tmp, table.path, drop_meta=(_MOR_LOG_DIR,))
    spark.catalog.refreshByPath(table.path)
    return meta
