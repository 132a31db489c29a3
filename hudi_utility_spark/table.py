"""Keyed-table abstraction (SURVEY §1.1, §2.1 S7).

The reference's central output abstraction is a Hudi table: record key
(possibly composite), precombine field (dedup tiebreaker), partition-path
field(s), COW/MOR table type, Hive-style layout (reference
``fastapi-backend/pyspark_script.py:360-370``). Our pure-Spark equivalent:

* layout: ``df.write.partitionBy(partition_fields)`` parquet — identical
  ``field=value/`` dirs, so Catalyst partition-prunes on key filters;
* upsert semantics: union + precombine window (latest-by-key wins);
* COPY_ON_WRITE: upserts rewrite affected partitions (dynamic partition
  overwrite);
* MERGE_ON_READ: upserts append to a ``_delta_log/`` parquet dir; reads
  union base + log and resolve by the same precombine window; ``compact()``
  folds the log into the base.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from enum import Enum

from pyspark.sql import DataFrame, SparkSession

from hudi_utility_spark.io import list_files, read_files


class TableType(str, Enum):
    COPY_ON_WRITE = "COPY_ON_WRITE"
    MERGE_ON_READ = "MERGE_ON_READ"


class BootstrapMode(str, Enum):
    """Bootstrap modes of the reference (``pyspark_script.py:373-391``)."""

    FULL_RECORD = "FULL_RECORD"          # physical rewrite of the data
    METADATA_ONLY = "METADATA_ONLY"      # register source in catalog, no rewrite
    REGEX = "REGEX"                      # partition-regex split between the two

    @classmethod
    def parse(cls, value: "str | BootstrapMode") -> "BootstrapMode":
        if isinstance(value, BootstrapMode):
            return value
        try:
            return cls(value.upper())
        except ValueError as exc:
            raise ValueError(
                f"Invalid bootstrap type: {value!r} "
                f"(expected one of {[m.value for m in cls]})"
            ) from exc


_MOR_LOG_DIR = "_delta_log"

# tombstone marker written by write.delete_keys (MOR delete path); the
# ``_`` prefix keeps it out of reconciliation like Hudi's meta columns
# (pyspark_script.py:154)
DELETED_COL = "_deleted"


def union_versions(*versions: DataFrame | None) -> DataFrame:
    """Row versions unioned by column name (``None`` entries skipped);
    a column some versions lack is NULL in their rows."""
    from functools import reduce

    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        [v for v in versions if v is not None],
    )


@dataclass
class KeyedTable:
    """Spec + IO for a keyed, partitioned, upsertable table.

    Mirrors the reference's write config surface
    (``pyspark_script.py:360-370``): ``record_key`` may be composite
    (the reference takes it comma-separated, ``pyspark_script.py:127``;
    we take a list), ``precombine`` breaks ties (latest wins),
    ``partition_fields`` drive the Hive-style layout.
    """

    path: str
    record_key: list[str]
    precombine: str
    partition_fields: list[str] = field(default_factory=list)
    table_type: TableType = TableType.COPY_ON_WRITE
    name: str | None = None

    def __post_init__(self) -> None:
        if isinstance(self.record_key, str):  # tolerate the reference's CSV form
            self.record_key = [k.strip() for k in self.record_key.split(",") if k.strip()]
        if isinstance(self.partition_fields, str):
            self.partition_fields = [
                k.strip() for k in self.partition_fields.split(",") if k.strip()
            ]
        self.table_type = TableType(self.table_type)

    # -- paths ---------------------------------------------------------
    @property
    def base_path(self) -> str:
        return self.path

    @property
    def log_path(self) -> str:
        return os.path.join(self.path, _MOR_LOG_DIR)

    def exists(self) -> bool:
        p = self.path
        for scheme in ("file://", "hdfs://"):
            if p.startswith(scheme):
                p = p[len(scheme):]
        # data entries only: "."/"_"-prefixed names are session/metadata
        # artifacts (_delta_log, _locks, _savepoints, _index, _SUCCESS) —
        # a lock taken before the first write must not make the table
        # "exist"
        return os.path.isdir(p) and any(
            not e.startswith((".", "_")) for e in os.listdir(p)
        )

    # -- read ----------------------------------------------------------
    def read_base(self, spark: SparkSession) -> DataFrame:
        if not self.exists():
            # a table whose every row was deleted still reads (as zero
            # rows with its schema) via the _empty_schema marker the
            # emptying rewrite left behind (write.py
            # preserve_schema_if_emptied); "_"-prefixed, so partition
            # discovery and exists() both ignore it
            marker = os.path.join(self.path, "_empty_schema")
            if os.path.isdir(marker):
                return read_files(spark, marker, merge_schema=False)
        df = read_files(spark, self.base_path)
        if _MOR_LOG_DIR in df.columns:  # pragma: no cover - defensive
            df = df.drop(_MOR_LOG_DIR)
        return df

    def read_log(self, spark: SparkSession, stream: bool = False) -> DataFrame | None:
        """The MOR delta log (every row version appended since the last
        compaction), or ``None`` when the table has no log or the log
        holds no data file. ``stream`` returns it as a streaming source
        over the log's files instead, with the schema of the log as it
        stands.

        The batch read names the log's files with ``basePath`` at the log
        root: Spark skips ``_``-prefixed directories when it lists, and
        warns about every read rooted at one."""
        if self.table_type is not TableType.MERGE_ON_READ or not os.path.isdir(
            self.log_path
        ):
            return None
        files = list_files(self.log_path)
        if files == []:
            return None
        if files is None:  # not a local path: Spark lists it
            log = read_files(spark, self.log_path)
        else:
            log = read_files(spark, files, base_path=self.log_path)
        if stream:
            reader = spark.readStream.schema(log.schema).option("mergeSchema", "true")
            return reader.parquet(self.log_path)
        return log

    def resolve(
        self,
        *versions: DataFrame | None,
        keep_tombstones: bool = False,
        partial: bool = False,
    ) -> DataFrame:
        """The table's keyed semantics in one place: union the row
        *versions* (``None`` entries skipped), keep one row per record
        key — the latest by precombine (``latest_by_key``), or with
        ``partial`` the column-wise fill of ``resolve_partial`` — and
        drop keys whose winning version is a delete tombstone unless
        ``keep_tombstones``. Snapshot reads, time travel, index lookups,
        compaction and every COW commit resolve through here."""
        from pyspark.sql import functions as F

        from hudi_utility_spark.write import latest_by_key, resolve_partial

        merged = union_versions(*versions)
        pick = resolve_partial if partial else latest_by_key
        resolved = pick(merged, self.record_key, self.precombine)
        if DELETED_COL in resolved.columns and not keep_tombstones:
            resolved = resolved.filter(
                ~F.coalesce(F.col(DELETED_COL), F.lit(False))
            ).drop(DELETED_COL)
        return resolved

    def read(self, spark: SparkSession, keep_tombstones: bool = False) -> DataFrame:
        """Snapshot read: base ∪ delta-log resolved latest-by-key.

        For COW this is just the base. For MOR this is the read-time
        precombine resolution (SURVEY §7 hard-part (a)) — one window,
        O(1) shuffles regardless of how many log batches accumulated.
        Keys whose winning version is a delete tombstone are absent
        unless ``keep_tombstones`` (used by the cleaner, which must not
        reclaim an active tombstone lest the deleted row resurrect).
        """
        base = self.read_base(spark)
        log = self.read_log(spark)
        if log is None:
            return base
        return self.resolve(base, log, keep_tombstones=keep_tombstones)

    # -- maintenance ----------------------------------------------------
    def cluster(
        self,
        spark: SparkSession,
        sort_fields: list[str],
        num_files: int | None = None,
    ) -> None:
        """Hudi's clustering table service: rewrite the base files
        range-sorted on *sort_fields* (within the Hive partition layout)
        so parquet row-group stats and the column-stats index get tight,
        disjoint ranges — small files merge and range queries prune.
        Out-of-band like compaction: snapshot content is unchanged (MOR
        logs are folded in first — clustering implies compaction, as in
        Hudi). Indexes under ``_index`` survive: lookups ignore their
        entries for the replaced files and read the new ones unpruned
        until ``index.refresh_indexes`` covers them."""
        from hudi_utility_spark.write import write_sorted_partitioned

        if self.table_type is TableType.MERGE_ON_READ:
            self.compact(spark)
        resolved = self.read_base(spark)
        tmp = self.path.rstrip("/") + ".cluster.tmp"
        write_sorted_partitioned(
            resolved, tmp, self.partition_fields, sort_fields, num_files=num_files
        )
        from hudi_utility_spark.write import atomic_swap_dir

        atomic_swap_dir(tmp, self.path)
        spark.catalog.refreshByPath(self.path)

    def compact(
        self, spark: SparkSession, partitions: list | None = None
    ) -> None:
        """Fold the MOR delta log into the base — PARTITION-SCOPED, the
        Hudi discipline: only partitions that actually have log rows
        (or the explicit *partitions* subset of them) are resolved and
        rewritten; base partitions the log never touched are neither
        read nor written. At 100 TB with daily partitions and a
        hot-tail ingest this is the difference between compacting a few
        days and rewriting the table.

        Plan per run: one distinct over the (small) log's partition
        columns, precombine resolution over base∪log restricted to those
        partitions (the tuple predicate lands on both scans as partition
        pruning), the COW commit's one dynamic partition overwrite
        (``write._rewrite_cow``, which also drops base partitions left
        with no row), then the folded log partition dirs are removed.
        Partition identity is the FULL partition-field tuple (see
        ``partition_paths``) and removed directory names are
        Spark-escaped — first-field-only bookkeeping or unescaped names
        would let tombstoned rows resurface once the log is folded.
        Stored indexes survive; lookups read the rewritten files
        unpruned until ``index.refresh_indexes`` covers them.

        Crash contract: unpartitioned tables keep the all-or-nothing
        whole-dir swap. The partition-scoped path is WEAKER — the same
        contract as ``delete_keys``/``merge_into``: a crash between the
        dynamic overwrite and the log-dir removal leaves both base and
        log for a touched partition (safe: re-running compact is
        idempotent, the precombine resolution picks the same winners);
        a crash MID dynamic-overwrite can leave a touched partition
        half-written with the log still intact (recoverable the same
        way), but the half-written files are visible to raw base reads
        until then. Callers needing the strong contract on a
        partitioned table can force it by compacting via ``cluster()``
        (whole-table swap).
        """
        log = self.read_log(spark)
        if log is None:
            return
        from hudi_utility_spark.write import atomic_swap_dir, write_partitioned

        if self.partition_fields:
            import shutil

            from hudi_utility_spark.partition_paths import (
                distinct_partition_tuples,
                partition_tuple_predicate,
                remove_partition_leaves,
            )
            from hudi_utility_spark.write import _rewrite_cow

            # FULL partition-field tuples, not partition_fields[0] alone:
            # with [p1, p2], an all-tombstoned leaf (A, y) is invisible to
            # first-field bookkeeping (A survives via (A, x)) — the stale
            # base leaf would outlive the folded log and resurrect its
            # deleted rows. `partitions` (a public first-field subset
            # selector) scopes by tuple[0].
            touched = {
                t
                for t in distinct_partition_tuples(log, self.partition_fields)
                if partitions is None or t[0] in set(partitions)
            }
            if not touched:
                return
            pred = partition_tuple_predicate(self.partition_fields, touched)
            _rewrite_cow(
                self,
                self.read_base(spark),
                touched,
                lambda scoped: self.resolve(scoped, log.filter(pred)),
                "compact",
            )
            remove_partition_leaves(self.log_path, self.partition_fields, touched)
            # no data partitions left -> remove the whole log dir (a
            # remaining _SUCCESS marker alone would make the next
            # snapshot read try to infer a schema from zero files)
            if os.path.isdir(self.log_path) and not any(
                os.path.isdir(os.path.join(self.log_path, e))
                and not e.startswith((".", "_"))
                for e in os.listdir(self.log_path)
            ):
                shutil.rmtree(self.log_path)
            spark.catalog.refreshByPath(self.path)
            return

        resolved = self.resolve(self.read_base(spark), log)
        tmp = self.path.rstrip("/") + ".compact.tmp"
        write_partitioned(resolved, tmp, self.partition_fields, mode="overwrite")
        # the folded _delta_log goes; locks, savepoints and indexes
        # survive (the pre-r3 swap deleted the active writer lease out
        # from under TableServices' own critical section)
        atomic_swap_dir(tmp, self.path, drop_meta=(_MOR_LOG_DIR,))

    def needs_compaction(self, max_log_ratio: float = 0.2) -> bool:
        """Hudi's compaction *scheduling* policy, size-triggered: True
        when the MOR log's bytes exceed ``max_log_ratio`` × base bytes.
        Reads filesystem metadata only (no data scan), so it is safe to
        ask after every ingest batch — this is the knob that keeps MOR
        read amplification bounded while keeping ingest append-cheap."""
        if self.table_type is not TableType.MERGE_ON_READ:
            return False
        if not os.path.isdir(self.log_path):
            return False

        def _bytes(root: str) -> int:
            total = 0
            for dirpath, _, files in os.walk(root):
                for f in files:
                    if f.endswith(".parquet"):
                        total += os.path.getsize(os.path.join(dirpath, f))
            return total

        log_b = _bytes(self.log_path)
        base_b = max(
            _bytes(self.base_path) - log_b
            if self.log_path.startswith(self.base_path)
            else _bytes(self.base_path),
            1,
        )
        return log_b > max_log_ratio * base_b

    def compact_if_needed(
        self, spark: SparkSession, max_log_ratio: float = 0.2
    ) -> bool:
        """Compact when :meth:`needs_compaction` says so. Returns True
        when a compaction ran."""
        if not self.needs_compaction(max_log_ratio):
            return False
        self.compact(spark)
        return True

    def compact_small_files(
        self,
        spark: SparkSession,
        small_file_bytes: int = 32 * 1024 * 1024,
        target_file_bytes: int = 128 * 1024 * 1024,
    ) -> dict:
        """Partition-targeted small-file compaction — Hudi/Delta's
        OPTIMIZE bin-packing, scoped to only the partitions that need
        it: partitions whose average file size falls below
        ``small_file_bytes`` (per ``repair.file_layout_report``, a
        zero-data-IO listing scan) are rewritten into
        ≈``ceil(bytes / target_file_bytes)`` files each (exact up to
        hash collisions of salt groups into shuffle tasks); every other
        partition is neither read nor written.

        The per-partition output file count is steered with a salt
        column hashed from the record key modulo that partition's file
        budget (broadcast as a literal map of O(flagged partitions)
        entries), then one ``repartition(partition, salt)`` shuffle —
        so one big flagged partition packs to N files while a tiny one
        packs to 1, in a single job. Unlike :meth:`cluster` (whole-table
        sort rewrite), cost is O(flagged bytes). Indexes survive;
        lookups read the packed files unpruned until
        ``index.refresh_indexes`` covers them. Returns
        ``{"compacted": {partition value: n_files}, "noop": bool}``,
        keyed by the string form of each value (``None`` for NULL).
        """
        import math

        from hudi_utility_spark.partition_paths import (
            partition_values_predicate,
            read_partition_segment,
        )
        from hudi_utility_spark.repair import file_layout_report

        report = [
            r
            for r in file_layout_report(
                spark, self, small_file_bytes=small_file_bytes
            ).collect()
            if r["small_files"] and r["n_files"] > 1
        ]
        if not report:
            return {"compacted": {}, "noop": True}
        if not self.partition_fields:
            n = max(1, math.ceil(report[0]["bytes"] / target_file_bytes))
            from hudi_utility_spark.write import atomic_swap_dir, write_partitioned

            packed = self.read_base(spark).repartition(n)
            tmp = self.path.rstrip("/") + ".optimize.tmp"
            write_partitioned(packed, tmp, [], mode="overwrite")
            atomic_swap_dir(tmp, self.path)
            spark.catalog.refreshByPath(self.path)
            return {"compacted": {"<unpartitioned>": n}, "noop": False}

        pcol = self.partition_fields[0]
        flagged = {
            read_partition_segment(r[pcol]): max(1, math.ceil(r["bytes"] / target_file_bytes))
            for r in report
        }

        from pyspark.sql import functions as F

        from hudi_utility_spark.write import write_partitioned

        # a Spark map key cannot be NULL: the NULL partition's budget is
        # the fallback of the per-value map lookup
        budget = F.lit(flagged.get(None))
        named = [F.lit(x) for v, n in flagged.items() if v is not None for x in (v, n)]
        if named:
            budget = F.coalesce(
                F.create_map(*named)[F.col(pcol).cast("string")], budget
            )
        scoped = self.read_base(spark).filter(
            partition_values_predicate(pcol, list(flagged))
        )
        salt = F.pmod(F.hash(*[F.col(k) for k in self.record_key]), budget)
        # Pin the shuffle-partition count (disables AQE coalescing for
        # this exchange) at 4x the total file budget so distinct
        # (partition, salt) groups rarely collide into one task — each
        # flagged partition then fans across ~budget tasks and writes
        # ~budget files in parallel, instead of collapsing to a single
        # task per partition.
        total_budget = sum(flagged.values())
        nparts = max(
            int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
            4 * total_budget,
        )
        packed = (
            scoped.withColumn("_salt", salt)
            .repartition(nparts, F.col(pcol), F.col("_salt"))
            .drop("_salt")
        )
        write_partitioned(
            packed,
            self.base_path,
            self.partition_fields,
            mode="overwrite",
            pre_partitioned=True,
        )
        spark.catalog.refreshByPath(self.path)
        return {"compacted": flagged, "noop": False}

    def repartition_layout(
        self, spark: SparkSession, new_partition_fields: list[str]
    ) -> "KeyedTable":
        """Partition-scheme evolution (the Iceberg capability Hudi
        lacks, here as an explicit rewrite): re-lay the table out under
        a different Hive partition hierarchy. MOR logs fold in first
        (the new routing applies to every live version), the rewrite
        lands via the crash-safe swap (locks, savepoints and indexes
        survive; lookups read the re-laid files unpruned until
        `index.refresh_indexes` covers them), and a NEW `KeyedTable`
        spec pointing at the same path is returned; the old spec's reads
        are stale after this.

        Cost: one full sorted-less rewrite — the honest price of
        physical re-routing; at 100 TB schedule it like `cluster` (an
        out-of-band table service, not an ingest-path step). Snapshot
        content is pinned invariant by test.
        """
        from dataclasses import replace

        resolved = self.read(spark)
        missing = [c for c in new_partition_fields if c not in resolved.columns]
        if missing:
            raise ValueError(f"partition fields not in schema: {missing}")
        from hudi_utility_spark.write import atomic_swap_dir, write_partitioned

        tmp = self.path.rstrip("/") + ".relayout.tmp"
        write_partitioned(resolved, tmp, new_partition_fields, mode="overwrite")
        atomic_swap_dir(tmp, self.path, drop_meta=(_MOR_LOG_DIR,))
        spark.catalog.refreshByPath(self.path)
        return replace(self, partition_fields=list(new_partition_fields))

    def create_or_replace_view(
        self, spark: SparkSession, name: str | None = None
    ) -> str:
        """Register the RESOLVED snapshot (MOR base+log precombine
        window, tombstones dropped) as a temp view so plain
        ``spark.sql`` queries see exactly what :meth:`read` returns —
        the SQL-first front door to a keyed table. Returns the
        registered name. The view captures the lazy plan, so it tracks
        the table's files at query time (refresh after rewrites is
        handled by the write paths' ``refreshByPath``); re-register
        after log appends to pick up new files."""
        view = name or (
            self.name or os.path.basename(self.path.rstrip("/")) or "keyed_table"
        )
        view = view.replace("-", "_").replace(".", "_")
        self.read(spark).createOrReplaceTempView(view)
        return view

    def register_metadata_only(self, spark: SparkSession, source_path: str) -> str:
        """METADATA_ONLY bootstrap: expose the source files as a catalog
        view without rewriting (SURVEY §7 hard-part (b)). Returns the
        registered name."""
        name = self.name or os.path.basename(self.path.rstrip("/")) or "keyed_table"
        name = name.replace("-", "_").replace(".", "_")
        from hudi_utility_spark.io import read_source

        read_source(spark, source_path).createOrReplaceTempView(name)
        return name
