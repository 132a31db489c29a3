"""Partition diff, completeness audit, resume, anti-entropy (SURVEY §2.3
J1/J2, §2.9 St3).

The reference's distinguishing feature: resuming a partially-written
bootstrap by re-writing only *missing* and *incomplete* partitions
(``fastapi-backend/pyspark_script.py:199-253,392-401``). Its implementation
is the repo's biggest perf bug — an O(P) loop issuing a filter+count Spark
job per partition value per side (``pyspark_script.py:237-247``).

Every question here is a filter of one aggregate (:func:`_repair_diff`):
both sides' rows, tagged by side, unioned and grouped by the string form
of the partition value, giving each partition's source and destination
row counts (0 on a side that lacks it) and, for anti-entropy, each
side's content fingerprint. Resume's repair set, the missing (J1) and
incomplete (J2) audits and :func:`content_diff`'s statuses all read it.
Each side is scanned once, nothing is joined, and the whole diff is two
Spark jobs (the partial-aggregate stage, then the final aggregate AQE
plans after it). NULL groups as one value, so a NULL partition is
diffed like any other. At 100 TB the aggregate is map-side partial, so
the shuffle carries one row per partition value per task, never data
rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from hudi_utility_spark.partition_paths import (
    partition_segment,
    partition_values_predicate,
    remove_partition_leaves,
    sorted_partition_values,
)
from hudi_utility_spark.table import KeyedTable
from hudi_utility_spark.write import align_timestamp_types, write_partitioned

def partition_counts(df: DataFrame, partition_field: str) -> DataFrame:
    """Per-partition row counts in one hash aggregate (replaces the
    reference's per-value filter+count loop, A2)."""
    return df.groupBy(F.col(partition_field).cast("string").alias(partition_field)).agg(
        F.count(F.lit(1)).alias("cnt")
    )


def _repair_diff(
    source: DataFrame,
    dest: DataFrame | None,
    partition_field: str,
    hash_cols: list[str] | None = None,
) -> DataFrame:
    """``(partition, src_cnt, dst_cnt)`` of every partition either side
    holds, from one aggregate over both sides' rows tagged by side; the
    partition is the string form of the value. With ``hash_cols`` each
    side's content fingerprint follows as ``src_fp`` / ``dst_fp`` (NULL
    on a side without the partition). ``dest=None`` is a destination
    with no rows."""
    p = F.col(partition_field).cast("string").alias(partition_field)
    fp = [row_fingerprint(hash_cols).alias("fp")] if hash_cols else []
    sides = source.select(p, F.lit(1).alias("side"), *fp)
    if dest is not None:
        sides = sides.unionByName(dest.select(p, F.lit(0).alias("side"), *fp))
    fps = ("src_fp", "dst_fp") if hash_cols else ()
    fp_sums = [
        (F.sum(F.when(F.col("side") == side, F.col("fp"))) % FINGERPRINT_MOD).alias(name)
        for side, name in zip((1, 0), fps)
    ]
    return (
        sides.groupBy(partition_field)
        .agg(F.sum("side").alias("src_cnt"), F.count(F.lit(1)).alias("cnt"), *fp_sums)
        .select(
            partition_field,
            "src_cnt",
            (F.col("cnt") - F.col("src_cnt")).alias("dst_cnt"),
            *fps,
        )
    )


def missing_partitions(
    source: DataFrame, dest: DataFrame, partition_field: str
) -> DataFrame:
    """Partition values present in source but absent from dest (J1).
    The result column is the partition field cast to string (the
    reference compares string forms, ``pyspark_script.py:234``)."""
    diff = _repair_diff(source, dest, partition_field)
    return diff.filter("src_cnt > 0 AND dst_cnt = 0").select(partition_field)


def incomplete_partitions(
    source: DataFrame, dest: DataFrame, partition_field: str
) -> DataFrame:
    """Partitions present on both sides whose row counts disagree (J2):
    ``(partition, src_cnt, dst_cnt)`` for each mismatch."""
    diff = _repair_diff(source, dest, partition_field)
    return diff.filter("src_cnt > 0 AND dst_cnt > 0 AND src_cnt != dst_cnt")


def partitions_to_repair(
    source: DataFrame, dest: DataFrame | None, partition_field: str
) -> list[str | None]:
    """Source partition values the destination does not hold in full:
    the reference's ``set(missing + incomplete)``
    (``pyspark_script.py:257``) as one aggregate over both sides, each
    scanned once. ``dest=None`` stands for a destination with no rows,
    so every source partition is returned. Values are string forms,
    sorted, with a NULL partition as ``None`` first. Collect is safe:
    one row per partition *value*, never data rows."""
    diff = _repair_diff(source, dest, partition_field)
    to_repair = diff.filter("src_cnt > 0 AND src_cnt != dst_cnt").select(partition_field)
    return sorted_partition_values(r[0] for r in to_repair.collect())


def _rewrite_partitions(
    source_df: DataFrame, table: KeyedTable, dest: DataFrame | None, values: list
) -> None:
    """Replace exactly the partitions ``values`` (string forms, ``None``
    for NULL) of ``table`` with their ``source_df`` rows, by dynamic
    partition overwrite. The rewritten rows carry the destination's
    timestamp flavor (NTZ vs LTZ) or the next mergeSchema read dies — a
    no-op under the engine session, it protects vanilla sessions."""
    src = source_df.filter(partition_values_predicate(table.partition_fields[0], values))
    if dest is not None:
        src = align_timestamp_types(src, dest.schema)
    write_partitioned(src, table.base_path, table.partition_fields, mode="overwrite")


def resume_bootstrap(
    spark: SparkSession,
    source_df: DataFrame,
    table: KeyedTable,
    dry_run: bool = False,
) -> dict:
    """Idempotent incremental repair (St3, ``pyspark_script.py:392-401``).

    Computes missing+incomplete partitions and rewrites exactly those via
    dynamic partition overwrite. Running it twice writes nothing the
    second time. The source's row count is observed on the diff's own
    scan of it. Returns {"repaired_partitions": [...], "noop": bool,
    "dry_run": bool, "source_count": n}.
    """
    if not table.partition_fields:
        raise ValueError("resume requires a partitioned table")
    pfield = table.partition_fields[0]
    dest = table.read_base(spark) if table.exists() else None
    obs = Observation()
    observed = source_df.observe(obs, F.count(F.lit(1)).alias("rows"))
    to_write = partitions_to_repair(observed, dest, pfield)
    summary = {
        "repaired_partitions": to_write,
        "noop": not to_write,
        "dry_run": dry_run,
        "source_count": obs.get["rows"],
    }
    if to_write and not dry_run:
        _rewrite_partitions(source_df, table, dest, to_write)
    return summary


# Modulus for the order-independent partition fingerprint: row hashes are
# folded to [0, P) before summing so a partition of up to ~9 billion rows
# sums within int64 (9e9 × 1e9 < 2^63) on every engine — DuckDB's
# SUM(BIGINT) promotes to HUGEINT and would otherwise disagree with
# Spark's wrapping long sum.
FINGERPRINT_MOD = 1_000_000_007


def row_fingerprint(hash_cols: list[str]):
    """Portable per-row content hash: null-safe \\x1f-joined string
    encoding → md5 → first 48 bits as a long, folded mod
    :data:`FINGERPRINT_MOD`. The exact same value is computable in any
    engine with md5 + string concat (ANSI-SQL twin:
    ``CAST(concat('0x', substr(md5(enc), 1, 12)) AS BIGINT) % P``), so
    fingerprints can be compared ACROSS engines — the cross-system
    anti-entropy use-case (verify a warehouse copy against the lake).

    Caller picks ``hash_cols``; stick to ints/strings/dates for
    cross-engine runs (float→string formatting is engine-specific).
    """
    enc = F.concat_ws(
        "\x1f",
        *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in hash_cols],
    )
    h48 = F.conv(F.substring(F.md5(enc), 1, 12), 16, 10).cast("long")
    return h48 % F.lit(FINGERPRINT_MOD)


def partition_fingerprints(
    df: DataFrame, partition_field: str, hash_cols: list[str]
) -> DataFrame:
    """Order-independent per-partition content fingerprint:
    ``(partition, fp, row_cnt)`` where ``fp = SUM(row_hash) % P``.

    This is the content-level strengthening of :func:`partition_counts`
    (J2 audits row COUNTS — a replica with the right cardinality but
    corrupted values passes it; the fingerprint catches value-level
    divergence). Sum is commutative, so the aggregate is map-side
    partial with no ordering requirement — one hash aggregate over the
    scan, shuffle O(partitions), identical shape to `partition_counts`.
    At 100 TB this is the cheapest possible full-content verify: one
    pass, no join, no sort; the Merkle-tree refinement (split a
    divergent partition by key range to localize the bad files) reuses
    the same row hash keyed by range bucket.
    """
    return (
        df.groupBy(
            F.col(partition_field).cast("string").alias(partition_field)
        )
        .agg(
            (F.sum(row_fingerprint(hash_cols)) % FINGERPRINT_MOD).alias("fp"),
            F.count(F.lit(1)).alias("row_cnt"),
        )
    )


def content_diff(
    source: DataFrame,
    dest: DataFrame,
    partition_field: str,
    hash_cols: list[str],
) -> DataFrame:
    """Anti-entropy partition diff: ``(partition, status, src_cnt,
    dst_cnt)`` with status ∈ {match, divergent, missing, extra}, read
    off the side-tagged aggregate with each side's fingerprint.

    * ``missing``  — partition in source, absent from dest (J1's case);
    * ``extra``    — partition in dest only (replica drift J1 can't see);
    * ``divergent``— both present, fingerprint or count differs
      (catches same-count corruption J2 can't see);
    * ``match``    — content-identical.
    """
    src, dst = F.col("src_cnt"), F.col("dst_cnt")
    status = (
        F.when(src == 0, "extra")
        .when(dst == 0, "missing")
        .when((F.col("src_fp") != F.col("dst_fp")) | (src != dst), "divergent")
        .otherwise("match")
    )
    return _repair_diff(source, dest, partition_field, hash_cols).select(
        partition_field, status.alias("status"), "src_cnt", "dst_cnt"
    )


def anti_entropy_repair(
    spark: SparkSession,
    source_df: DataFrame,
    table: KeyedTable,
    hash_cols: list[str],
    drop_extra: bool = True,
    dry_run: bool = False,
) -> dict:
    """Content-verified repair: diff ``table`` against ``source_df`` by
    partition fingerprint, rewrite exactly the missing/divergent
    partitions (dynamic partition overwrite), optionally remove extra
    partitions the source no longer has. Idempotent: a second run
    reports all-match and writes nothing.

    This is :func:`resume_bootstrap` upgraded from count-equality to
    content-equality — the lakehouse anti-entropy sweep (Dynamo-style
    replica sync, applied to table replication): a replica whose
    partitions were corrupted in place (same row count, wrong bytes)
    is invisible to the count audit but caught and healed here.

    Cost: one scan of each side for the fingerprints (map-side partial
    aggregate, no data shuffle), then a rewrite of ONLY the unhealthy
    partitions. Returns ``{"rewritten": [...], "dropped": [...],
    "noop": bool, "dry_run": bool}``.
    """
    if not table.partition_fields:
        raise ValueError("anti_entropy_repair requires a partitioned table")
    pfield = table.partition_fields[0]
    dest = table.read_base(spark)
    # one row per partition VALUE — safe scalar collect
    rows = (
        content_diff(source_df, dest, pfield, hash_cols)
        .filter(F.col("status") != "match")
        .collect()
    )
    if not rows:
        return {"rewritten": [], "dropped": [], "noop": True, "dry_run": dry_run}
    to_rewrite = sorted_partition_values(
        r[pfield] for r in rows if r["status"] in ("missing", "divergent")
    )
    extras = sorted_partition_values(r[pfield] for r in rows if r["status"] == "extra")
    if not dry_run:
        if to_rewrite:
            _rewrite_partitions(source_df, table, dest, to_rewrite)
        if drop_extra and extras:
            remove_partition_leaves(
                table.base_path, [pfield], [(val,) for val in extras]
            )
            spark.catalog.refreshByPath(table.base_path)
    return {
        "rewritten": to_rewrite,
        "dropped": extras if drop_extra else [],
        "noop": False,
        "dry_run": dry_run,
    }


def file_layout_report(
    spark: SparkSession,
    table: KeyedTable,
    small_file_bytes: int = 32 * 1024 * 1024,
) -> DataFrame:
    """Physical-layout health per partition: file count, bytes, average
    file size, and a small-files flag — the diagnostic that decides
    which partitions need `KeyedTable.cluster` (and what
    `compact_if_needed`'s ratio is made of).

    Zero data IO at any scale: the scan is the `binaryFile` datasource
    over the parquet files, whose `length` column comes from FILE
    LISTING metadata — no parquet footer, let alone pages, is read. One
    aggregate over O(files) rows. The default threshold is the classic
    small-file bound (32 MB) — files far below the 128 MB scan-split
    size waste task scheduling and defeat row-group pruning.
    """
    files = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "false")
        .load(table.base_path)
        .select("path", "length")
    )
    if table.partition_fields:
        pfield = table.partition_fields[0]
        part = partition_segment(F.col("path"), table.partition_fields)
    else:
        pfield, part = "partition", F.lit("<unpartitioned>")
    return (
        files.groupBy(part.alias(pfield))
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("length").alias("bytes"),
            (F.sum("length") / F.count(F.lit(1))).cast("long").alias("avg_bytes"),
        )
        .withColumn("small_files", F.col("avg_bytes") < small_file_bytes)
    )
