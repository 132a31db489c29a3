"""Readers and source resolution (SURVEY §2.1 S1-S4, §2.11 V5/V6).

The reference sniffs the on-disk format from the first file extension found
by a recursive HDFS walk (reference ``fastapi-backend/pyspark_script.py:87-119``),
reads Parquet/ORC with ``mergeSchema=true`` (``pyspark_script.py:333,335``),
and resolves a user-supplied string to either an HDFS path or a Hive table
with partition-field discovery via the ``field=value`` regex
(``fastapi-backend/app.py:361-500``).

Here the walk is a local/posix+Hadoop-FS-compatible listing, reads go
through ``spark.read`` (Catalyst gets pushdown/pruning for free), and
partition discovery uses Spark's own partition inference plus the same
``field=value`` directory convention.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field
from functools import lru_cache

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# Reference accepts only parquet/orc (app.py:441 VALID_FORMATS); CSV/JSON
# are free extensions on Spark so we accept them too.
VALID_FORMATS = {".parquet", ".orc", ".csv", ".json"}

_PARTITION_SEGMENT = re.compile(r"^([^/=]+)=([^/=]*)$")


def sniff_format(path: str) -> str:
    """Return the data format ("parquet" | "orc" | "csv" | "json") of *path*.

    First-match short-circuit walk, mirroring the reference's recursive
    first-extension rule (``pyspark_script.py:99-108``): the first regular
    file with a recognized suffix decides. Raises ``ValueError`` for an
    unsupported format (``pyspark_script.py:337``) or an empty tree.
    """
    path = _strip_scheme(path)
    if os.path.isfile(path):
        suffix = os.path.splitext(path)[1].lower()
        if suffix in VALID_FORMATS:
            return suffix[1:]
        raise ValueError(f"Unsupported file format: {suffix or path}")
    for root, dirs, files in os.walk(path):
        dirs.sort()
        for name in sorted(files):
            if name.startswith(("_", ".")):  # _SUCCESS, .crc, metadata
                continue
            suffix = os.path.splitext(name)[1].lower()
            if suffix in VALID_FORMATS:
                return suffix[1:]
            raise ValueError(f"Unsupported file format: {suffix or name}")
    raise ValueError(f"No data files found under {path}")


def read_source(
    spark: SparkSession,
    path: str,
    fmt: str | None = None,
    merge_schema: bool = True,
) -> DataFrame:
    """Read a source directory/file with schema-evolution merging.

    Equivalent of the reference's format-dispatched read
    (``pyspark_script.py:323-340``): infer format when not given, apply
    ``mergeSchema`` for parquet/orc so evolved files union their columns.
    """
    fmt = fmt or sniff_format(path)
    reader = spark.read
    if fmt == "parquet":
        ns_cols = _nanos_columns(_strip_scheme(path))
        if ns_cols:
            # Spark rejects parquet TIMESTAMP(NANOS) (PARQUET_TYPE_ILLEGAL);
            # read ns as long via the legacy conf, convert back to
            # TimestampType (µs) — lossless for µs-aligned data, and the
            # mergeSchema footer pass can't handle NANOS either, so skip it.
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = reader.parquet(path)
            for c in ns_cols:
                # integer DIV, not float division: ns epochs (~1.7e18)
                # exceed double's 53-bit integer range, so a float divide
                # would corrupt the low microsecond digit
                df = df.withColumn(
                    c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
                )
            return df
        return reader.option("mergeSchema", str(merge_schema).lower()).parquet(path)
    if fmt == "orc":
        return reader.option("mergeSchema", str(merge_schema).lower()).orc(path)
    if fmt == "csv":
        return reader.option("header", "true").option("inferSchema", "true").csv(path)
    if fmt == "json":
        return reader.json(path)
    raise ValueError(f"Unsupported file format: {fmt}")


def read_table(spark: SparkSession, table_path: str) -> DataFrame:
    """Read back a keyed table written by this engine (S4).

    Spark's partition discovery re-materializes ``field=value`` directory
    partitions as columns automatically.
    """
    return spark.read.option("mergeSchema", "true").parquet(_strip_scheme(table_path))


@dataclass
class SourceInfo:
    """Result of resolving a path-or-table string (reference V5,
    ``app.py:361-400``): is it partitioned, by which fields, where."""

    location: str
    is_path: bool
    is_partitioned: bool = False
    partition_fields: list[str] = field(default_factory=list)
    table_name: str | None = None
    data_format: str | None = None


def discover_partition_fields(path: str) -> list[str]:
    """Walk a directory tree and return partition field names in order.

    Same ``([^/]+)=([^/]+)`` convention as the reference's
    ``scan_hdfs_directory`` (``app.py:439-500``), with ordered dedup.
    """
    path = _strip_scheme(path)
    fields: list[str] = []
    for root, dirs, _files in os.walk(path):
        rel = os.path.relpath(root, path)
        if rel == ".":
            continue
        for seg in rel.split(os.sep):
            m = _PARTITION_SEGMENT.match(seg)
            if m and m.group(1) not in fields:
                fields.append(m.group(1))
    return fields


def resolve_source(spark: SparkSession, path_or_table: str) -> SourceInfo:
    """Resolve a string to a data source (reference V5/V6).

    ``hdfs://``/``file://``/absolute paths → directory scan with partition
    discovery; anything else → catalog lookup (``spark.catalog``), reading
    the table's location and partition columns from ``DESCRIBE FORMATTED``
    the way the reference scans Hive output (``app.py:403-436``).
    """
    looks_like_path = (
        "://" in path_or_table or path_or_table.startswith("/") or os.path.exists(path_or_table)
    )
    if looks_like_path:
        parts = discover_partition_fields(path_or_table)
        try:
            fmt = sniff_format(path_or_table)
        except ValueError:
            fmt = None
        return SourceInfo(
            location=path_or_table,
            is_path=True,
            is_partitioned=bool(parts),
            partition_fields=parts,
            data_format=fmt,
        )
    if not spark.catalog.tableExists(path_or_table):
        raise ValueError(f"Table {path_or_table} not found in catalog")
    location = None
    part_fields: list[str] = []
    in_part_block = False
    for row in spark.sql(f"DESCRIBE FORMATTED {path_or_table}").collect():
        col = (row.col_name or "").strip()
        if col == "# Partition Information":
            in_part_block = True
            continue
        if in_part_block:
            if col.startswith("#") or not col:
                if col == "# Detailed Table Information":
                    in_part_block = False
                continue
            part_fields.append(col)
        if col == "Location":
            location = (row.data_type or "").strip()
    return SourceInfo(
        location=location or path_or_table,
        is_path=False,
        is_partitioned=bool(part_fields),
        partition_fields=part_fields,
        table_name=path_or_table,
    )


@lru_cache(maxsize=None)
def _nanos_columns(path: str) -> tuple[str, ...]:
    """Columns stored as parquet timestamp[ns] (driver-side footer peek).

    A path this process cannot open (a remote URI, a missing file) has
    none; a file that is not parquet raises with its path."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    if os.path.isdir(path):
        files = [
            os.path.join(root, f)
            for root, _d, fs in os.walk(path)
            for f in fs
            if f.endswith(".parquet")
        ]
        if not files:
            return ()
        path = sorted(files)[0]
    try:
        schema = pq.read_schema(path)
    except OSError:
        return ()
    except pa.ArrowInvalid as exc:
        raise ValueError(f"unreadable parquet footer in {path}: {exc}") from exc
    return tuple(f.name for f in schema if str(f.type) == "timestamp[ns]")


def _strip_scheme(path: str) -> str:
    for scheme in ("file://", "hdfs://"):
        if path.startswith(scheme):
            return path[len(scheme):] or "/"
    return path
