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
``field=value`` directory convention. Every parquet/ORC read of the
package goes through :func:`read_files`, which infers a file set's
schema once per listing instead of once per read.
"""

from __future__ import annotations

import os
import re
import stat
import threading
import weakref
from collections import OrderedDict
from dataclasses import dataclass, field
from functools import lru_cache
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

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
    if fmt == "parquet":
        ns_cols = _nanos_columns(path)
        if ns_cols:
            # Spark rejects parquet TIMESTAMP(NANOS) (PARQUET_TYPE_ILLEGAL);
            # read ns as long via the legacy conf, convert back to
            # TimestampType (µs) — lossless for µs-aligned data, and the
            # mergeSchema footer pass can't handle NANOS either, so skip it.
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = read_files(spark, path, merge_schema=False)
            for c in ns_cols:
                # integer DIV, not float division: ns epochs (~1.7e18)
                # exceed double's 53-bit integer range, so a float divide
                # would corrupt the low microsecond digit
                df = df.withColumn(
                    c, F.timestamp_micros(F.expr(f"`{c}` div 1000"))
                )
            return df
    if fmt in ("parquet", "orc"):
        return read_files(spark, path, fmt, merge_schema=merge_schema)
    reader = spark.read
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
    return read_files(spark, _strip_scheme(table_path))


# SQL confs whose values change the schema Spark infers from the same
# files; a remembered schema holds only under the values it was
# inferred with
_INFERENCE_CONFS = (
    "spark.sql.timestampType",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
)
# per session: (fmt, paths, options) -> (listing + conf values, schema),
# least recently read first; file-list reads (a MOR log's files) give
# a new path tuple per commit, so the oldest entries are dropped
_MAX_SCHEMAS = 256
_schemas: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_schemas_lock = threading.Lock()


def read_files(
    spark: SparkSession,
    paths: str | list[str] | tuple[str, ...],
    fmt: str = "parquet",
    merge_schema: bool = True,
    base_path: str | None = None,
    schema: StructType | None = None,
) -> DataFrame:
    """The package's one parquet/ORC batch reader.

    Spark infers a file-source schema by running a footer-reading job
    each time a DataFrame is built, even when nothing on disk changed
    since the last read. This reader remembers the ``StructType``
    inferred for a listing of *paths* (each visible file's path, size,
    mtime and inode, plus the inference confs) and, while that listing
    is unchanged, passes the schema back with ``.schema(...)``, so no
    job runs. The files Spark itself then lists (``inputFiles()``) must
    equal the listing, else a commit landed between the two listings
    and the read infers as usual. Paths this process cannot walk (a
    non-local URI, a glob) always infer. ``base_path`` is Spark's
    ``basePath`` option: partition columns of an explicit file list.
    A given ``schema`` is read with as it is, and nothing is inferred.
    """
    paths = (paths,) if isinstance(paths, str) else tuple(paths)
    options = {"mergeSchema": str(merge_schema).lower()}
    if base_path is not None:
        options["basePath"] = base_path

    def reader():  # DataFrameReader.schema() sets the schema in place
        return spark.read.format(fmt).options(**options)

    if schema is not None:
        return reader().schema(schema).load(list(paths))
    listing = _listing(paths)
    if listing is None:
        return reader().load(list(paths))
    key = (fmt, paths, tuple(sorted(options.items())))
    signature = (listing, tuple(spark.conf.get(c) for c in _INFERENCE_CONFS))
    files = {entry[0] for entry in listing}
    with _schemas_lock:
        known = _schemas.setdefault(spark, OrderedDict())
        entry = known.get(key)
        if entry is not None:
            known.move_to_end(key)
    if entry is not None and entry[0] == signature:
        df = reader().schema(entry[1]).load(list(paths))
        if _input_files(df) == files:
            return df
    df = reader().load(list(paths))
    if _input_files(df) == files:
        schema = df.schema
        with _schemas_lock:
            known[key] = (signature, schema)
            known.move_to_end(key)
            while len(known) > _MAX_SCHEMAS:
                known.popitem(last=False)
    return df


def list_files(path: str) -> list[str] | None:
    """The files Spark's file index would read under *path*, sorted;
    ``None`` when this process cannot walk *path*."""
    listing = _listing((path,))
    return None if listing is None else [entry[0] for entry in listing]


def _hidden(name: str) -> bool:
    """Spark's rule for names its file index skips
    (``HadoopFSUtils.shouldFilterOutPathName``): ``_``-prefixed names
    without ``=`` and ``.``-prefixed names, but not the parquet summary
    files."""
    if name.startswith(("_metadata", "_common_metadata")):
        return False
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _listing(paths: tuple[str, ...]) -> tuple | None:
    """Every file Spark would list under *paths*, as sorted (path, size,
    mtime_ns, inode) tuples; ``None`` when a path is not local or does
    not exist (the read then infers, and Spark reports what is wrong)."""
    out = []
    for p in paths:
        local = _local_path(p)
        if local is None:
            return None
        try:
            st = os.stat(local)
        except OSError:
            return None
        if not stat.S_ISDIR(st.st_mode):
            out.append((local, st.st_size, st.st_mtime_ns, st.st_ino))
            continue
        for root, dirs, names in os.walk(local, followlinks=True):
            dirs[:] = [d for d in dirs if not _hidden(d)]
            for name in names:
                if _hidden(name):
                    continue
                fp = os.path.join(root, name)
                try:
                    st = os.stat(fp)
                except OSError:  # removed mid-walk: Spark's listing differs
                    return None
                out.append((fp, st.st_size, st.st_mtime_ns, st.st_ino))
    return tuple(sorted(out))


def _local_path(path: str) -> str | None:
    """*path* as an absolute local path, or ``None`` for another
    filesystem's URI or a glob."""
    if path.startswith("file:"):
        path = path[len("file:"):]
        if path.startswith("//"):
            path = path[2:]
    elif "://" in path or any(ch in path for ch in "*?[{"):
        return None
    return os.path.abspath(path)


def uri_path(uri: str) -> str:
    """The local path a ``file:`` URI names, percent-decoded (Spark's
    ``inputFiles()`` and ``input_file_name()`` give encoded URIs, and
    Spark reads a path string undecoded); other filesystems' URIs stay
    as they are. ``unquote``, not ``unquote_plus``: a ``+`` in a path is
    a ``+``."""
    parsed = urlparse(uri)
    return unquote(parsed.path) if parsed.scheme == "file" else uri


def _input_files(df: DataFrame) -> set[str]:
    """The files Spark listed for *df*, as :func:`uri_path` paths."""
    return {uri_path(uri) for uri in df.inputFiles()}


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


def _nanos_columns(path: str) -> tuple[str, ...]:
    """Columns stored as parquet timestamp[ns] (driver-side footer peek
    of the first file Spark would list under *path*).

    A path this process cannot open (a remote URI, a missing file) has
    none; a file that is not parquet raises with its path."""
    listing = _listing((path,))
    return _nanos_of(listing) if listing else ()


@lru_cache(maxsize=64)
def _nanos_of(listing: tuple) -> tuple[str, ...]:
    """:func:`_nanos_columns` of one listing: a rewritten file changes
    the listing, so its answer is never stale."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    names = [entry[0] for entry in listing]
    path = ([n for n in names if n.endswith(".parquet")] or names)[0]
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
