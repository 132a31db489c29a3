"""Named query registry backing the driver contract (``__spark_entry__.py``).

Every operator family from SURVEY §2 lands here as a named query: a Spark
callable ``(spark, sf_dir) -> DataFrame`` plus, where SQL-expressible, a
DuckDB oracle string over the same parquet tables. Column names are
aliased identically on both sides (the driver's compare hashes values
after sorting columns by name).

Float discipline: aggregates over doubles are ``round()``-ed identically
on both sides (sum order differs between engines in the last ulp);
timestamps cross the compare as ``unix_micros`` bigints or DATEs.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from hudi_utility_spark.table import KeyedTable, TableType

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}
# queries that mutate session-global state (scratch tables / dirs,
# memory-sink streams, session conf, catalog objects) and must never
# run inside bench.py's 4-wide parallel phases. Declared AT
# REGISTRATION via ``@query(..., sequential=True)`` — bench.py used to
# infer this from a hardcoded name-prefix list, which silently raced
# any future query that mutated state under an unlisted prefix
# (ADVICE r8).
SEQUENTIAL: set[str] = set()


def events_table(
    path: str, table_type: TableType = TableType.MERGE_ON_READ
) -> KeyedTable:
    """The keyed ``events`` table the lifecycle, scale, timeline and
    streaming queries write: keyed by event_id, latest ts wins,
    Hive-partitioned by event_type."""
    return KeyedTable(
        path=path,
        record_key=["event_id"],
        precombine="ts",
        partition_fields=["event_type"],
        table_type=table_type,
    )


# the oracle twin of reading an `events_table` written with the row
# versions of CTE ``unioned``: each event's latest version has rn = 1
EVENTS_RESOLVED = """resolved AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY event_id ORDER BY ts DESC) AS rn
      FROM unioned
    )"""


def scratch_base() -> str:
    """Root for the query layer's PER-RUN scratch (replay input slices,
    streaming checkpoints, lifecycle/table round-trip copies). Ephemeral
    BY CONSTRUCTION: every query rmtree's and rewrites its own subdir on
    each invocation, so nothing is ever reused across runs. Defaults to
    tmpfs (/dev/shm) when present — streaming state-store commits fsync
    one delta file per store instance per micro-batch, and table
    round-trips pay write+read latency on the scratch medium; on this
    sandbox's ext4 /tmp those fsyncs are ~half the stream-replay wall
    (guide §6 — measured: the 4-batch stream-stream interval join
    ~14-16 s on /tmp vs 7-9 s on tmpfs, same plan, same results). On a
    real cluster the equivalents live on fast local disks (scratch) or
    durable shared storage (checkpoints) — point SPARK_GRAFT_SCRATCH
    anywhere to override."""
    import os as _os
    import tempfile as _tempfile

    env = _os.environ.get("SPARK_GRAFT_SCRATCH")
    if env:
        return env
    return "/dev/shm" if _os.path.isdir("/dev/shm") else _tempfile.gettempdir()


def fresh_scratch(sf_dir: str, name: str) -> str:
    """Empty per-query, per-SF scratch dir path under
    :func:`scratch_base` (any previous run's contents are removed)."""
    import os as _os
    import shutil as _shutil

    root = _os.path.join(
        scratch_base(),
        "hudi_utility_spark_q",
        f"{name}_{_os.path.basename(sf_dir.rstrip('/'))}",
    )
    _shutil.rmtree(root, ignore_errors=True)
    return root


def query(name: str, oracle: str | None = None, sequential: bool = False):
    """Register a query under *name*, with an optional DuckDB oracle.

    ``sequential=True`` declares the query session-state-mutating
    (scratch writes, real streaming sinks, session conf): bench.py runs
    it outside the parallel warmup/tail phases."""

    def deco(fn):
        # a duplicate name silently SHADOWS the earlier query (dict
        # overwrite) — the earlier operator drops out of the oracle
        # gate with no signal. Fail loud at import instead (caught one
        # real shadowing in round 10).
        if name in QUERIES and QUERIES[name].__module__ != fn.__module__:
            raise ValueError(f"duplicate query registration: {name}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        if sequential:
            SEQUENTIAL.add(name)
        return fn

    return deco


def load_all() -> None:
    """Import every query module so registration side effects run."""
    from hudi_utility_spark.queries import (  # noqa: F401
        analytics_ext,
        corpus_q,
        dedup,
        engine_queries,
        entity_q,
        formats,
        joins_advanced,
        lifecycle_q,
        multimodal,
        pipeline_q,
        quality_q,
        relational,
        scale_q,
        scd_q,
        similarity,
        streaming,
        text,
        timeline_q,
        tpch_more,
        tpch_rest,
        udtf_q,
        variant_q,
        web_q,
    )
