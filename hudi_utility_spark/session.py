"""SparkSession factory tuned for this engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32); the
same settings are what we'd set cluster-side for the 100 TB target:
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
UTC session timezone (oracle comparability), Arrow for the Pandas-UDF
slow path.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession


def _env_cpus() -> str:
    """``SPARK_GRAFT_CPUS`` (default 32): a positive integer."""
    raw = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if not re.fullmatch(r"\d+", raw) or int(raw) < 1:
        raise ValueError(f"SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}")
    return raw


def _env_size(name: str, default: str) -> str:
    """Environment variable *name* (default *default*) as a JVM size,
    ``<digits>[kKmMgGtT]?``."""
    raw = os.environ.get(name, default)
    if not re.fullmatch(r"\d+[kKmMgGtT]?", raw):
        raise ValueError(
            f"{name} must be a size like 4g, 512m or 1024, got {raw!r}"
        )
    return raw


# the master URLs Spark accepts: local, local[N], local[*], local[N,F]
# (F task failures allowed), local-cluster[...], spark://, yarn, k8s://
_MASTER = re.compile(
    r"local(\[([1-9]\d*|\*)(,\s*\d+)?\])?|local-cluster\[[^\]]+\]"
    r"|spark://.+|yarn|k8s://.+"
)


def _env_master(cpus: str) -> str:
    """``SPARK_GRAFT_MASTER`` (default ``local[<cpus>]``): a Spark master URL."""
    raw = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if not _MASTER.fullmatch(raw):
        raise ValueError(
            "SPARK_GRAFT_MASTER must be local, local[N], local[*], local[N,F], "
            f"local-cluster[...], spark://..., yarn or k8s://..., got {raw!r}"
        )
    return raw


def _env_driver_mem() -> str:
    """``SPARK_GRAFT_DRIVER_MEM`` (default 24g)."""
    return _env_size("SPARK_GRAFT_DRIVER_MEM", "24g")


_DEFAULTS = {
    # local[32] runs every task in the driver JVM: the 1g default heap
    # GC-thrashes 32 concurrent tasks. Sized for the 128 GiB test box;
    # on a real cluster this is per-executor memory instead.
    "spark.driver.memory": _env_driver_mem(),
    # One shuffle partition per core locally; on a real cluster this would
    # be sized to ~2-3x total cores (AQE coalesces the excess anyway).
    # Read at import, while get_spark reads SPARK_GRAFT_CPUS again for
    # local[N]: perfbench/run.py imports this module before it defaults
    # the variable to the core count, so its runs get local[nproc] with
    # 32 partitions; 4 partitions measured 1.1-1.3x slower on its
    # hot_small queries, CDC reads, lookups and MOR commits (4-core host).
    "spark.sql.shuffle.partitions": _env_cpus(),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Let AQE coalesce to the advisory BYTE size instead of defending
    # core-count parallelism (guide §2.2/§9): with parallelismFirst=true
    # (the default) AQE keeps ~one post-shuffle partition per core even
    # when each holds a few KB, so at low data-per-core every reduce
    # stage pays core-count tasks of pure scheduling overhead — the r12
    # scaling block's "faster at 8 cores than 32" signature. Interleaved
    # A/B at sf0.1/local[32]: 1.1-1.4x on 7 of 8 probed headline queries
    # (jaccard 1.39, kmeans 1.23, funnel 1.34), pagerank 0.94 (noise).
    # The advisory default stays small locally so the driver's 8-core
    # runs coalesce the same way; on a cluster set
    # SPARK_GRAFT_ADVISORY_PARTITION_BYTES to 128-256m (guide §9) —
    # partitions already at or above the advisory size are never split,
    # so this knob only merges waste, it cannot reduce real parallelism
    # of data-sized stages.
    "spark.sql.adaptive.coalescePartitions.parallelismFirst": "false",
    "spark.sql.adaptive.advisoryPartitionSizeInBytes": _env_size(
        "SPARK_GRAFT_ADVISORY_PARTITION_BYTES", "8m"
    ),
    "spark.sql.session.timeZone": "UTC",
    # The corpus parquet stores µs timestamps with no timezone flag, which
    # Spark 4 infers as TIMESTAMP_NTZ. Default new timestamps (literals,
    # to_timestamp, createDataFrame inference) to NTZ too, so engine
    # rewrites of a partition merge cleanly with original files instead of
    # dying in CANNOT_MERGE_INCOMPATIBLE_DATA_TYPE (NTZ vs LTZ) on the
    # mergeSchema re-read. Epoch extraction goes through tsutil.us(),
    # which casts to LTZ explicitly.
    "spark.sql.timestampType": "TIMESTAMP_NTZ",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Hive-style dynamic partition overwrite: replaces only the partitions
    # present in the written DataFrame — the safe idiom for partition
    # repair (fixes the reference's blind mode("Append") double-write,
    # pyspark_script.py:273-276).
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.ui.enabled": "false",
    # ContextCleaner reclaims broadcast/shuffle/RDD state only when the
    # DRIVER GCs; the stock periodic System.gc() fires every 30 min —
    # never, for a benchmark or test session — so hundreds of queries
    # accumulate broadcast blocks and shuffle files until storage memory
    # pressure (and disk-evicted broadcasts) degrade late queries 10×+
    # (measured: the 80-query suite's tail ran 41 s vs 3.6 s fresh).
    # One minute keeps long-lived sessions flat; on a cluster the same
    # setting protects multi-tenant executors.
    "spark.cleaner.periodicGC.interval": "60s",
    # Python Data Source API (sources.py): let pushFilters() prune
    # generator shards at planning time. Off by default in 4.1.
    "spark.sql.python.filterPushdown.enabled": "true",
    # PythonStreamingSourceRunner (the long-lived worker behind a
    # Python streaming source) waits this long for the worker process
    # to connect back after spawn; the 15s default dies with "Python
    # worker failed to connect back" when a saturated box delays
    # interpreter startup (reproduced under a 6-way-parallel pytest
    # run). Batch Python workers use a hardcoded 10s accept deadline
    # (PythonWorkerFactory) that no conf reaches — for those the
    # mitigation is caller-level retry; this conf hardens the
    # streaming-source path, which holds ONE worker per source for the
    # stream's lifetime, so a generous deadline costs nothing.
    "spark.python.authenticate.socketTimeout": "120s",
}


def _apply_pyshim() -> None:
    """Make `google.protobuf` resolvable in this process AND the pyspark
    daemon/runner workers (transformWithStateInPandas speaks protobuf to
    the state server) by injecting tools/pyshim onto PYTHONPATH before
    the JVM launches — workers inherit the env. No-op when the shim dir
    is absent (e.g. installed as a bare package) or protobuf is already
    importable; the shim itself appends, never shadows."""
    import sys

    shim = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "pyshim",
    )
    if not os.path.isfile(os.path.join(shim, "sitecustomize.py")):
        return
    pp = os.environ.get("PYTHONPATH", "")
    if shim not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = f"{pp}{os.pathsep}{shim}" if pp else shim
    try:
        import importlib.util as ilu

        spec = ilu.spec_from_file_location(
            "_hus_pyshim", os.path.join(shim, "sitecustomize.py")
        )
        mod = ilu.module_from_spec(spec)
        spec.loader.exec_module(mod)
    except ImportError:
        pass


def ensure_pyshim_on_session(spark: SparkSession) -> None:
    """Make the protobuf shim visible to Python workers of an
    ALREADY-RUNNING SparkSession that was built by someone else (e.g. a
    test/verification harness) before this package was imported.

    ``_apply_pyshim`` mutates ``os.environ`` — enough when *we* build the
    session, because workers inherit the env at JVM launch. A foreign
    session's JVM captured its env earlier, so the transformWithState
    Python state-server worker starts without ``google.protobuf`` and
    dies (``TransformWithStateInPySpark driver worker exited
    unexpectedly``). ``sc.environment`` entries, by contrast, are pushed
    into every Python worker's env at *launch time*, so setting
    PYTHONPATH there retrofits the shim onto a live session. Idempotent;
    no-op when the shim dir is absent or protobuf resolves natively."""
    _apply_pyshim()
    shim = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tools",
        "pyshim",
    )
    if not os.path.isfile(os.path.join(shim, "sitecustomize.py")):
        return
    try:
        env = spark.sparkContext.environment
        cur = env.get("PYTHONPATH", os.environ.get("PYTHONPATH", ""))
        if shim not in cur.split(os.pathsep):
            cur = f"{cur}{os.pathsep}{shim}" if cur else shim
        env["PYTHONPATH"] = cur
    except AttributeError:  # a session without a JVM SparkContext
        pass


def get_spark(app_name: str = "hudi_utility_spark", **conf: str) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's defaults.

    Extra ``conf`` entries override the defaults. Master is taken from the
    environment (``local[$SPARK_GRAFT_CPUS]``) unless a master is already
    configured by the caller's environment (e.g. spark-submit on a cluster).
    """
    _apply_pyshim()
    builder = SparkSession.builder.appName(app_name).master(_env_master(_env_cpus()))
    merged = dict(_DEFAULTS)
    merged.update({k: str(v) for k, v in conf.items()})
    for k, v in merged.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
