from __future__ import annotations

import itertools
import os

import pytest

from hudi_utility_spark.session import get_spark
from hudi_utility_spark.tables import load_table

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# Test scratch on tmpfs when available (same rationale as the query
# layer's scratch_base(), guide §6): the lifecycle/ledger/table-service
# tests create thousands of tiny parquet files + commit renames through
# tmp_path, and on the sandbox's ext4 /tmp the metadata latency is a
# measurable share of their wall clock (test_ledger_engine.py: 204 s on
# /tmp vs 166 s on tmpfs, before the pyarrow-append change). pytest's
# tmp_path factory and every tempfile.mkdtemp resolve through
# tempfile.gettempdir(), which honors this. Everything here is per-run
# scratch; opt out with SPARK_GRAFT_TEST_NO_SHM=1 (or a preset TMPDIR).
if (
    os.path.isdir("/dev/shm")
    and not os.environ.get("SPARK_GRAFT_TEST_NO_SHM")
    and not os.environ.get("TMPDIR")
):
    _TESTTMP = "/dev/shm/hus_pytest_tmp"
    os.makedirs(_TESTTMP, exist_ok=True)
    os.environ["TMPDIR"] = _TESTTMP
    import tempfile as _tempfile

    _tempfile.tempdir = _TESTTMP

# Make google.protobuf resolvable in the driver and the pyspark daemon
# workers (transformWithStateInPandas state-server RPC) via the
# tools/pyshim sitecustomize — must land in the environment BEFORE the
# JVM/SparkSession is created so workers inherit it. No-op when a real
# protobuf install exists (the shim appends, never shadows).
_PYSHIM = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools",
    "pyshim",
)
if os.path.isdir(_PYSHIM):
    _pp = os.environ.get("PYTHONPATH", "")
    if _PYSHIM not in _pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{_pp}{os.pathsep}{_PYSHIM}" if _pp else _PYSHIM
        )
    # apply the shim to THIS process too (a sitecustomize from another
    # sys.path entry may already occupy the module name, so exec the
    # file directly instead of importing by name)
    import importlib.util as _ilu

    _spec = _ilu.spec_from_file_location(
        "_hus_pyshim", os.path.join(_PYSHIM, "sitecustomize.py")
    )
    _mod = _ilu.module_from_spec(_spec)
    _spec.loader.exec_module(_mod)


@pytest.fixture(scope="session")
def spark():
    spark = get_spark("hudi_utility_spark-tests")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def count_jobs(spark):
    """``count_jobs(build)`` → (result of *build*(), number of Spark jobs
    it launched), counted by a job group of its own."""
    sc = spark.sparkContext
    groups = itertools.count()

    def run(build):
        group = f"count-jobs-{next(groups)}"
        sc.setJobGroup(group, group)
        try:
            out = build()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def lineitem(spark, sf_dir):
    return load_table(spark, sf_dir, "lineitem")


@pytest.fixture(scope="session")
def orders(spark, sf_dir):
    return load_table(spark, sf_dir, "orders")


@pytest.fixture(scope="session")
def events(spark, sf_dir):
    return load_table(spark, sf_dir, "events")


@pytest.fixture(scope="session")
def documents(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


@pytest.fixture(scope="session")
def embeddings(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")
