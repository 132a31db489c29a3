"""Spark-free checks of the session's environment knobs: a malformed
value is rejected with an error naming the variable."""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

from hudi_utility_spark import session


@pytest.mark.parametrize("raw", ["0", "-2", "four", "2.5", "", " 4"])
def test_cpus_rejects_non_positive_or_non_integer(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_CPUS"):
        session._env_cpus()


def test_cpus_default_and_override(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert session._env_cpus() == "32"
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    assert session._env_cpus() == "4"


@pytest.mark.parametrize("raw", ["24gb", "g", "1.5g", "-4g", "", "4 g"])
def test_driver_mem_rejects_malformed_sizes(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_DRIVER_MEM"):
        session._env_driver_mem()


@pytest.mark.parametrize("raw", ["24g", "512m", "2G", "1024", "1t", "64K"])
def test_driver_mem_accepts_jvm_sizes(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", raw)
    assert session._env_driver_mem() == raw


def test_driver_mem_default(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert session._env_driver_mem() == "24g"


@pytest.mark.parametrize(
    "raw",
    ["local", "local[4]", "local[*]", "local[4,2]", "local[*, 3]",
     "local-cluster[2,1,1024]", "spark://host:7077", "yarn", "k8s://https://host:6443"],
)
def test_master_accepts_spark_master_urls(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_MASTER", raw)
    assert session._env_master("4") == raw


@pytest.mark.parametrize(
    "raw", ["", "local[]", "local[0]", "local[four]", "local[4", "locale", "mesos://h:5050",
            "spark://", "YARN", " local", "host:7077"],
)
def test_master_rejects_anything_else(monkeypatch, raw):
    monkeypatch.setenv("SPARK_GRAFT_MASTER", raw)
    with pytest.raises(ValueError, match="SPARK_GRAFT_MASTER"):
        session._env_master("4")


def test_master_default_follows_cpus(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_MASTER", raising=False)
    assert session._env_master("4") == "local[4]"


@pytest.mark.parametrize("raw", ["128mb", "1.5m", ""])
def test_advisory_bytes_rejects_malformed_sizes_at_import(raw):
    """The session reads the variable when it is imported: a malformed
    size stops the import with an error naming the variable."""
    env = {**os.environ, "SPARK_GRAFT_ADVISORY_PARTITION_BYTES": raw}
    proc = subprocess.run(
        [sys.executable, "-c", "import hudi_utility_spark.session"],
        cwd=Path(__file__).resolve().parent.parent,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode != 0
    assert "ValueError: SPARK_GRAFT_ADVISORY_PARTITION_BYTES" in proc.stderr
