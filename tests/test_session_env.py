"""Spark-free checks of the session's environment knobs: a malformed
value is rejected with an error naming the variable."""

from __future__ import annotations

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
