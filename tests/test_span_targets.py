"""The benchmark's traced runs wrap a fixed list of package attributes
(``perfbench/spans.py``: ``LAYER_CALLS``, ``LAYER_METHODS``) with a bare
``getattr``. Each one must resolve, so a rename fails here rather than
in a traced benchmark run. No Spark session is started."""

from __future__ import annotations

import importlib
import importlib.util
import os
import sys

import pytest

_SPANS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench", "spans.py"
)


@pytest.fixture(scope="module")
def spans():
    spec = importlib.util.spec_from_file_location("_perfbench_spans", _SPANS)
    module = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = module  # dataclasses resolve their module by name
    try:
        spec.loader.exec_module(module)
        yield module
    finally:
        del sys.modules[spec.name]


def test_every_span_target_resolves(spans):
    assert spans.LAYER_CALLS and spans.LAYER_METHODS
    for module, attr in spans.LAYER_CALLS:
        assert callable(getattr(importlib.import_module(module), attr, None)), (module, attr)
    for module, cls, method in spans.LAYER_METHODS:
        klass = getattr(importlib.import_module(module), cls, None)
        assert callable(getattr(klass, method, None)), (module, cls, method)


def test_resume_makes_its_diff_through_the_traced_attribute(monkeypatch):
    """The benchmark's ``repair.diff_s`` is the span the tracer puts on
    ``repair.partitions_to_repair``. It reads 0 unless resume_bootstrap
    calls the diff through that module attribute."""
    from types import SimpleNamespace
    from unittest import mock

    from hudi_utility_spark import repair

    calls = []

    def diff(source, dest, partition_field):
        calls.append((source, dest, partition_field))
        return []

    source = mock.Mock()
    monkeypatch.setattr(repair, "partitions_to_repair", diff)
    monkeypatch.setattr(repair, "F", mock.MagicMock())  # no Spark session here
    monkeypatch.setattr(repair, "Observation", lambda: SimpleNamespace(get={"rows": 3}))
    table = SimpleNamespace(partition_fields=["p"], exists=lambda: False)
    summary = repair.resume_bootstrap(None, source, table)
    assert calls == [(source.observe.return_value, None, "p")]
    assert summary["noop"] and summary["source_count"] == 3
