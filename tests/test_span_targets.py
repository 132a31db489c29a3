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
