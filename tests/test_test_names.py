"""A test function defined twice under one name in a module or class is
silently replaced by the later definition, so the first never runs.
Spark-free: parses every ``tests/test_*.py`` with ``ast``."""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path


def _repeated_test_names(source: str) -> list[str]:
    tree = ast.parse(source)
    scopes = [("", tree.body)] + [
        (f"{node.name}.", node.body)
        for node in tree.body
        if isinstance(node, ast.ClassDef)
    ]
    repeated = []
    for prefix, body in scopes:
        names = Counter(
            node.name
            for node in body
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            and node.name.startswith("test_")
        )
        repeated += [prefix + n for n, k in names.items() if k > 1]
    return repeated


def test_detector_finds_module_and_class_repeats():
    src = (
        "def test_a(): pass\n"
        "def test_a(): pass\n"
        "def test_b(): pass\n"
        "class TestX:\n"
        "    def test_c(self): pass\n"
        "    def test_c(self): pass\n"
    )
    assert sorted(_repeated_test_names(src)) == ["TestX.test_c", "test_a"]


def test_no_test_name_is_defined_twice():
    here = Path(__file__).resolve().parent
    found = {
        p.name: names
        for p in sorted(here.glob("test_*.py"))
        if (names := _repeated_test_names(p.read_text()))
    }
    assert found == {}
