"""The slow-tier list in conftest.py marks tests by name; a name that
no longer matches a test (renamed, moved, deleted) silently stops
marking anything. Parse the test files instead of importing them, so
this check stays in the fast tier."""

from __future__ import annotations

import ast
import os

from conftest import _SLOW_TESTS

TESTS_DIR = os.path.dirname(os.path.abspath(__file__))


def _test_functions(path: str) -> set[str]:
    """Names pytest collects from a file: test_* functions at module
    level and inside Test* classes."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    found = set()
    for node in tree.body:
        scopes = [node]
        if isinstance(node, ast.ClassDef) and node.name.startswith("Test"):
            scopes = node.body
        found.update(
            n.name
            for n in scopes
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
            and n.name.startswith("test")
        )
    return found


def test_every_slow_entry_names_a_collected_test():
    stale = []
    for entry in sorted(_SLOW_TESTS):
        fname, _, name = entry.partition("::")
        path = os.path.join(TESTS_DIR, fname)
        if not os.path.isfile(path) or name not in _test_functions(path):
            stale.append(entry)
    assert not stale, f"_SLOW_TESTS names no collected test: {stale}"
