"""Every entry of the slow-tier list names a test that exists.

``tests/conftest.py:SLOW_TESTS`` tiers tests by file and name; a name
that no longer matches a test silently tiers nothing.  Pure ``ast``, no
Spark.
"""

from __future__ import annotations

import ast
from pathlib import Path

TESTS_DIR = Path(__file__).resolve().parent


def _slow_tests() -> dict:
    tree = ast.parse((TESTS_DIR / "conftest.py").read_text())
    for node in tree.body:
        if (
            isinstance(node, ast.AnnAssign)
            and isinstance(node.target, ast.Name)
            and node.target.id == "SLOW_TESTS"
        ):
            return ast.literal_eval(node.value)
    raise AssertionError("tests/conftest.py defines no SLOW_TESTS")


def _test_names(path: Path) -> set[str]:
    return {
        node.name
        for node in ast.walk(ast.parse(path.read_text()))
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and node.name.startswith("test_")
    }


def test_every_slow_entry_names_a_test():
    slow = _slow_tests()
    missing = {}
    for fname, names in slow.items():
        path = TESTS_DIR / fname
        assert path.is_file(), f"SLOW_TESTS names a missing file {fname}"
        if names is not None:
            gone = sorted(set(names) - _test_names(path))
            if gone:
                missing[fname] = gone
    assert missing == {}
