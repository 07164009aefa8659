"""Every mount mutator publishes through the rules of ``mount/lock.py``.

Two static checks over the product package, so that no mutator grows a
private swap or a private manifest writer again:

- only ``mount/artifacts.py``, the owner of ``save_manifest``, opens
  ``manifest.json`` for writing;
- only ``mount/lock.py`` names the next-generation directory suffixes
  (``__next``, ``__famnext``) outside a docstring.

Pure ``ast``, no Spark.
"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE_DIR = Path(__file__).resolve().parent.parent / "simsearch_spark"
MANIFEST_OWNER = PACKAGE_DIR / "mount" / "artifacts.py"
SWAP_OWNER = PACKAGE_DIR / "mount" / "lock.py"
GENERATION_SUFFIXES = ("__next", "__famnext")


def _strings(node: ast.AST) -> list[str]:
    return [
        n.value
        for n in ast.walk(node)
        if isinstance(n, ast.Constant) and isinstance(n.value, str)
    ]


def _mentions_manifest(node: ast.AST, aliases: set[str]) -> bool:
    return any("manifest.json" in s for s in _strings(node)) or any(
        isinstance(n, ast.Name) and n.id in aliases for n in ast.walk(node)
    )


def _is_write_mode(call: ast.Call) -> bool:
    mode = call.args[1] if len(call.args) > 1 else None
    for kw in call.keywords:
        if kw.arg == "mode":
            mode = kw.value
    return (
        isinstance(mode, ast.Constant)
        and isinstance(mode.value, str)
        and any(c in mode.value for c in "wax+")
    )


def manifest_writes(source: str) -> list[int]:
    """Line numbers of ``open(<manifest.json path>, <write mode>)`` calls,
    following names assigned from an expression naming the file."""
    tree = ast.parse(source)
    aliases: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign) and _mentions_manifest(node.value, set()):
            aliases.update(t.id for t in node.targets if isinstance(t, ast.Name))
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Name)
        and node.func.id == "open"
        and node.args
        and _mentions_manifest(node.args[0], aliases)
        and _is_write_mode(node)
    ]


def generation_names(source: str) -> list[int]:
    """Line numbers of non-docstring string constants that name a
    next-generation directory suffix."""
    tree = ast.parse(source)
    docstrings = set()
    for node in ast.walk(tree):
        if isinstance(
            node, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            first = node.body[0] if node.body else None
            if isinstance(first, ast.Expr) and isinstance(first.value, ast.Constant):
                docstrings.add(id(first.value))
    return [
        node.lineno
        for node in ast.walk(tree)
        if isinstance(node, ast.Constant)
        and isinstance(node.value, str)
        and id(node) not in docstrings
        and any(s in node.value for s in GENERATION_SUFFIXES)
    ]


def _product_files() -> list[Path]:
    return sorted(PACKAGE_DIR.rglob("*.py"))


def test_only_save_manifest_writes_the_manifest():
    bad = {
        str(p.relative_to(PACKAGE_DIR)): lines
        for p in _product_files()
        if p != MANIFEST_OWNER and (lines := manifest_writes(p.read_text()))
    }
    assert bad == {}


def test_only_lock_names_a_next_generation_directory():
    bad = {
        str(p.relative_to(PACKAGE_DIR)): lines
        for p in _product_files()
        if p != SWAP_OWNER and (lines := generation_names(p.read_text()))
    }
    assert bad == {}


def test_checks_catch_the_private_shapes():
    """The detectors flag the shapes they exist to forbid."""
    direct = 'with open(os.path.join(d, "manifest.json"), "w") as f:\n    pass\n'
    aliased = 'p = os.path.join(d, "manifest.json")\nopen(p + ".tmp", mode="w")\n'
    read = 'open(os.path.join(d, "manifest.json"))\n'
    assert manifest_writes(direct) == [1]
    assert manifest_writes(aliased) == [2]
    assert manifest_writes(read) == []
    swap = 'def f(d):\n    """Stages in d__next."""\n    return d + "__famnext"\n'
    assert generation_names(swap) == [3]
