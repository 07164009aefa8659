"""Every product module is reachable from the supported surface.

A static walk over ``import`` and ``from … import`` statements (module-level
and inside functions; ``from pkg import submodule`` counts) starting at
``SUPPORTED_SURFACE``.  A module under ``simsearch_spark/`` that no walk
reaches is code only its own tests run; it fails here until it is wired
into a root's import graph or deleted.  Pure ``ast``, no Spark.
"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE = "simsearch_spark"
PACKAGE_DIR = Path(__file__).resolve().parent.parent / PACKAGE

#: The supported surface: the declared-query registry, the catalog, the SQL
#: front-end, the mount/serve layer, the source adapters and sinks, and the
#: REST response formatter.
SUPPORTED_SURFACE = (
    "simsearch_spark.queries",
    "simsearch_spark.sources.catalog",
    "simsearch_spark.plans.sql_frontend",
    "simsearch_spark.mount",
    "simsearch_spark.sources.config",
    "simsearch_spark.sources.rest",
    "simsearch_spark.sources.sinks",
    "simsearch_spark.operators.response",
)


def product_modules() -> dict[str, Path]:
    """Dotted module name -> source file for every module in the package."""
    out = {}
    for path in PACKAGE_DIR.rglob("*.py"):
        parts = (PACKAGE, *path.relative_to(PACKAGE_DIR).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts = parts[:-1]
        out[".".join(parts)] = path
    return out


def imported_names(name: str, path: Path) -> set[str]:
    """Every dotted name an import statement in ``path`` can load: the
    module itself and, for ``from m import x``, the candidate ``m.x``."""
    is_package = path.name == "__init__.py"
    found = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            found.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = name.split(".")
                anchor = anchor[: len(anchor) - node.level + is_package]
                base = ".".join([*anchor, base] if base else anchor)
            found.add(base)
            found.update(f"{base}.{alias.name}" for alias in node.names)
    return found


def reachable(roots, modules: dict[str, Path]) -> set[str]:
    seen: set[str] = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        if name in seen or name not in modules:
            continue
        seen.add(name)
        # importing a module first imports every package above it
        parents = [name.rsplit(".", i)[0] for i in range(1, name.count(".") + 1)]
        todo.extend(parents)
        todo.extend(imported_names(name, modules[name]))
    return seen


def test_every_product_module_is_reachable():
    modules = product_modules()
    assert [r for r in SUPPORTED_SURFACE if r not in modules] == []
    unreached = sorted(set(modules) - reachable(SUPPORTED_SURFACE, modules))
    assert unreached == [], f"modules no supported entry point imports: {unreached}"
