"""Every mount mutator publishes through the one rule of ``mount/lock.py``:
write new version directories, then commit the manifest.

Four static checks over the product package, so that no mutator grows a
private publish or training path again:

- only ``mount/artifacts.py``, the owner of ``save_manifest``, opens
  ``manifest.json`` for writing;
- only ``mount/artifacts.py`` builds a path from an artifact name, so
  every read and write resolves through a manifest snapshot;
- no module under ``mount/`` renames, moves or ``rmtree``s anything,
  except GC (``artifacts._collect``) and the lock's single-winner
  stale-lock claim (``lock._break_stale``, which renames the lock file);
- the family trainers are called only by the one retrain loop
  (``audit._train_families``, behind ``mount()`` and ``refresh``) and by
  the build callbacks handed to ``artifacts._publish_family``
  (``mount_dedup``, ``mount_bpe``).

Pure ``ast``, no Spark.
"""

from __future__ import annotations

import ast
from pathlib import Path

PACKAGE_DIR = Path(__file__).resolve().parent.parent / "simsearch_spark"
MOUNT_DIR = PACKAGE_DIR / "mount"
MANIFEST_OWNER = MOUNT_DIR / "artifacts.py"
#: (module, function) pairs allowed to rename, move or rmtree
MOVERS = {("artifacts.py", "_collect"), ("lock.py", "_break_stale")}
MOVE_CALLS = {"rename", "move", "rmtree"}
#: the family trainers, and the one loop allowed to call them by name
TRAINERS = {"_train_vector_family", "_train_text_family", "_build_dedup", "_build_bpe"}
TRAIN_LOOP = ("audit.py", "_train_families")


def _artifact_names() -> set[str]:
    """Every artifact name: ``FAMILY_ARTIFACTS``' literal values plus the
    two tombstone artifacts."""
    tree = ast.parse(MANIFEST_OWNER.read_text())
    for node in ast.walk(tree):
        target = getattr(node, "target", None)
        if isinstance(node, ast.AnnAssign) and getattr(target, "id", "") == "FAMILY_ARTIFACTS":
            names = {n.value for n in ast.walk(node.value) if isinstance(n, ast.Constant)}
            return {n for n in names if isinstance(n, str)} - {
                "vector", "text", "dedup", "bpe"
            } | {"tombstones", "dedup_tombstones"}
    raise AssertionError("FAMILY_ARTIFACTS literal not found")


ARTIFACTS = _artifact_names()


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


def artifact_paths(source: str) -> list[int]:
    """Line numbers of path expressions built from an artifact name:
    ``os.path.join(..., "<artifact>", ...)``, and a ``"/<artifact>"``
    piece of an f-string or a ``+`` concatenation."""
    tree = ast.parse(source)
    out = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "join"
            and ast.unparse(node.func.value) == "os.path"
            and any(
                isinstance(a, ast.Constant) and a.value in ARTIFACTS
                for a in node.args
            )
        ):
            out.append(node.lineno)
        elif isinstance(node, (ast.JoinedStr, ast.BinOp)) and any(
            f"/{name}" in s for s in _strings(node) for name in ARTIFACTS
        ):
            out.append(node.lineno)
    return sorted(set(out))


def moves_outside(source: str, module: str) -> list[int]:
    """Line numbers of ``*.rename``/``*.move``/``*.rmtree`` calls (or a
    bare ``rmtree``) outside the allowed ``MOVERS`` functions."""
    tree = ast.parse(source)
    out = []

    def visit(node, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
            if name in MOVE_CALLS and (module, fn) not in MOVERS:
                out.append(node.lineno)
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(tree, None)
    return sorted(out)


def trainer_calls_outside(source: str, module: str) -> list[int]:
    """Line numbers of calls to a family trainer outside ``TRAIN_LOOP``
    and outside the arguments of a ``_publish_family`` call."""
    tree = ast.parse(source)
    out = []

    def visit(node, fn, published):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if isinstance(node, ast.Call):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", "")
            if name == "_publish_family":
                published = True
            elif name in TRAINERS and not published and (module, fn) != TRAIN_LOOP:
                out.append(node.lineno)
        for child in ast.iter_child_nodes(node):
            visit(child, fn, published)

    visit(tree, None, False)
    return sorted(out)


def _product_files() -> list[Path]:
    return sorted(PACKAGE_DIR.rglob("*.py"))


def test_only_save_manifest_writes_the_manifest():
    bad = {
        str(p.relative_to(PACKAGE_DIR)): lines
        for p in _product_files()
        if p != MANIFEST_OWNER and (lines := manifest_writes(p.read_text()))
    }
    assert bad == {}


def test_only_artifacts_names_an_artifact_directory():
    bad = {
        str(p.relative_to(PACKAGE_DIR)): lines
        for p in _product_files()
        if p != MANIFEST_OWNER and (lines := artifact_paths(p.read_text()))
    }
    assert bad == {}


def test_no_rename_move_or_rmtree_outside_gc():
    bad = {
        p.name: lines
        for p in sorted(MOUNT_DIR.glob("*.py"))
        if (lines := moves_outside(p.read_text(), p.name))
    }
    assert bad == {}


def test_only_the_retrain_loop_calls_a_family_trainer():
    bad = {
        str(p.relative_to(PACKAGE_DIR)): lines
        for p in _product_files()
        if (lines := trainer_calls_outside(p.read_text(), p.name))
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

    joined = 'p = os.path.join(mount_dir, "pq_codes")\n'
    fstring = 'spark.read.parquet(f"{d}/dedup_bands")\n'
    concat = 'path = d + "/tombstones"\n'
    by_name = 'p = os.path.join(self.mount_dir, name)\n'
    assert artifact_paths(joined) == [1]
    assert artifact_paths(fstring) == [1]
    assert artifact_paths(concat) == [1]
    assert artifact_paths(by_name) == []

    swap = (
        "def _swap_dirs(tmp, path):\n"
        "    shutil.move(path, path + '__old')\n"
        "    os.rename(tmp, path)\n"
        "    shutil.rmtree(path + '__old')\n"
    )
    gc = "def _collect(d):\n    shutil.rmtree(d)\n"
    assert moves_outside(swap, "lock.py") == [2, 3, 4]
    assert moves_outside(gc, "artifacts.py") == []
    assert moves_outside(gc, "maintain.py") == [2]

    loop = "def _train_families(s):\n    _build_dedup(s)\n"
    published = (
        "def mount_dedup(s):\n"
        "    return _publish_family(s, 'dedup', lambda snap: _build_dedup(s, snap))\n"
    )
    private = (
        "def _mount_into(s):\n"
        "    _train_vector_family(s)\n"
        "    dedup._build_bpe(s)\n"
    )
    assert trainer_calls_outside(loop, "audit.py") == []
    assert trainer_calls_outside(loop, "artifacts.py") == [2]
    assert trainer_calls_outside(published, "dedup.py") == []
    assert trainer_calls_outside(private, "artifacts.py") == [2, 3]
