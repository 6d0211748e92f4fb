"""Every package module must be reachable from a product entry point.

A pure-``ast`` walk, no Spark session: start from the files a user or the
benchmark runs (the query registry, the bench, the CLI, ``scripts/`` and
``uploader_bench/``), follow every import statement (function-local ones
too, since the registry imports lazily), and fail on any module under
``linz_bde_uploader_spark/`` that the walk never reaches. Such a module is
reachable from ``tests/`` at most, so it is code only the tests run.
"""

from __future__ import annotations

import ast
import glob
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "linz_bde_uploader_spark"


def _entry_files(root: str = ROOT) -> list[str]:
    files = [
        os.path.join(root, "__spark_entry__.py"),
        os.path.join(root, "bench.py"),
        os.path.join(root, PACKAGE, "__main__.py"),
    ]
    files += sorted(glob.glob(os.path.join(root, "scripts", "*.py")))
    files += sorted(glob.glob(os.path.join(root, "uploader_bench", "*.py")))
    return [f for f in files if os.path.exists(f)]


def _module_of(path: str, root: str) -> str | None:
    """Dotted module name of a file under the package, else None."""
    rel = os.path.relpath(path, root)[: -len(".py")].split(os.sep)
    if rel[0] != PACKAGE:
        return None
    if rel[-1] == "__init__":
        rel = rel[:-1]
    return ".".join(rel)


def package_modules(root: str = ROOT) -> dict[str, str]:
    """Dotted module name -> file path, for every ``.py`` in the package."""
    paths = glob.glob(os.path.join(root, PACKAGE, "**", "*.py"), recursive=True)
    return {_module_of(p, root): p for p in paths}


def _imported(path: str, root: str, mods: dict[str, str]) -> set[str]:
    """Package modules that the file at ``path`` imports, with their parents."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), filename=path)
    me = _module_of(path, root)
    is_pkg = os.path.basename(path) == "__init__.py"
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                if me is None:
                    continue
                parts = me.split(".") if is_pkg else me.split(".")[:-1]
                parts = parts[: len(parts) - (node.level - 1)]
                base = ".".join(parts + ([base] if base else []))
            names.add(base)
            names.update(f"{base}.{a.name}" for a in node.names)
    found = set()
    for name in names:
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            prefix = ".".join(parts[:i])
            if prefix in mods:
                found.add(prefix)
    return found


def reachable_modules(root: str = ROOT) -> set[str]:
    mods = package_modules(root)
    seen: set[str] = set()
    todo = set()
    for entry in _entry_files(root):
        todo |= _imported(entry, root, mods)
        if _module_of(entry, root) in mods:  # the CLI lives in the package
            todo.add(_module_of(entry, root))
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        seen.add(mod)
        todo |= _imported(mods[mod], root, mods) - seen
    return seen


def test_every_package_module_is_reachable_from_an_entry_point():
    unreachable = sorted(set(package_modules()) - reachable_modules())
    assert not unreachable, (
        "package modules reachable only from tests/ (or from nowhere): "
        + ", ".join(unreachable)
    )


def test_walk_follows_relative_and_function_local_imports(tmp_path):
    pkg = tmp_path / PACKAGE
    (pkg / "sub").mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "sub" / "__init__.py").write_text("from . import a\n")
    (pkg / "sub" / "a.py").write_text("def f():\n    from .b import g\n")
    (pkg / "sub" / "b.py").write_text("g = 1\n")
    (pkg / "orphan.py").write_text("# import linz_bde_uploader_spark.sub\n")
    (tmp_path / "bench.py").write_text(f"import {PACKAGE}.sub\n")
    assert reachable_modules(str(tmp_path)) == {
        PACKAGE, f"{PACKAGE}.sub", f"{PACKAGE}.sub.a", f"{PACKAGE}.sub.b",
    }
