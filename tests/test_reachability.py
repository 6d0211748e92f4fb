"""Every package module must be reachable from a product entry point, and
every public definition must be referenced outside ``tests/``.

A pure-``ast`` walk, no Spark session: start from the files a user or the
benchmark runs (the query registry, the bench, the CLI, ``scripts/`` and
``uploader_bench/``), follow every import statement (function-local ones
too, since the registry imports lazily), and fail on any module under
``linz_bde_uploader_spark/`` that the walk never reaches. Such a module is
reachable from ``tests/`` at most, so it is code only the tests run.

The definition-level check is a name-level scan of the same files: a public
top-level function or class passes if its name occurs (as a name, an
attribute or an imported name; comments and strings do not count) in an
entry-point file, in another package module, or in its own module outside
its own body. ``TEST_ONLY_ALLOWED`` lists the known exceptions; it may only
shrink.
"""

from __future__ import annotations

import ast
import glob
import os
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "linz_bde_uploader_spark"

#: Public definitions (``module.name`` under the package) that only tests
#: reference. Each awaits a decision: wire it into the product or delete it
#: with its tests. The check fails on a name that is missing here and on a
#: listed name that is now referenced or deleted.
TEST_ONLY_ALLOWED = {
    "caching.tracked_count",
    "functions.bloom.bloom_prune",
    "functions.dedup.ngram_jaccard",
    "functions.dedup.prune_cross_duplicated",
    "functions.dsir.logratio_model",
    "functions.dsir.score_with_model",
    "functions.linkage.fuzzy_join",
    "functions.linkage.fuzzy_name_pairs",
    "functions.linkage.oversized_blocks",
    "functions.lm.perplexity_filter",
    "functions.packing.pack_utilization",
    "functions.sampling.quantile_filter_approx",
    "functions.text.unigram_lm_encode",
    "functions.text.unigram_lm_train",
    "operators.scd.scd2_as_of",
    "operators.skew.salted_agg",
    # kept: a test uses each as the reference for live code
    "functions.dedup.winnow_fingerprints",  # for winnow_pairs
    "functions.sampling.deterministic_sample",
    "functions.similarity.banded_lsh_keys",  # for lsh_band_keys_udf
}


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


def _name_counts(node: ast.AST) -> Counter:
    """How often each name is used under ``node``: bare names, attribute
    names and imported names (the last part of a dotted import)."""
    counts: Counter = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            counts[n.id] += 1
        elif isinstance(n, ast.Attribute):
            counts[n.attr] += 1
        elif isinstance(n, ast.alias):
            counts[n.name.rsplit(".", 1)[-1]] += 1
    return counts


def unreferenced_definitions(root: str = ROOT) -> set[str]:
    """Public top-level functions and classes of package modules whose name
    is used in no entry-point file, no other package module, and nowhere
    in their own module outside their own body."""
    mods = package_modules(root)
    trees = {}
    for path in set(_entry_files(root)) | set(mods.values()):
        with open(path, encoding="utf-8") as f:
            trees[path] = ast.parse(f.read(), filename=path)
    counts = {path: _name_counts(tree) for path, tree in trees.items()}
    found = set()
    for mod, path in mods.items():
        for node in trees[path].body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            name = node.name
            if name.startswith("_"):
                continue
            if any(c[name] for p, c in counts.items() if p != path):
                continue
            if counts[path][name] > _name_counts(node)[name]:
                continue
            found.add(f"{mod[len(PACKAGE) + 1:]}.{name}")
    return found


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


def test_every_public_definition_is_referenced_outside_tests():
    found = unreferenced_definitions()
    assert not found - TEST_ONLY_ALLOWED, (
        "public definitions referenced only from tests/ (or from nowhere): "
        + ", ".join(sorted(found - TEST_ONLY_ALLOWED))
    )
    assert not TEST_ONLY_ALLOWED - found, (
        "TEST_ONLY_ALLOWED names that are now referenced or deleted; drop them "
        "from the list: " + ", ".join(sorted(TEST_ONLY_ALLOWED - found))
    )


def test_definition_scan_counts_names_not_comments(tmp_path):
    pkg = tmp_path / PACKAGE
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "a.py").write_text(
        "def helper():\n    pass\n\n"
        "def exported():\n    return helper()\n\n"
        "def recursive(n):\n    return recursive(n - 1)\n\n"
        "def orphan():\n    pass  # exported()\n\n"
        "class Used:\n    pass\n\n"
        "def _private():\n    pass\n"
    )
    (pkg / "b.py").write_text("from .a import exported\nx = 'orphan'\n")
    (tmp_path / "bench.py").write_text(f"import {PACKAGE}.a as a\nv = a.Used\n")
    assert unreferenced_definitions(str(tmp_path)) == {"a.recursive", "a.orphan"}
