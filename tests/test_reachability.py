"""Every module under helium_etl_lite_spark/ is reachable from a program
entry point (fast lane, no Spark): a module that only tests import is
code the program never runs, and it should go rather than grow.

The walk reads `import` and `from ... import` nodes with `ast`,
including imports inside functions (registry.load_all imports the
query modules that way), and follows them transitively through the
package. Importing a submodule also runs its packages' __init__.py."""

from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "helium_etl_lite_spark"
ENTRY_POINTS = (
    "__spark_entry__.py",
    "bench.py",
    f"{PACKAGE}/cli.py",
    f"{PACKAGE}/serving.py",
    f"{PACKAGE}/registry.py",
    "tools",
    "perfbench",
)


def _package_modules() -> dict[str, str]:
    """Dotted module name -> file path for every module of the package."""
    modules = {}
    for d, _, files in os.walk(os.path.join(ROOT, PACKAGE)):
        for f in files:
            if not f.endswith(".py"):
                continue
            rel = os.path.relpath(os.path.join(d, f), ROOT)[: -len(".py")]
            parts = rel.split(os.sep)
            if parts[-1] == "__init__":
                parts.pop()
            modules[".".join(parts)] = os.path.join(d, f)
    return modules


def _imported(path: str, module: str | None, is_package: bool) -> set[str]:
    """Every dotted name `path` imports, with each `from X import y`
    contributing both X and X.y (y may be a submodule)."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                if module is None:
                    continue
                base = module.split(".")
                if not is_package:
                    base.pop()
                base = base[: len(base) - (node.level - 1)]
                target = ".".join(base + ([node.module] if node.module else []))
            else:
                target = node.module
            names.add(target)
            names.update(f"{target}.{alias.name}" for alias in node.names)
    return names


def _unreachable() -> list[str]:
    modules = _package_modules()
    entry_files = []
    for entry in ENTRY_POINTS:
        path = os.path.join(ROOT, entry)
        if os.path.isdir(path):
            entry_files += [
                os.path.join(path, f) for f in sorted(os.listdir(path)) if f.endswith(".py")
            ]
        else:
            entry_files.append(path)
    by_path = {p: m for m, p in modules.items()}
    seen: set[str] = set()
    todo = []

    def visit(names):
        for name in names:
            parts = name.split(".")
            # a.b.c runs a/__init__, a/b/__init__ and a/b/c
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                if mod in modules and mod not in seen:
                    seen.add(mod)
                    todo.append(mod)

    for path in entry_files:
        module = by_path.get(path)
        if module is not None:
            visit([module])
        visit(_imported(path, module, path.endswith("__init__.py")))
    while todo:
        mod = todo.pop()
        path = modules[mod]
        visit(_imported(path, mod, path.endswith("__init__.py")))
    return sorted(set(modules) - seen)


def test_every_package_module_is_reachable_from_an_entry_point():
    unreachable = _unreachable()
    assert unreachable == [], (
        "modules no entry point imports (delete them, or import them from "
        f"program code): {unreachable}"
    )
