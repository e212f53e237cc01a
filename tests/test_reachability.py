"""Every module under helium_etl_lite_spark/ is reachable from a program
entry point, and every top-level definition in it is referenced from
program code or listed, with its reason, in TEST_ONLY (fast lane, no
Spark): a module or definition that only tests use is code the program
never runs, and it should go rather than grow.

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


def _walk() -> tuple[dict[str, str], list[str], set[str]]:
    """(every package module, the entry-point files, the package modules
    they reach)."""
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
    return modules, entry_files, seen


def _unreachable() -> list[str]:
    modules, _, seen = _walk()
    return sorted(set(modules) - seen)


def test_every_package_module_is_reachable_from_an_entry_point():
    unreachable = _unreachable()
    assert unreachable == [], (
        "modules no entry point imports (delete them, or import them from "
        f"program code): {unreachable}"
    )


# Top-level definitions that only tests reference, kept on purpose. Each
# entry must still exist and still have no program reference, so the list
# cannot go stale: a deleted entry or one that gains a program caller
# fails the check until it is taken off.
TEST_ONLY = {
    "operators.dedup.ngram_jaccard_pairs": "reference for ngram_jaccard_pairs_blas",
    "operators.knn.cosine_pairs_blocked": "reference for cosine_pairs_blocked_np",
    "operators.knn.lsh_table_buckets": "reference for _lsh_table_buckets_np",
    "etl.pipeline.backfill_epoch_walk": "reference for LandedBlockSource.first",
    "sources.block_source.FakeRpcClient": "test double for RpcBlockSource's client",
    "scratch.scratch_path": "test helper: where a query left its scratch output",
    "plans.explain_tools.assert_pushed_filter": "test helper: plan assertion",
    "plans.explain_tools.assert_read_schema_only": "test helper: plan assertion",
    "plans.explain_tools.assert_broadcast_join": "test helper: plan assertion",
    "plans.explain_tools.assert_partial_aggregate": "test helper: plan assertion",
    "plans.explain_tools.assert_whole_stage_codegen": "test helper: plan assertion",
    "plans.explain_tools.count_shuffles": "test helper: plan shuffle count",
    "plans.explain_tools.count_key_shuffles": "test helper: plan shuffle count",
}


def _referenced_names(path: str) -> set[str]:
    """Every bare name, attribute name and imported name in `path`."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update(alias.name.rsplit(".", 1)[-1] for alias in node.names)
    return names


def _test_only_definitions() -> list[str]:
    """Top-level functions and classes of the package whose name no
    program file (entry point or reachable module) references. Methods
    are out of scope.

    Matching is by name, so a definition sharing its name with anything
    the program references counts as used: the check can miss an unused
    definition but never flags a used one. A decorated definition counts
    as used, since its decorator (the registry's @query) references it."""
    modules, entry_files, seen = _walk()
    referenced = set()
    for path in entry_files + [modules[m] for m in seen]:
        referenced |= _referenced_names(path)
    prefix = PACKAGE + "."
    found = []
    for mod, path in modules.items():
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in tree.body:
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
                and not node.decorator_list
                and node.name not in referenced
            ):
                found.append(f"{mod.removeprefix(prefix)}.{node.name}")
    return sorted(found)


def test_every_package_definition_has_a_program_reference():
    unlisted = sorted(set(_test_only_definitions()) - set(TEST_ONLY))
    assert unlisted == [], (
        "top-level definitions only tests reference (delete them, or list "
        f"them in TEST_ONLY with the reason they stay): {unlisted}"
    )


def test_test_only_list_is_current():
    stale = sorted(set(TEST_ONLY) - set(_test_only_definitions()))
    assert stale == [], (
        "TEST_ONLY entries that no longer exist or now have a program "
        f"reference (take them off the list): {stale}"
    )
