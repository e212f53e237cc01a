"""Every module under helium_etl_lite_spark/ is reachable from a program
entry point, every top-level definition in it is referenced from
program code or listed, with its reason, in TEST_ONLY, and every option
(a parameter with a default) is set by some program call or listed,
with its reason, in ONE_VALUE (fast lane, no Spark): a module or
definition that only tests use is code the program never runs, and an
option no program sets is a constant in disguise.

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


# Options (parameters with a default) that no program call sets, kept on
# purpose. Only two kinds belong here: a parameter a test sets to another
# value to reach a branch the program's value cannot reach at test scale,
# and a parameter of an entry point or of a callback called under another
# name. Every other option one value serves is a module-level constant.
# The list is checked both ways, as TEST_ONLY is.
ONE_VALUE = {
    # entry points
    "cli.main.argv": "entry point: tests pass argv, the console script runs sys.argv",
    "cli.cmd_start.max_ticks": "tests stop the follow loop after N passes; "
    "the program follows until SIGINT",
    "cli.cmd_start.log": "a test passes a logger caplog watches, to see the "
    "failed pass's retry line; the program logs through setup_logger",
    "cli.cmd_sql.log": "tests pass their own logger; the program logs through "
    "setup_logger, which replaces the package logger's handlers",
    "cli.cmd_status.log": "tests pass their own logger; the program logs through "
    "setup_logger, which replaces the package logger's handlers",
    # parameters a test sets to reach a branch at test scale
    "etl.fixtures.make_chain.include_unknown_type": "a test adds an unknown "
    "transaction type to reach the enum validation",
    "etl.fixtures.make_chain.seed": "property tests draw chains from other seeds",
    "operators.bpe.train_bpe.num_merges": "tests set 5 to 30 merges, a vocabulary "
    "their few-sentence corpora can fill",
    "operators.dedup.connected_components.dst_col": "equal-closure tests build "
    "src/dst edge lists",
    "operators.dedup.connected_components.src_col": "equal-closure tests build "
    "src/dst edge lists",
    "operators.dedup.connected_components_star.dst_col": "equal-closure tests build "
    "src/dst edge lists",
    "operators.dedup.connected_components_star.src_col": "equal-closure tests build "
    "src/dst edge lists",
    "operators.dedup.containment_screened_pairs.bucket_cap": "tests set 16 and 64 "
    "to route over-full buckets through the representative, 10**9 to turn it off",
    "operators.dedup.containment_screened_pairs_portable.bucket_cap": "tests set 2 "
    "to reach the representative route and 10_000 to turn it off",
    "operators.dedup.containment_screened_pairs_portable.containment_threshold": "a "
    "test sets 0.9 so identical docs verify under the cap of 2",
    "operators.dedup.dedup_filter_new.max_broadcast_rows": "a test sets 0 to reach "
    "the shuffle join taken past the broadcast bound",
    "operators.dedup.minhash_filter_new.max_broadcast_rows": "a test sets 0 to reach "
    "the shuffle join taken past the broadcast bound",
    "operators.dedup.minhash_filter_new.jaccard_threshold": "tests set 0.5 and 0.6 "
    "so their few-token near-dups clear the threshold",
    "operators.dedup.ngram_jaccard_pairs.threshold": "test-only reference: tests run "
    "it at 0.85 against the BLAS form and at 0.1",
    "operators.dedup.simhash_near_pairs.max_hamming": "a test sets 8, a looser "
    "threshold than the registry's 3",
    "operators.jpeg.encode_jpeg_bytes.restart_interval": "tests set 1 and 2 to "
    "reach restart-marker coding",
    "operators.knn.ann_topk_ivf_portable.n_tasks": "tests run it over 4 tasks, a "
    "partitioning the program's 32 cannot reach on a few vectors",
    "operators.knn.ann_topk_ivf.nprobe": "tests set 2: every list of a 2-list "
    "index, and the recall gate measured at 2 of 8",
    "operators.knn.ann_topk_lsh.n_tables": "a test sets 8 tables to show recall "
    "grows with the table count",
    "operators.knn.cosine_pairs_blocked.n_blocks": "test-only reference: property "
    "tests vary the block count",
    "operators.knn.cosine_pairs_blocked.n_tasks": "test-only reference: property "
    "tests run it over 8 tasks",
    "operators.knn.lsh_table_buckets.bits_per_table": "test-only reference: a test "
    "compares it with _lsh_table_buckets_np at 6 bits",
    "operators.knn.lsh_table_buckets.n_tables": "test-only reference: a test "
    "compares it with _lsh_table_buckets_np at 4 tables",
    "operators.knn.pq_ann_topk_ivf.nprobe": "a test sets 4 of 4 lists (no pruning) "
    "and 1 to compare pruned with unpruned distances",
    "operators.knn.semantic_dedup_pairs.block_target": "a test sets 4 to split a "
    "hot cluster over several block pairs",
    "operators.knn.semantic_dedup_pairs.max_centroid_rows": "a test sets 5 to reach "
    "the centroid-count refusal",
    "operators.knn.semantic_dedup_pairs.n_lists": "tests fix 1 and 10 lists; the "
    "program's 0 sizes the lists from the corpus",
    "operators.multimodal.pair_dedup.id_col": "a test keys its pairs by img_id",
    "operators.rollup.refresh_rollup.distinct_col": "a test sets user_id to reach "
    "the distinct-count rollup",
    "operators.rollup.refresh_rollup.value_col": "the rollup tests' events carry "
    "their measure in a value column",
    "operators.scale.distributed_ntile.bucket_width": "tests set 1, 3 and 7 to "
    "reach many buckets at test scale",
    "operators.scale.distributed_ntile.max_control_rows": "tests set 3 and 10 to "
    "reach the control-plane limit",
    "operators.scale.prefix_sum.max_control_rows": "a test sets 4 to reach the "
    "control-plane limit",
    "operators.scale.prefix_sum.super_width": "tests set 2, 4 and 16 to reach the "
    "super-block carry at test scale",
    "operators.scale.salted_join.how": "tests set left and right to reach the "
    "outer joins",
    "operators.scale.select_token_budget.bucket_width": "tests set 1, 3 and 4 to "
    "reach many buckets at test scale",
    "operators.scale.select_token_budget.max_control_rows": "a test sets 3 to reach "
    "the control-plane limit",
    "queries.aggregates.cms_pairs.depth": "property tests vary the sketch depth",
    "queries.aggregates.cms_pairs.width": "property tests vary the sketch width",
}


def _call_name(node: ast.AST) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _options() -> dict[str, tuple[str, str, int | None]]:
    """'module.function.param' (or 'module.Class.method.param') -> (the
    name a call uses, the param, its positional index or None) for every
    parameter with a default on a top-level function or a method of a
    top-level class. A class's __init__ is called by the class name, and
    a method's positional index does not count self. Functions whose
    call name is defined more than once in the package are out of
    scope: a call by that name cannot tell them apart."""
    modules, _, _ = _walk()
    prefix = PACKAGE + "."
    found = []
    for mod, path in modules.items():
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                found.append((mod, None, node))
            elif isinstance(node, ast.ClassDef):
                found += [
                    (mod, node.name, sub)
                    for sub in node.body
                    if isinstance(sub, (ast.FunctionDef, ast.AsyncFunctionDef))
                ]
    call_names = [cls if fn.name == "__init__" else fn.name for _, cls, fn in found]
    counts = {n: call_names.count(n) for n in call_names}
    options = {}
    for (mod, cls, fn), name in zip(found, call_names):
        if counts[name] > 1:
            continue
        a = fn.args
        positional = a.posonlyargs + a.args
        static = any(_call_name(d) == "staticmethod" for d in fn.decorator_list)
        shift = 1 if cls and not static else 0
        qual = f"{mod.removeprefix(prefix)}.{cls + '.' if cls else ''}{fn.name}"
        first = len(positional) - len(a.defaults)
        for i, arg in enumerate(positional[first:], start=first):
            options[f"{qual}.{arg.arg}"] = (name, arg.arg, i - shift)
        for arg, default in zip(a.kwonlyargs, a.kw_defaults):
            if default is not None:
                options[f"{qual}.{arg.arg}"] = (name, arg.arg, None)
    return options


def _program_calls() -> dict[str, list[ast.Call]]:
    """Call name -> every call by that name in program files (entry
    points and reachable modules). An `import x as y` alias resolves to
    x, and functools.partial(f, ...) counts as a call of f."""
    modules, entry_files, seen = _walk()
    calls: dict[str, list[ast.Call]] = {}
    for path in entry_files + [modules[m] for m in seen]:
        with open(path) as f:
            tree = ast.parse(f.read(), path)
        alias = {
            a.asname: a.name.rsplit(".", 1)[-1]
            for node in ast.walk(tree)
            if isinstance(node, (ast.Import, ast.ImportFrom))
            for a in node.names
            if a.asname
        }
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            name = _call_name(node.func)
            if name == "partial" and node.args:
                name = _call_name(node.args[0])
                node = ast.Call(node.args[0], node.args[1:], node.keywords)
            if name is not None:
                calls.setdefault(alias.get(name, name), []).append(node)
    return calls


def _sets(call: ast.Call, param: str, index: int | None) -> bool:
    """Whether `call` passes `param`: by keyword, by position, or
    through *args / **kwargs."""
    if any(k.arg in (param, None) for k in call.keywords):
        return True
    if any(isinstance(a, ast.Starred) for a in call.args):
        return True
    return index is not None and 0 <= index < len(call.args)


def _unset_options() -> list[str]:
    calls = _program_calls()
    return sorted(
        key
        for key, (name, param, index) in _options().items()
        if not any(_sets(c, param, index) for c in calls.get(name, ()))
    )


def test_every_option_is_set_by_a_program_call():
    unlisted = sorted(set(_unset_options()) - set(ONE_VALUE))
    assert unlisted == [], (
        "options no program call sets (make each a module-level constant "
        f"named once, or list it in ONE_VALUE with its reason): {unlisted}"
    )


def test_one_value_list_is_current():
    stale = sorted(set(ONE_VALUE) - set(_unset_options()))
    assert stale == [], (
        "ONE_VALUE entries that no longer exist or now have a program "
        f"call setting them (take them off the list): {stale}"
    )
