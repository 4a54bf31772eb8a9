"""The record-linkage engine imports only engine modules.

A pure-AST walk, no Spark: starting from the plans, the continuous fold,
the generator, the session, the stage store and the CLI, every module they
import (at module level or inside a function) must be on ENGINE. A new
dependency of the engine on the operator catalogue (sampling, stats,
dedup, ...) fails here instead of silently widening what every worker
imports. A second check pins that every ``from <package module> import
name`` in the package, its tests, examples and benchmarks names something
the module still defines, so a removed or moved function cannot leave a
stale import behind.
"""

import ast
import functools
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "entity_resolution_spark"

ROOTS = [
    "plans.incremental",
    "plans.pipeline",
    "plans.rethreshold",
    "plans.retraction",
    "plans.reviews",
    "plans.stages",
    "streaming.continuous",
    "datagen",
    "session",
    "sources.io",
    "cli",
]

ENGINE = {
    "",
    "cli",
    "compat",
    "config",
    "datagen",
    "functions",
    "functions._lcs_native",
    "functions._native_build",
    "functions.minhash",
    "functions.similarity",
    "functions.text",
    "operators",
    "operators.blocking",
    "operators.candidates",
    "operators.clustering",
    "operators.consolidation",
    "operators.schema_matching",
    "operators.scoring",
    "plans",
    "plans.incremental",
    "plans.pipeline",
    "plans.rethreshold",
    "plans.retraction",
    "plans.reviews",
    "plans.stages",
    "session",
    "sources",
    "sources.io",
    "sources.readers",
    "streaming",
    "streaming.continuous",
    "streaming.incremental",
}


def _path(module):
    base = os.path.join(REPO, *module.split("."))
    return os.path.join(base, "__init__.py") if os.path.isdir(base) else base + ".py"


def _is_module(module):
    return os.path.exists(_path(module))


def _imports(path, module=None):
    """(imported module, names imported from it) for every package import
    in the file at ``path``; relative imports resolve against ``module``."""
    tree = ast.parse(open(path, encoding="utf-8").read())
    if module is not None:
        base = module.split(".")
        if not path.endswith("__init__.py"):
            base = base[:-1]
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == PKG:
                    yield alias.name, []
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                parts = base[: len(base) - node.level + 1]
                target = ".".join(parts + ([node.module] if node.module else []))
            else:
                target = node.module or ""
            if target.split(".")[0] == PKG:
                yield target, [a.name for a in node.names]


def _engine_closure():
    seen, todo = set(), [f"{PKG}.{r}" for r in ROOTS]
    while todo:
        module = todo.pop()
        if module in seen:
            continue
        seen.add(module)
        parts = module.split(".")
        todo += [".".join(parts[:i]) for i in range(1, len(parts))]
        for target, names in _imports(_path(module), module):
            todo.append(target)
            todo += [f"{target}.{n}" for n in names if _is_module(f"{target}.{n}")]
    return seen


def _bound(stmts):
    """Names bound by module-level statements (function and class bodies
    excluded; if/try/with blocks included)."""
    for node in stmts:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            yield from ((a.asname or a.name).split(".")[0] for a in node.names)
        else:
            for child in ast.iter_child_nodes(node):
                if isinstance(child, ast.stmt):
                    yield from _bound([child])
                elif isinstance(child, ast.excepthandler):
                    yield from _bound(child.body)
                else:
                    for n in ast.walk(child):
                        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Store):
                            yield n.id


@functools.cache
def _defined(module):
    """Module-level names a module binds, or None when it resolves names
    lazily (a module-level __getattr__)."""
    tree = ast.parse(open(_path(module), encoding="utf-8").read())
    names = set(_bound(tree.body))
    return None if "__getattr__" in names else names


def _python_files():
    for top in (PKG, "tests", "examples", "erbench"):
        for dirpath, _dirs, files in os.walk(os.path.join(REPO, top)):
            for name in files:
                if name.endswith(".py"):
                    path = os.path.join(dirpath, name)
                    rel = os.path.relpath(path, REPO)[: -len(".py")]
                    module = rel.replace(os.sep, ".").removesuffix(".__init__")
                    yield path, module
    for name in ("bench.py", "__spark_entry__.py"):
        yield os.path.join(REPO, name), name[: -len(".py")]


def test_engine_closure_is_the_engine():
    closure = {m.removeprefix(PKG).lstrip(".") for m in _engine_closure()}
    assert closure - ENGINE == set()


def test_no_import_of_a_missing_name():
    missing = []
    for path, module in _python_files():
        for target, names in _imports(path, module):
            assert _is_module(target), (path, target)
            defined = _defined(target)
            for name in names:
                if name == "*" or _is_module(f"{target}.{name}"):
                    continue
                if defined is not None and name not in defined:
                    missing.append((os.path.relpath(path, REPO), target, name))
    assert missing == []
