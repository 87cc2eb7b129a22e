"""Reachability guard: every package module is reached from the binaries
(`geeflow_spark.cli`) or sits on an allowlist that may only shrink.

Reachability follows the AST's import statements, function-local imports
included, plus string constants that name a package module (that is how
`session.py` names the worker daemon in its Spark config). A package's
`__init__` counts as reached with any of its modules.
"""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "geeflow_spark"

# Modules no binary reaches today, kept for tests and the query battery
# (ROADMAP items 3 and 6). Delete an entry when its module is deleted or
# a binary starts to reach it; never add one.
UNREACHED_ALLOWLIST = {
    "geeflow_spark.functions.ccdc",
    "geeflow_spark.functions.coords",
    "geeflow_spark.functions.times",
    "geeflow_spark.operators.knn",
    "geeflow_spark.operators.rasterize",
    "geeflow_spark.operators.reducers",
    "geeflow_spark.plans.assemble",
    "geeflow_spark.plans.config",
    "geeflow_spark.plans.labels",
    "geeflow_spark.plans.layout",
    "geeflow_spark.plans.schema",
    "geeflow_spark.sources.catalog",
    "geeflow_spark.sources.derived",
    "geeflow_spark.sources.iceberg",
    "geeflow_spark.sources.registry",
    "geeflow_spark.streaming",
    "geeflow_spark.streaming.ingest",
}


def _modules() -> dict:
    """{dotted module name: source path} of every module in the package."""
    out = {}
    for dirpath, _, files in os.walk(os.path.join(ROOT, PKG)):
        for f in files:
            if f.endswith(".py"):
                rel = os.path.relpath(os.path.join(dirpath, f), ROOT)
                name = rel[:-3].replace(os.sep, ".")
                out[name.removesuffix(".__init__")] = os.path.join(
                    dirpath, f)
    return out


def _edges(path: str, modules: dict) -> set:
    """Package modules that the module at `path` imports or names."""
    out = set()
    for node in ast.walk(ast.parse(open(path).read())):
        if isinstance(node, ast.Import):
            out |= {a.name for a in node.names}
        elif isinstance(node, ast.ImportFrom) and node.module:
            out.add(node.module)
            out |= {f"{node.module}.{a.name}" for a in node.names}
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            out.add(node.value)
    return out & modules.keys()


def _reached(start: str, modules: dict) -> set:
    seen, todo = set(), [start]
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        parts = name.split(".")
        todo += [".".join(parts[:i]) for i in range(1, len(parts))]
        todo += sorted(_edges(modules[name], modules))
    return seen


def test_every_module_reached_or_allowlisted():
    modules = _modules()
    reached = _reached(f"{PKG}.cli", modules)
    assert {f"{PKG}.session", f"{PKG}._daemon",
            f"{PKG}.plans.checkpoint"} <= reached
    unreached = modules.keys() - reached
    assert not unreached - UNREACHED_ALLOWLIST, (
        "modules no binary reaches; delete them or wire them into cli: "
        f"{sorted(unreached - UNREACHED_ALLOWLIST)}")
    assert not UNREACHED_ALLOWLIST - unreached, (
        "allowlisted modules that are gone or now reached; drop them from "
        f"the allowlist: {sorted(UNREACHED_ALLOWLIST - unreached)}")
