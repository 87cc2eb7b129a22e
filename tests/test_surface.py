"""Reachability guards: every package module, and every top-level
function and class of a reached module, is reached from the binaries
(`geeflow_spark.cli`) or sits on an allowlist that may only shrink.

Module reachability follows the AST's import statements, function-local
imports included, plus string constants that name a package module (that
is how `session.py` names the worker daemon in its Spark config). A
package's `__init__` counts as reached with any of its modules.

Function reachability is a name-level graph over the reached modules. Its
roots are everything in `cli.py`, the statements outside top-level
`def`/`class` of every reached module, the allowlisted modules as a whole
and the benchmark's `perfbench/*.py`. A reached top-level `def` or
`class` reaches every name its body mentions: `ast.Name` ids,
`ast.Attribute` attrs and string constants (and their dotted parts). A
definition is reached when its name is; the graph does not resolve which
module a name belongs to, so it can only err towards keeping code. Tests
and `__spark_entry__.py` are not roots: code only they reach is test code
and lives beside them.
"""

import ast
import glob
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
    "geeflow_spark.operators.rasterize",
    "geeflow_spark.operators.reducers",
    "geeflow_spark.plans.assemble",
    "geeflow_spark.plans.config",
    "geeflow_spark.plans.labels",
    "geeflow_spark.plans.schema",
    "geeflow_spark.sources.catalog",
    "geeflow_spark.sources.derived",
    "geeflow_spark.sources.iceberg",
    "geeflow_spark.sources.registry",
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


def _names(node) -> set:
    """Names `node` mentions: Name ids, Attribute attrs, string constants
    and their dotted parts."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            out.add(n.value)
            out |= set(n.value.split("."))
    return out


def _unreached_functions(modules: dict) -> set:
    """`module.name` of every top-level def/class of a reached module that
    no root reaches by name."""
    reached_mods = _reached(f"{PKG}.cli", modules)
    roots = {f"{PKG}.cli"} | UNREACHED_ALLOWLIST
    todo = set()
    for path in glob.glob(os.path.join(ROOT, "perfbench", "*.py")):
        todo |= _names(ast.parse(open(path).read()))
    defs = {}  # name -> [(module, node)]
    for mod in sorted(reached_mods | UNREACHED_ALLOWLIST):
        tree = ast.parse(open(modules[mod]).read())
        for stmt in tree.body:
            if (mod not in roots and isinstance(
                    stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                           ast.ClassDef))):
                defs.setdefault(stmt.name, []).append((mod, stmt))
            else:
                todo |= _names(stmt)
    seen = set()
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        for _, node in defs.get(name, ()):
            todo |= _names(node) - seen
    return {f"{mod}.{name}" for name, nodes in defs.items()
            if name not in seen for mod, _ in nodes}


def test_every_function_reached_or_allowlisted():
    unreached = _unreached_functions(_modules())
    assert not unreached, (
        "top-level functions/classes no binary reaches; delete them, move "
        f"them beside the tests that use them, or call them: "
        f"{sorted(unreached)}")
