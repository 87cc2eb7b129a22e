"""Reachability guards: every package module, and every top-level
function and class, is reached from the binaries (`geeflow_spark.cli`)
or sits on an allowlist that may only shrink.

Module reachability follows the AST's import statements, function-local
imports included, plus string constants that name a package module (that
is how `session.py` names the worker daemon in its Spark config). A
package's `__init__` counts as reached with any of its modules.

Function reachability is a graph over top-level defs that resolves
names the way Python binds them. A bare name counts only when it is a
top-level def of the same module or is bound by a `from <package
module> import`; `alias.attr` resolves through the module's imports to
a def of the imported module (re-exports followed). A reached def
reaches every def its body names this way, and a reached class its
whole body. The roots are all of `cli.py`, the statements outside
top-level `def`/`class` of every module, the `WHOLE_MODULE_ROOTS`
modules as a whole and the benchmark's `perfbench/*.py`, resolved the
same way. Tests and `__spark_entry__.py` are not roots: code only they
reach is test code and lives beside them.
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

# Allowlisted modules whose every top-level def counts as reached, each
# for its reason. May only shrink; there is no allowlist of functions.
WHOLE_MODULE_ROOTS = {
    # ROADMAP item 3 decides whether `cli generate --labels` wires these
    # three up or they go.
    "geeflow_spark.plans.assemble",
    "geeflow_spark.plans.labels",
    "geeflow_spark.plans.schema",
    # builds the query battery's input from the `documents` table
    "geeflow_spark.sources.derived",
    # the table format PAPER.md's design names
    "geeflow_spark.sources.iceberg",
}


def _modules(root: str = ROOT) -> dict:
    """{dotted module name: source path} of every module in the package
    under `root`."""
    out = {}
    for dirpath, _, files in os.walk(os.path.join(root, PKG)):
        for f in files:
            if f.endswith(".py"):
                rel = os.path.relpath(os.path.join(dirpath, f), root)
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


_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _bindings(tree) -> dict:
    """{local name: dotted target} of every package import in `tree`,
    function-local ones included; a target names a package module or an
    attribute of one."""
    out = {}
    for n in ast.walk(tree):
        if isinstance(n, ast.Import):
            for a in n.names:
                out[a.asname or a.name.split(".")[0]] = (
                    a.name if a.asname else a.name.split(".")[0])
        elif isinstance(n, ast.ImportFrom) and n.module and not n.level:
            for a in n.names:
                out[a.asname or a.name] = f"{n.module}.{a.name}"
    return {k: v for k, v in out.items() if v.split(".")[0] == PKG}


class _Graph:
    """Top-level defs and package imports of every module under `root`."""

    def __init__(self, root: str):
        self.modules = _modules(root)
        self.trees = {m: ast.parse(open(p).read())
                      for m, p in self.modules.items()}
        self.defs = {m: {s.name: s for s in t.body if isinstance(s, _DEFS)}
                     for m, t in self.trees.items()}
        self.binds = {m: _bindings(t) for m, t in self.trees.items()}

    def lookup(self, mod: str, attr: str):
        """What `mod.attr` names: (module, None), (module, def name) or
        None. Follows re-exports through the module's own imports."""
        if f"{mod}.{attr}" in self.modules:
            return f"{mod}.{attr}", None
        if attr in self.defs[mod]:
            return mod, attr
        target = self.binds[mod].get(attr)
        return self.dotted(target) if target else None

    def dotted(self, target: str):
        if target in self.modules:
            return target, None
        mod, _, attr = target.rpartition(".")
        return self.lookup(mod, attr) if mod in self.modules else None

    def refs(self, node, mod: str | None, binds: dict) -> set:
        """(module, def name) of every top-level def `node` references
        from module `mod` (None outside the package), whose imports are
        `binds`: a bare name that is a def of `mod` or is bound by a
        package import, and `alias.attr` chains resolved through them."""
        own = self.defs.get(mod, {})

        def resolve(n):
            if isinstance(n, ast.Name):
                if n.id in own:
                    return mod, n.id
                return self.dotted(binds[n.id]) if n.id in binds else None
            if isinstance(n, ast.Attribute):
                base = resolve(n.value)
                if base and base[1] is None:
                    return self.lookup(base[0], n.attr)
            return None

        out = set()
        for n in ast.walk(node):
            if isinstance(n, (ast.Name, ast.Attribute)):
                hit = resolve(n)
                if hit and hit[1] is not None:
                    out.add(hit)
        return out


def _unreached_functions(root: str = ROOT) -> set:
    """`module.name` of every top-level def/class that no root reaches."""
    g = _Graph(root)
    whole = {f"{PKG}.cli"} | WHOLE_MODULE_ROOTS
    todo = set()
    for path in glob.glob(os.path.join(root, "perfbench", "*.py")):
        tree = ast.parse(open(path).read())
        todo |= g.refs(tree, None, _bindings(tree))
    for mod, tree in g.trees.items():
        for stmt in tree.body:
            if mod in whole or not isinstance(stmt, _DEFS):
                todo |= g.refs(stmt, mod, g.binds[mod])
    seen = set()
    while todo:
        key = todo.pop()
        if key not in seen:
            seen.add(key)
            todo |= g.refs(g.defs[key[0]][key[1]], key[0],
                           g.binds[key[0]]) - seen
    return {f"{mod}.{name}" for mod, defs in g.defs.items()
            if mod not in whole for name in defs if (mod, name) not in seen}


def test_every_function_reached_or_allowlisted():
    # A whole-module root leaves the set with its allowlist entry.
    assert WHOLE_MODULE_ROOTS <= UNREACHED_ALLOWLIST
    unreached = _unreached_functions()
    assert not unreached, (
        "top-level functions/classes no binary reaches; delete them, move "
        f"them beside the tests that use them, or call them: "
        f"{sorted(unreached)}")


def test_function_guard_resolves_names(tmp_path):
    # A def named only by a same-named parameter elsewhere is flagged;
    # one called through `alias.attr`, or bound by `from ... import`,
    # is reached.
    pkg = tmp_path / PKG
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "a.py").write_text("def with_split(df):\n    return df\n\n\n"
                              "def called():\n    return 1\n")
    (pkg / "b.py").write_text(
        "def labels(with_split=True):\n    return with_split\n")
    (pkg / "cli.py").write_text(
        f"from {PKG} import a as alias\nfrom {PKG}.b import labels\n\n\n"
        "def main():\n    return alias.called(), labels()\n")
    assert _unreached_functions(str(tmp_path)) == {f"{PKG}.a.with_split"}
