"""Reachability audit: which top-level package definitions no real entry point
reaches, and which options no call varies.

Roots, the program's real entry points:
- `__spark_entry__.py`: `entry`, `queries` and `oracle_sql`, the driver
  contract;
- `osm_data_3d_tiles_spark/cli.py` run as a program: `main` and the commands
  it dispatches;
- `bench.py`, `perfbench/*.py` and `scripts/*.py`.

From the roots the walk follows imports transitively, function-local (lazy)
ones included, and the names that reached code refers to. A top-level `def`
or `class`, or a module-level constant (a name a top-level assignment binds,
dunders aside), is reached when reached code reads it: directly, through an
import alias, or as an attribute of an imported module. A reached class
counts as a whole, its methods included. Importing a module runs its
top-level statements, so every name those statements read is followed too,
and so is a module named in a string (`session.py` names `_worker_daemon`
for `spark.python.daemon.module`). Binding a name is not reading it: an
assignment alone reaches nothing.

The walk reads the source with `ast` and calls nothing. It is name-based and
errs towards "reached": a local variable read under a top-level name keeps
that definition alive. It cannot see inside a reached function either: a
format or mode branch of a dispatcher that is reached (`decode_image_real`,
`pack_glb`) always counts as reached. Such branches are judged by the
payloads the contract fixtures feed; the image decode table is pinned by
`tests/test_operators.py::TestUnsupportedImageFormats` and the three
`*_decode_stats` contract queries.

Every top-level package definition the roots do not reach is listed, with
whether `tests/` reaches it. `scripts/reach_allowlist.txt` must name each,
one per line as `<module>.<name> | reference | <reason>`: a test compares
reached code against it, or it serves such reference code. There is no
other class; code that nothing reaches and no test compares against is
deleted, not queued.

Options: a parameter with a default, on a package top-level function or on
a method of a top-level class, must be set by some call in the package,
`bench.py`, `__spark_entry__.py`, `perfbench/`, `scripts/` or `tests/` to a
value other than its default: by keyword, by position, through `*`/`**`
unpacking or through `functools.partial`. An option with one value in use is
a constant, so the function uses that value itself. Passing the default
again does not count. Calls are matched by name, like the walk, and err
towards "set". Definitions on the allowlist are exempt.

    python scripts/reach.py

prints every listed definition and exits 1 when one is not on the allowlist,
an allowlist entry is no longer listed, or an option is unset
(`tests/test_reach.py` asserts the same).
"""

from __future__ import annotations

import ast
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "osm_data_3d_tiles_spark"
ALLOWLIST = "scripts/reach_allowlist.txt"
CLASSES = ("reference",)
_DOTTED = re.compile(r"\.?[A-Za-z_]\w*(\.[A-Za-z_]\w*)*")


def module_name(path: Path, root: Path = ROOT) -> tuple[str, bool]:
    """(dotted module name, is a package) for a source file under `root`."""
    parts = list(path.relative_to(root).with_suffix("").parts)
    is_package = parts[-1] == "__init__"
    if is_package:
        parts.pop()
    return ".".join(parts), is_package


def import_target(module: str, is_package: bool, node: ast.ImportFrom) -> str:
    """The absolute module that `from … import …` in `module` names."""
    if not node.level:
        return node.module or ""
    base = module.split(".") if is_package else module.split(".")[:-1]
    base = base[: len(base) - node.level + 1]
    return ".".join(base + ([node.module] if node.module else []))


class Module:
    def __init__(self, name: str, is_package: bool, tree: ast.Module):
        self.name, self.is_package, self.tree = name, is_package, tree
        self.defs: dict[str, ast.AST] = {}
        for s in tree.body:
            if isinstance(s, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                self.defs[s.name] = s
            elif isinstance(s, (ast.Assign, ast.AnnAssign)):
                targets = s.targets if isinstance(s, ast.Assign) else [s.target]
                # `X = …` and `X, Y = …` bind X and Y; `a.b = …` and `a[0] = …`
                # bind nothing
                names = (n for t in targets for n in ast.walk(t) if isinstance(n, ast.Name))
                for n in names:
                    if isinstance(n.ctx, ast.Store) and not n.id.startswith("__"):
                        self.defs[n.id] = s
        # alias -> (module, name); name None when the alias is the module itself
        self.aliases: dict[str, tuple[str, str | None]] = {}


def _import_time(stmts):
    """The nodes of a module body that run on import: everything but the
    bodies of functions (their decorators and defaults do run)."""
    for stmt in stmts:
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef)):
            yield from stmt.decorator_list
            yield from stmt.args.defaults
            yield from (d for d in stmt.args.kw_defaults if d is not None)
        elif isinstance(stmt, ast.ClassDef):
            yield from stmt.decorator_list
            yield from stmt.bases
            yield from stmt.keywords
            yield from _import_time(stmt.body)
        else:
            yield stmt


class Audit:
    def __init__(self, root: Path = ROOT):
        self.modules: dict[str, Module] = {}
        files = (
            sorted((root / PKG).rglob("*.py"))
            + sorted((root / "tests").rglob("*.py"))
            + sorted((root / "perfbench").glob("*.py"))
            + sorted((root / "scripts").glob("*.py"))
            + [root / "bench.py", root / "__spark_entry__.py"]
        )
        for path in files:
            name, is_package = module_name(path, root)
            self.modules[name] = Module(name, is_package, ast.parse(path.read_text(), str(path)))
        for mod in self.modules.values():
            for node in _import_time(mod.tree.body):
                mod.aliases.update(self._bindings(mod, node))

    def _bindings(self, mod: Module, node: ast.AST) -> dict:
        """Names that the imports under `node` bind, and to what."""
        out = {}
        for imp in ast.walk(node):
            if isinstance(imp, ast.Import):
                for a in imp.names:
                    if a.asname:
                        out[a.asname] = (a.name, None)
                    else:
                        out[a.name.split(".")[0]] = (a.name.split(".")[0], None)
            elif isinstance(imp, ast.ImportFrom):
                target = import_target(mod.name, mod.is_package, imp)
                for a in imp.names:
                    if f"{target}.{a.name}" in self.modules:
                        out[a.asname or a.name] = (f"{target}.{a.name}", None)
                    else:
                        out[a.asname or a.name] = (target, a.name)
        return out

    def _resolve(self, module: str, name: str, seen=None) -> tuple[str, str | None] | None:
        """What `name` means in `module`: (module, def name), (module, None)
        for a module, or None for anything outside the repo."""
        mod = self.modules.get(module)
        if mod is None:
            return None
        if name in mod.defs:
            return module, name
        if f"{module}.{name}" in self.modules:
            return f"{module}.{name}", None
        seen = seen or set()
        if name in mod.aliases and (module, name) not in seen:
            seen.add((module, name))
            return self._target(mod.aliases[name], seen)
        return None

    def _target(self, alias: tuple[str, str | None], seen=None):
        target, attr = alias
        if attr is None:
            return (target, None) if target in self.modules else None
        return self._resolve(target, attr, seen)

    def reach(self, roots) -> set[tuple[str, str]]:
        """Top-level definitions reached from `roots`, a list of module names
        (whole module: body and every definition) or (module, def) pairs."""
        reached: set[tuple[str, str]] = set()
        imported: set[str] = set()
        todo: list[tuple[str, str | None]] = []
        for r in roots:
            if isinstance(r, str):
                todo.append((r, None))
                todo += [(r, d) for d in self.modules[r].defs]
            else:
                todo.append(r)
        while todo:
            module, name = todo.pop()
            if name is None:
                if module in imported:
                    continue
                # importing a.b.c runs a/__init__ and a/b/__init__ first
                parts = module.split(".")
                todo += [(".".join(parts[:i]), None) for i in range(1, len(parts))
                         if ".".join(parts[:i]) in self.modules]
                imported.add(module)
                mod = self.modules[module]
                for node in _import_time(mod.tree.body):
                    todo += self._refs(mod, node, {})
            elif (module, name) not in reached:
                reached.add((module, name))
                mod = self.modules[module]
                node = mod.defs[name]
                todo.append((module, None))
                todo += self._refs(mod, node, self._bindings(mod, node))
        return reached

    def _refs(self, mod: Module, node: ast.AST, local: dict):
        """(module, def-or-None) targets that the code under `node` refers to;
        `local` holds the aliases its own function-local imports bind."""

        def lookup(name):
            return self._target(local[name]) if name in local else self._resolve(mod.name, name)

        out = []
        for n in ast.walk(node):
            if isinstance(n, ast.Import):
                out += [(a.name, None) for a in n.names if a.name in self.modules]
            elif isinstance(n, ast.ImportFrom):
                target = import_target(mod.name, mod.is_package, n)
                if target in self.modules:
                    out.append((target, None))
                    for a in n.names:
                        hit = self._resolve(target, a.name)
                        if hit:
                            out.append(hit)
            elif isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
                hit = lookup(n.id)
                if hit:
                    out.append(hit)
            elif isinstance(n, ast.Attribute):
                chain = []
                base = n
                while isinstance(base, ast.Attribute):
                    chain.append(base.attr)
                    base = base.value
                if not isinstance(base, ast.Name):
                    continue
                hit = lookup(base.id)
                for attr in reversed(chain):
                    if hit is None or hit[1] is not None:
                        break
                    hit = self._resolve(hit[0], attr)
                    if hit:
                        out.append(hit)
            elif isinstance(n, ast.Constant) and isinstance(n.value, str):
                s = n.value
                if _DOTTED.fullmatch(s):
                    if s.startswith("."):
                        pkg = mod.name if mod.is_package else mod.name.rpartition(".")[0]
                        s = pkg + s
                    if s in self.modules:
                        out.append((s, None))
        return out

    def unreached(self) -> dict[str, bool]:
        """`module.name` of every package definition the roots do not reach
        -> whether tests/ reach it."""
        prod = self.reach(
            [(f"{PKG}.cli", "main"), "bench", "__spark_entry__"]
            + [m for m in self.modules if m.startswith(("perfbench.", "scripts."))]
        )
        tests = self.reach([m for m in self.modules if m.startswith("tests.")])
        package = {
            (name, d)
            for name, mod in self.modules.items()
            if name == PKG or name.startswith(PKG + ".")
            for d in mod.defs
        }
        return {f"{m}.{d}": (m, d) in tests for m, d in sorted(package - prod)}


def _defaults(fn: ast.FunctionDef) -> list[tuple[str, int | None, ast.expr]]:
    """(name, position or None when keyword-only, default) of each parameter
    of `fn` that has a default."""
    a = fn.args
    positional = a.posonlyargs + a.args
    pad = [None] * (len(positional) - len(a.defaults))
    out = [(p.arg, i, d) for i, (p, d) in enumerate(zip(positional, pad + a.defaults)) if d]
    return out + [(p.arg, None, d) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d]


def _is_default(value: ast.expr, default: ast.expr) -> bool:
    """Whether a call passes the parameter's default again: the same
    expression, or a literal of the same type and value."""
    if ast.dump(value) == ast.dump(default):
        return True
    try:
        v, d = ast.literal_eval(value), ast.literal_eval(default)
    except (ValueError, TypeError, SyntaxError):
        return False
    return type(v) is type(d) and v == d


def _called(call: ast.Call) -> tuple[ast.expr, list[ast.expr]]:
    """(callee, positional arguments) of a call; `partial(f, …)` and
    `functools.partial(f, …)` count as a call of `f`."""
    func, args = call.func, call.args
    if getattr(func, "id", getattr(func, "attr", None)) == "partial" and args:
        func, args = args[0], args[1:]
    return func, args


def _callables(stmt: ast.stmt):
    """(called name, qualified name, implicit leading arguments, def) of a
    top-level function, or of each method of a top-level class: calling the
    class calls its `__init__`, and a method bound to an instance or class
    gets its first argument implicitly unless it is a staticmethod."""
    defs = (ast.FunctionDef, ast.AsyncFunctionDef)
    if isinstance(stmt, defs):
        yield stmt.name, stmt.name, 0, stmt
    elif isinstance(stmt, ast.ClassDef):
        for m in (m for m in stmt.body if isinstance(m, defs)):
            static = any(getattr(d, "id", "") == "staticmethod" for d in m.decorator_list)
            called = stmt.name if m.name == "__init__" else m.name
            yield called, f"{stmt.name}.{m.name}", 0 if static else 1, m


def unset_options(root: Path = ROOT) -> list[str]:
    """`module.function(parameter)`, or `module.Class.method(parameter)`, of
    every parameter with a default, on a package top-level function or on a
    method of a top-level class, that no call in the audited code sets to a
    value other than its default. Calls are matched by name: `f(…)` and
    `x.f(…)` call every function or method `f`, `C(…)` calls `C.__init__`. A
    call sets a parameter by keyword, by position or through `*`/`**`
    unpacking (which sets every parameter it could reach). Functions and
    classes on the allowlist are exempt."""
    audit, exempt = Audit(root), read_allowlist(root)
    # called name -> [(qualname, implicit first argument, parameters)]
    targets: dict[str, list] = {}
    for name, mod in audit.modules.items():
        if not (name == PKG or name.startswith(PKG + ".")):
            continue
        for s in mod.tree.body:
            if f"{name}.{getattr(s, 'name', '')}" in exempt:
                continue
            for called, qual, bound, fn in _callables(s):
                if params := _defaults(fn):
                    targets.setdefault(called, []).append((f"{name}.{qual}", bound, params))
    unset = {(q, p) for ts in targets.values() for q, _, params in ts for p, _, _ in params}
    for mod in audit.modules.values():
        for call in (n for n in ast.walk(mod.tree) if isinstance(n, ast.Call)):
            func, args = _called(call)
            name = getattr(func, "id", getattr(func, "attr", None))
            star = next((i for i, a in enumerate(args) if isinstance(a, ast.Starred)), len(args))
            for qual, bound, params in targets.get(name, ()):
                # a plain name calls a function, or a class (its __init__)
                skip = bound if isinstance(func, ast.Attribute) or qual.endswith(".__init__") else 0
                for p, pos, default in params:
                    values = [k.value for k in call.keywords if k.arg == p]
                    if pos is not None and skip <= pos < star + skip:
                        values += args[pos - skip : pos - skip + 1]
                    unpacked = any(k.arg is None for k in call.keywords) or (
                        pos is not None and star < len(args) and pos >= star + skip)
                    if unpacked or any(not _is_default(v, default) for v in values):
                        unset.discard((qual, p))
    return [f"{q}({p})" for q, p in sorted(unset)]


def read_allowlist(root: Path = ROOT) -> dict[str, tuple[str, str]]:
    """`module.name` -> (class, reason)."""
    out = {}
    for lineno, line in enumerate((root / ALLOWLIST).read_text().splitlines(), 1):
        if not line.strip() or line.startswith("#"):
            continue
        qualname, cls, reason = (p.strip() for p in line.split("|", 2))
        if cls not in CLASSES or not reason:
            raise ValueError(f"{ALLOWLIST}:{lineno}: want '<name> | {' or '.join(CLASSES)} | <reason>'")
        out[qualname] = (cls, reason)
    return out


def check(root: Path = ROOT) -> tuple[dict[str, bool], list[str], list[str]]:
    """(listed definitions, listed but not on the allowlist, allowlist
    entries no longer listed)."""
    listed = Audit(root).unreached()
    allow = read_allowlist(root)
    return listed, sorted(set(listed) - set(allow)), sorted(set(allow) - set(listed))


def main() -> int:
    listed, missing, stale = check()
    allow = read_allowlist()
    for name, by_tests in listed.items():
        cls = allow.get(name, ("UNCLASSIFIED", ""))[0]
        print(f"{cls:13} {'tests' if by_tests else 'nothing':8} {name}")
    for name in missing:
        print(f"not on {ALLOWLIST}: {name}", file=sys.stderr)
    for name in stale:
        print(f"stale entry in {ALLOWLIST} (reached or gone): {name}", file=sys.stderr)
    options = unset_options()
    for name in options:
        print(f"option no call sets: {name}", file=sys.stderr)
    return 1 if missing or stale or options else 0


if __name__ == "__main__":
    sys.exit(main())
