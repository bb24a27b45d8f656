"""Every relative `from … import …` in the package resolves.

Most of the package's intra-package imports are function-local and lazy: they
run only when their function is called. A stale one left behind in a branch
no test reaches would fail only in production, so this walks the source with
`ast` and resolves each import's module and names without calling anything."""

import ast
import importlib
import importlib.util
from pathlib import Path

PKG = "osm_data_3d_tiles_spark"
PKG_DIR = Path(__file__).resolve().parent.parent / PKG


def _relative_imports():
    for path in sorted(PKG_DIR.rglob("*.py")):
        parts = list(path.relative_to(PKG_DIR.parent).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        else:
            parts[-1:] = []  # a module's own package is its import base
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.ImportFrom) and node.level:
                base = parts[: len(parts) - node.level + 1]
                target = ".".join(base + ([node.module] if node.module else []))
                names = [a.name for a in node.names]
                yield f"{path.relative_to(PKG_DIR.parent)}:{node.lineno}", target, names


def test_every_relative_import_resolves():
    imports = list(_relative_imports())
    assert len(imports) > 200  # the walk really found the package's imports
    unresolved = []
    for where, target, names in imports:
        try:
            module = importlib.import_module(target)
        except ImportError as exc:
            unresolved.append(f"{where}: {exc}")
            continue
        for name in names:
            if not (
                hasattr(module, name)
                # `from . import mod` names a submodule that may not be loaded yet
                or hasattr(module, "__path__")
                and importlib.util.find_spec(f"{target}.{name}") is not None
            ):
                unresolved.append(f"{where}: {target} has no {name!r}")
    assert not unresolved, "\n".join(unresolved)
