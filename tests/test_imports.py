"""Every relative `from … import …` in the package resolves.

Most of the package's intra-package imports are function-local and lazy: they
run only when their function is called. A stale one left behind in a branch
no test reaches would fail only in production, so this walks the source with
`ast` and resolves each import's module and names without calling anything."""

import ast
import importlib
import importlib.util
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG_DIR = ROOT / "osm_data_3d_tiles_spark"
_spec = importlib.util.spec_from_file_location("reach", ROOT / "scripts" / "reach.py")
reach = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(reach)


def _relative_imports():
    for path in sorted(PKG_DIR.rglob("*.py")):
        module, is_package = reach.module_name(path)
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.ImportFrom) and node.level:
                target = reach.import_target(module, is_package, node)
                names = [a.name for a in node.names]
                yield f"{path.relative_to(ROOT)}:{node.lineno}", target, names


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
