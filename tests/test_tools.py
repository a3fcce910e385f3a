"""The scripts under tools/ are run by hand, so no other test imports
them: this checks that every package name they import still exists."""

from __future__ import annotations

import ast
import importlib
import pathlib

PACKAGE = "business_intelligence_and_data_warehouse_spark"
TOOLS = sorted((pathlib.Path(__file__).parent.parent / "tools").glob("*.py"))


def _package_imports(path: pathlib.Path) -> list[tuple[str, str | None]]:
    """(module, name) for each ``from <package>... import name`` and
    (module, None) for each ``import <package>...`` in the file, at any
    nesting depth (the tools import inside their functions)."""
    out = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            mod = node.module or ""
            if mod == PACKAGE or mod.startswith(PACKAGE + "."):
                out += [(mod, a.name) for a in node.names]
        elif isinstance(node, ast.Import):
            out += [
                (a.name, None)
                for a in node.names
                if a.name == PACKAGE or a.name.startswith(PACKAGE + ".")
            ]
    return out


def _exists(mod: str, name: str | None) -> bool:
    try:
        module = importlib.import_module(mod)
        # ``from package.plans import queries`` may name a submodule
        return name is None or hasattr(module, name) or bool(
            importlib.import_module(f"{mod}.{name}")
        )
    except ImportError:
        return False


def test_tool_package_imports_exist():
    assert TOOLS, "no tools/*.py found"
    missing = [
        (path.name, mod, name)
        for path in TOOLS
        for mod, name in _package_imports(path)
        if not _exists(mod, name)
    ]
    assert not missing, missing
