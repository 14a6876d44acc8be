"""Every ``tools/*.py`` compiles, and each name it imports from ``bench``
or ``xxt_cdc_spark`` (at any nesting level, or read as ``bench.<name>``
after ``import bench``) still resolves."""

from __future__ import annotations

import ast
import importlib
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
TOOLS = sorted((REPO / "tools").glob("*.py"))
sys.path.insert(0, str(REPO))


def _ours(module: str | None) -> bool:
    return module is not None and module.split(".")[0] in ("bench", "xxt_cdc_spark")


def _resolves(module: str, name: str) -> bool:
    if hasattr(importlib.import_module(module), name):
        return True
    try:  # `from pkg import submodule`
        importlib.import_module(f"{module}.{name}")
        return True
    except ModuleNotFoundError:
        return False


@pytest.mark.parametrize("path", TOOLS, ids=[p.name for p in TOOLS])
def test_tool_compiles_and_its_imports_resolve(path):
    src = path.read_text()
    compile(src, str(path), "exec")
    tree = ast.parse(src)
    refs, bound = [], {}  # bound: the name an `import` binds -> its module
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and _ours(node.module):
            refs += [(node.lineno, node.module, a.name) for a in node.names]
        elif isinstance(node, ast.Import):
            for a in (a for a in node.names if _ours(a.name)):
                importlib.import_module(a.name)
                top = a.name.split(".")[0]  # `import a.b` binds `a`
                bound[a.asname or top] = a.name if a.asname else top
    refs += [
        (n.lineno, bound[n.value.id], n.attr)
        for n in ast.walk(tree)
        if isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load)
        and isinstance(n.value, ast.Name) and n.value.id in bound
    ]
    missing = [f"{path.name}:{line} {mod}.{name}" for line, mod, name in refs if not _resolves(mod, name)]
    assert not missing, f"names a tool imports no longer exist: {missing}"
