"""Every import in the package and the entry module resolves.

Many imports sit inside function bodies (table-check branches, optional
fast paths), so a deleted module or renamed function leaves a stale
import that only fails when a spec reaches that branch.  This walks the
AST of every source file — function-local imports included — and
resolves each ``import x`` module and each ``from x import name`` name.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parent.parent
SOURCES = sorted((ROOT / "snowy_json_spark").rglob("*.py")) + [ROOT / "__spark_entry__.py"]


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imports(path: Path) -> list[tuple[int, str, str | None]]:
    """(line, absolute module, imported name or None) per import."""
    module = _module_name(path)
    package = module if path.name == "__init__.py" else module.rpartition(".")[0]
    out = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            out += [(node.lineno, a.name, None) for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            base = (
                importlib.util.resolve_name("." * node.level + (node.module or ""), package)
                if node.level
                else node.module
            )
            out += [(node.lineno, base, a.name) for a in node.names]
    return out


def _unresolved(module: str, name: str | None) -> str | None:
    try:
        mod = importlib.import_module(module)
    except ImportError as e:
        return f"module {module!r}: {e}"
    if name is None or name == "*" or hasattr(mod, name):
        return None
    try:  # ``from package import submodule``
        importlib.import_module(f"{module}.{name}")
    except ImportError:
        return f"{module!r} has no {name!r}"
    return None


@pytest.mark.parametrize("path", SOURCES, ids=lambda p: str(p.relative_to(ROOT)))
def test_every_import_resolves(path):
    errors = [
        f"{path.name}:{line}: {err}"
        for line, module, name in _imports(path)
        if (err := _unresolved(module, name))
    ]
    assert not errors, "\n".join(errors)


def test_walk_sees_function_local_imports():
    """The walk must include imports nested in function bodies, where a
    stale import otherwise hides until its branch runs."""
    entry = _imports(ROOT / "__spark_entry__.py")
    top = {n.lineno for n in ast.parse((ROOT / "__spark_entry__.py").read_text()).body}
    assert any(line not in top for line, _, _ in entry)
    assert _unresolved("snowy_json_spark.operators.drift", "no_such_name")
    assert _unresolved("snowy_json_spark.operators.no_such_module", None)
