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
import inspect
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


def _bound_names(tree: ast.AST) -> list[tuple[int, str]]:
    """(line, local name) bound by each import in ``tree``."""
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            out += [(node.lineno, a.asname or a.name.partition(".")[0]) for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            out += [(node.lineno, a.asname or a.name) for a in node.names if a.name != "*"]
    return out


def _unused_imports(source: str) -> list[tuple[int, str]]:
    """Imported names never referenced as a ``Name`` (an attribute
    chain's root is one) anywhere in the module."""
    tree = ast.parse(source)
    used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    return [(line, name) for line, name in _bound_names(tree) if name not in used]


MODULES = [
    p
    for p in SOURCES
    if p.name != "__init__.py" and p.relative_to(ROOT).parts[0] == "snowy_json_spark"
]


@pytest.mark.parametrize("path", MODULES, ids=lambda p: str(p.relative_to(ROOT)))
def test_every_import_is_used(path):
    """A name imported into a module (``__init__`` re-exports aside) is
    referenced there; a stale import outlives the code that needed it."""
    unused = [f"{path.name}:{line}: {name}" for line, name in _unused_imports(path.read_text())]
    assert not unused, "\n".join(unused)


def test_unused_import_check_sees_names():
    src = (
        "import os.path\nimport json as j\nfrom typing import Iterator\n"
        "from x import a, b\n\ndef f(it: Iterator):\n    return os.sep, a\n"
    )
    assert _unused_imports(src) == [(2, "j"), (4, "b")]


def _private_defs(tree: ast.Module) -> list[tuple[int, str]]:
    """(top-level statement index, name) per module-level private
    function, class or assigned name (dunders aside)."""
    out = []
    for i, stmt in enumerate(tree.body):
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names = [stmt.name]
        elif isinstance(stmt, ast.Assign):
            names = [t.id for t in stmt.targets if isinstance(t, ast.Name)]
        elif isinstance(stmt, ast.AnnAssign) and isinstance(stmt.target, ast.Name):
            names = [stmt.target.id]
        else:
            names = []
        out += [(i, n) for n in names if n.startswith("_") and not n.startswith("__")]
    return out


def _references(tree: ast.Module) -> list[tuple[int, str]]:
    """(top-level statement index, name) per name read, attribute read
    or name imported anywhere in the module."""
    out = []
    for i, stmt in enumerate(tree.body):
        for n in ast.walk(stmt):
            if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
                out.append((i, n.id))
            elif isinstance(n, ast.Attribute):
                out.append((i, n.attr))
            elif isinstance(n, ast.ImportFrom):
                out += [(i, a.name) for a in n.names]
    return out


def _unused_private_names(sources: dict[str, str]) -> list[str]:
    """``module:name`` for each module-level private name that nothing in
    ``sources`` references outside its own definition (recursion and a
    constant's own right-hand side do not count)."""
    trees = {mod: ast.parse(src) for mod, src in sources.items()}
    where: dict[str, set[tuple[str, int]]] = {}
    for mod, tree in trees.items():
        for i, name in _references(tree):
            where.setdefault(name, set()).add((mod, i))
    return [
        f"{mod}:{name}"
        for mod, tree in trees.items()
        for at, name in _private_defs(tree)
        if not where.get(name, set()) - {(mod, at)}
    ]


def test_every_private_name_is_used():
    """A module-level ``_name`` under ``snowy_json_spark/`` is referenced
    somewhere in the package outside its own definition; a private
    helper outliving the code that called it is dead code."""
    sources = {
        str(p.relative_to(ROOT)): p.read_text()
        for p in SOURCES
        if p.relative_to(ROOT).parts[0] == "snowy_json_spark"
    }
    unused = _unused_private_names(sources)
    assert not unused, "\n".join(unused)


def test_unused_private_check_sees_names():
    a = (
        "import re\n_A = re.compile('x')\n_B = 1\n_C = _C if False else 2\n"
        "def _rec(n):\n    return _rec(n - 1)\n"
        "def _used():\n    return _B\nclass _K:\n    pass\n"
    )
    b = "from a import _used\nx = _used()\ny = mod._K\n"
    assert _unused_private_names({"a": a, "b": b}) == ["a:_A", "a:_C", "a:_rec"]


# --- keyword names at the package's call sites outside it --------------------

CALLERS = sorted(
    [p for d in ("scripts", "perfbench", "tests") for p in (ROOT / d).rglob("*.py")]
    + [*ROOT.glob("bench*.py")]
    + [ROOT / n for n in ("curate_job.py", "validate_job.py", "__spark_entry__.py")]
)


def _resolve(path: str):
    """The object a dotted ``snowy_json_spark`` path names, or None."""
    parts = path.split(".")
    for i in range(len(parts), 0, -1):
        try:
            obj = importlib.import_module(".".join(parts[:i]))
        except ImportError:
            continue
        for name in parts[i:]:
            obj = getattr(obj, name, None)
        return obj
    return None


def _dotted(node: ast.expr) -> list[str] | None:
    if isinstance(node, ast.Name):
        return [node.id]
    if isinstance(node, ast.Attribute) and (base := _dotted(node.value)):
        return base + [node.attr]
    return None


def _bad_call(call: ast.Call, fn) -> str | None:
    """Why ``call`` cannot bind to ``fn``'s signature: an unknown keyword,
    or more positional arguments than it takes."""
    try:
        params = inspect.signature(fn).parameters.values()
    except (TypeError, ValueError):
        return None
    kinds = {p.kind for p in params}
    named = {p.name for p in params if p.kind in (p.POSITIONAL_OR_KEYWORD, p.KEYWORD_ONLY)}
    if inspect.Parameter.VAR_KEYWORD not in kinds:
        unknown = [k.arg for k in call.keywords if k.arg is not None and k.arg not in named]
        if unknown:
            return f"no parameter {', '.join(unknown)}"
    positional = [p for p in params if p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)]
    starred = any(isinstance(a, ast.Starred) for a in call.args)
    if not starred and inspect.Parameter.VAR_POSITIONAL not in kinds:
        if len(call.args) > len(positional):
            return f"{len(call.args)} positional arguments, takes {len(positional)}"
    return None


def _call_errors(source: str) -> list[tuple[int, str, str]]:
    """(line, called path, reason) per call into a ``snowy_json_spark``
    function or class whose arguments its signature does not accept.
    Import bindings are scoped: a function-local import is seen in that
    function only."""
    found: list[tuple[int, str, str]] = []
    scopes: list[dict[str, str | None]] = [{}]

    class Visitor(ast.NodeVisitor):
        def visit_FunctionDef(self, node):
            scopes.append({})
            self.generic_visit(node)
            scopes.pop()

        visit_AsyncFunctionDef = visit_FunctionDef

        def visit_Import(self, node):
            for a in node.names:
                local = a.asname or a.name.partition(".")[0]
                scopes[-1][local] = a.name if a.asname else local

        def visit_ImportFrom(self, node):
            for a in node.names:
                path = f"{node.module}.{a.name}" if node.module and not node.level else None
                scopes[-1][a.asname or a.name] = path

        def visit_Call(self, node):
            chain = _dotted(node.func)
            bound = next((s[chain[0]] for s in reversed(scopes) if chain and chain[0] in s), None)
            if bound and bound.partition(".")[0] == "snowy_json_spark":
                path = ".".join([bound, *chain[1:]])
                fn = _resolve(path)
                module = getattr(fn, "__module__", None) or ""
                if callable(fn) and module.startswith("snowy_json_spark"):
                    if why := _bad_call(node, fn):
                        found.append((node.lineno, path, why))
            self.generic_visit(node)

    Visitor().visit(ast.parse(source))
    return found


@pytest.mark.parametrize("path", CALLERS, ids=lambda p: str(p.relative_to(ROOT)))
def test_package_calls_pass_accepted_arguments(path):
    """A caller outside the package passes only keyword names the called
    function accepts (or it takes ``**kwargs``) and no more positional
    arguments than it takes: a removed or renamed parameter otherwise
    fails only when that script or branch runs."""
    errors = [f"{path.name}:{line}: {fn}: {why}" for line, fn, why in _call_errors(path.read_text())]
    assert not errors, "\n".join(errors)


def test_call_check_sees_each_shape():
    src = '''
import snowy_json_spark.operators.uniqueness
from snowy_json_spark.operators import dedup
from snowy_json_spark.operators.referential import anti_join_violations as ajv

def f(df, args, kw):
    from snowy_json_spark.operators.pipeline import curate_documents
    ajv(df, "k", df, "k", broadcast_dim=True)
    dedup.probe_index(df, df, df, df, "id", broadcast_new=False)
    snowy_json_spark.operators.uniqueness.duplicate_keys_hashed(df, ["k"], broadcast_limit=1)
    ajv(df, "k", df, "k", True, False)
    ajv(df, "k", df, "k", ignore_nulls=False)
    ajv(*args, **kw)
    curate_documents(df, "id", "text", min_words=3)

def g(df):
    from os.path import join as ajv
    ajv(df, broadcast_dim=1)
    curate_documents(df, nothing=1)
'''
    assert [(line, fn.rpartition(".")[2], why) for line, fn, why in _call_errors(src)] == [
        (8, "anti_join_violations", "no parameter broadcast_dim"),
        (9, "probe_index", "no parameter broadcast_new"),
        (10, "duplicate_keys_hashed", "no parameter broadcast_limit"),
        (11, "anti_join_violations", "6 positional arguments, takes 5"),
    ]
