"""No caller-set path selectors: the input picks the physical plan.

An operator with two physical paths selects between them from what it
can observe (an input's size or type, a session conf); it takes no
``impl=`` / ``*_impl=`` argument, no ``salt_col=`` naming the column
its buckets hash and no ``broadcast*=`` join-strategy switch or bound.  This walks the AST of every function (lambdas
included) under ``snowy_json_spark/`` and flags such parameters.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "snowy_json_spark"

FORBIDDEN = re.compile(r"^(impl|\w+_impl|salt_col|broadcast\w*)$")
# (file, function, parameter) left on purpose
ALLOWED: set[tuple[str, str, str]] = set()


def _params(node: ast.FunctionDef | ast.AsyncFunctionDef | ast.Lambda) -> list[str]:
    a = node.args
    names = [x.arg for x in a.posonlyargs + a.args + a.kwonlyargs]
    return names + [x.arg for x in (a.vararg, a.kwarg) if x is not None]


def _sites(source: str) -> list[tuple[int, str, str]]:
    """(line, function, parameter) of each forbidden parameter."""
    found = []
    for node in ast.walk(ast.parse(source)):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
            name = getattr(node, "name", "<lambda>")
            found += [(node.lineno, name, p) for p in _params(node) if FORBIDDEN.match(p)]
    return found


def _package_sites() -> list[tuple[str, int, str, str]]:
    return [
        (str(path.relative_to(ROOT)), line, fn, p)
        for path in sorted(PKG.rglob("*.py"))
        for line, fn, p in _sites(path.read_text())
    ]


def test_no_path_selector_parameters():
    new = [s for s in _package_sites() if (s[0], s[2], s[3]) not in ALLOWED]
    assert not new, "\n".join(
        f"{f}:{line} {fn}({p}=...): pick the path from the input, not a caller option"
        for f, line, fn, p in new
    )


def test_allowed_entries_still_exist():
    assert ALLOWED <= {(f, fn, p) for f, _, fn, p in _package_sites()}, "stale ALLOWED entry"


def test_lint_sees_each_parameter_shape():
    src = """
def a(df, impl="auto"): pass
def b(df, *, dedup_impl="auto"): pass
def c(df, salt_col=None): pass
async def d(impl, /): pass
f = lambda x, impl=None: x
def ok(df, implement=1, simple=2, salt_buckets=3, n_broadcasts=4): pass
def e(fact, dim, broadcast_dim=True): pass
def g(new, *, broadcast_new=True, broadcast_limit=10): pass
"""
    assert sorted((line, p) for line, _, p in _sites(src)) == [
        (2, "impl"), (3, "dedup_impl"), (4, "salt_col"), (5, "impl"), (6, "impl"),
        (8, "broadcast_dim"), (9, "broadcast_limit"), (9, "broadcast_new"),
    ]
