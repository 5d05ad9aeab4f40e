"""No pickled-RDD frames on the validation path.

``spark.createDataFrame(<python list>)`` parallelizes pickled rows and
maps them through a Python worker: one Spark job and a worker start for
a few bookkeeping rows, which used to cost the resume path more CPU
than validating its pending partitions.  Driver rows go through
``sources.tables.local_frame`` (Arrow → JVM) instead.

Two checks keep it that way: a dynamic one that runs every driver-rows
site of the engine under a ``createDataFrame`` that refuses Python
sequences, and a static one that flags any ``createDataFrame(`` call
whose data is a literal list, tuple, comprehension or generator in the
validation-path modules, including code the dynamic run does not reach.
"""

from __future__ import annotations

import ast
from collections.abc import Iterator
from pathlib import Path

import pytest
from pyspark.sql import SparkSession

from snowy_json_spark.engine import ValidationEngine
from snowy_json_spark.streaming.manifest import Manifest

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "snowy_json_spark"

SPEC = {
    "required": ["url"],
    "properties": {"url": {"type": "string", "pattern": "^https://"}},
    "x-table-checks": [
        {"id": "contract", "kind": "schema", "columns": {"url": "string", "gone": "int"}},
        {"id": "n_stats", "kind": "column_stats", "column": "n", "max_null_rate": 0.0},
    ],
}


@pytest.fixture
def pages(spark):
    return spark.sql(
        "SELECT * FROM VALUES "
        "('https://a/1', 'en', 1), ('http://a/2', 'en', NULL), "
        "('https://b/1', 'de', 2), ('https://c/1', 'fr', NULL) AS t(url, lang, n)"
    )


@pytest.fixture
def no_pickled_frames(monkeypatch):
    real = SparkSession.createDataFrame

    def guarded(self, data, *args, **kwargs):
        if isinstance(data, (list, tuple, Iterator)):
            raise AssertionError(
                f"createDataFrame from a Python {type(data).__name__}: "
                "pickled rows through a Python worker (use local_frame)"
            )
        return real(self, data, *args, **kwargs)

    monkeypatch.setattr(SparkSession, "createDataFrame", guarded)


def test_guard_refuses_python_rows(spark, no_pickled_frames):
    for data in ([("x",)], (("x",),), iter([("x",)])):
        with pytest.raises(AssertionError, match="pickled rows"):
            spark.createDataFrame(data, "a string")


def test_validation_path_builds_no_pickled_frames(spark, pages, tmp_path, no_pickled_frames):
    def engine():
        return ValidationEngine(SPEC, id_cols=["url"], partition_cols=["lang"])

    man = Manifest(str(tmp_path / "manifest"))
    assert man.read(spark).count() == 0  # empty path

    # first run over one partition: violation frames, verdict re-wrap, append
    first = engine().run(pages.filter("lang = 'en'"), manifest=man)
    ids = {r["constraint_id"] for r in first.table_violations.collect()}
    assert "#/x-table-checks/contract/gone" in ids
    assert "#/x-table-checks/n_stats/max_null_rate" in ids
    engine().write_results(first, str(tmp_path / "first"))

    # resume: skips 'en', validates the rest
    eng = engine()
    rest = eng.run_single_pass(pages, str(tmp_path / "rest"), manifest=man)
    assert rest.skipped_partitions == ["en"]
    assert sorted(r["lang"] for r in rest.verdicts.collect()) == ["de", "fr"]
    eng.write_results(rest, str(tmp_path / "rest"))

    # everything done: early exit, for both entry points
    for done in (
        engine().run(pages, manifest=man),
        engine().run_single_pass(pages, str(tmp_path / "done"), manifest=man),
    ):
        assert done.skipped_partitions == ["de", "en", "fr"]
        assert done.verdicts.count() == done.violations.count() == 0
        engine().write_results(done, str(tmp_path / "done"))

    man.append(spark, [{"partition_key": "xx", "lineage_hash": "h"}])
    assert man.read(spark).count() == 4


# --- static check -----------------------------------------------------------

LINTED = sorted(
    [
        PKG / "engine.py",
        PKG / "streaming" / "manifest.py",
        PKG / "operators" / "urls.py",
        PKG / "operators" / "text.py",
    ]
    + list((PKG / "plans").glob("*.py"))
    + list((PKG / "sources").glob("*.py"))
)
# (file, enclosing function) sites left on the pickled route on purpose
ALLOWED: set[tuple[str, str]] = set()
DRIVER_ROWS = (ast.List, ast.Tuple, ast.ListComp, ast.GeneratorExp)


def _pickled_sites(source: str) -> list[tuple[int, str]]:
    """(line, enclosing function) of each ``createDataFrame(`` call whose
    data is a literal list, tuple, list comprehension or generator."""
    found: list[tuple[int, str]] = []

    class Visitor(ast.NodeVisitor):
        def __init__(self):
            self.scope: list[str] = []

        def visit_FunctionDef(self, node):
            self.scope.append(node.name)
            self.generic_visit(node)
            self.scope.pop()

        visit_AsyncFunctionDef = visit_FunctionDef

        def visit_Call(self, node):
            f = node.func
            name = f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)
            data = node.args[0] if node.args else next(
                (k.value for k in node.keywords if k.arg == "data"), None
            )
            if name == "createDataFrame" and isinstance(data, DRIVER_ROWS):
                found.append((node.lineno, ".".join(self.scope) or "<module>"))
            self.generic_visit(node)

    Visitor().visit(ast.parse(source))
    return found


def _sites() -> list[tuple[str, int, str]]:
    """(file, line, enclosing function) over the linted modules."""
    return [
        (str(path.relative_to(ROOT)), line, scope)
        for path in LINTED
        for line, scope in _pickled_sites(path.read_text())
    ]


def test_no_new_pickled_frame_sites():
    new = [(f, line, fn) for f, line, fn in _sites() if (f, fn) not in ALLOWED]
    assert not new, "\n".join(
        f"{f}:{line} ({fn}): createDataFrame(<python rows>), use local_frame"
        for f, line, fn in new
    )


def test_allowed_sites_still_exist():
    assert ALLOWED <= {(f, fn) for f, _, fn in _sites()}, "stale ALLOWED entry"


def test_lint_sees_each_driver_rows_shape():
    src = """
def f(spark, xs, table):
    spark.createDataFrame([(1,)], "a int")
    spark.createDataFrame(((1,),), "a int")
    spark.createDataFrame([(x,) for x in xs], "a int")
    spark.createDataFrame(((x,) for x in xs), "a int")
    spark.createDataFrame(data=[(1,)], schema="a int")
    spark.createDataFrame(table, "a int")
"""
    assert [line for line, _ in _pickled_sites(src)] == [3, 4, 5, 6, 7]
    assert {scope for _, scope in _pickled_sites(src)} == {"f"}
