"""IVF ANN: k-means coarse quantizer + cell probing."""

from __future__ import annotations

import numpy as np
import pytest

from snowy_json_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    train_ivf_centroids,
    with_ivf_cell,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


@pytest.fixture(scope="module")
def centroids(embeddings):
    return train_ivf_centroids(embeddings, "embedding", n_cells=8)


def test_cells_partition_the_table(spark, embeddings, centroids):
    celled = with_ivf_cell(embeddings, "embedding", centroids)
    counts = {r["ivf_cell"]: r["count"] for r in celled.groupBy("ivf_cell").count().collect()}
    assert sum(counts.values()) == 500
    assert len(counts) >= 4  # k-means actually spread the data
    assert max(counts.values()) < 500  # not one giant cell


def test_ivf_recall_beats_probe_fraction(spark, embeddings, centroids):
    celled = with_ivf_cell(embeddings, "embedding", centroids).cache()
    hits = scanned = 0
    queries = [list(r["embedding"]) for r in embeddings.take(5)]
    for q in queries:
        exact = {r["vec_id"] for r in brute_force_topk(embeddings, "embedding", q, k=5).collect()}
        approx = {
            r["vec_id"]
            for r in ivf_topk(celled, "embedding", q, centroids, k=5, n_probe=3).collect()
        }
        hits += len(exact & approx)
    recall = hits / 25
    # probing 3/8 cells scans ~40% of rows; recall must beat that baseline
    assert recall >= 0.5, f"IVF recall too low: {recall}"


def test_ivf_exact_when_probing_all_cells(spark, embeddings, centroids):
    celled = with_ivf_cell(embeddings, "embedding", centroids)
    q = list(embeddings.first()["embedding"])
    exact = [r["vec_id"] for r in brute_force_topk(embeddings, "embedding", q, k=5).collect()]
    full = [r["vec_id"] for r in ivf_topk(celled, "embedding", q, centroids, k=5, n_probe=8).collect()]
    assert full == exact


def _both_paths(monkeypatch, df, centroids):
    """(expr, arrow) cell frames: the 8-centroid fixture is under
    IVF_EXPR_MAX_CELLS; a threshold of 0 sends the same input down the
    Arrow UDF path."""
    import snowy_json_spark.operators.similarity as S

    expr = with_ivf_cell(df, "embedding", centroids)
    monkeypatch.setattr(S, "IVF_EXPR_MAX_CELLS", 0)
    arrow = with_ivf_cell(df, "embedding", centroids)
    monkeypatch.undo()
    assert "ArrowEvalPython" not in expr._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in arrow._jdf.queryExecution().executedPlan().toString()
    return expr, arrow


def test_arrow_cell_assignment_matches_expr(spark, embeddings, centroids, monkeypatch):
    """The Arrow argmax path must agree cell-for-cell with the tested
    Column-expression path (same argmin, same first-max tie-break)."""
    expr, arrow = _both_paths(monkeypatch, embeddings, centroids)
    e = {r["vec_id"]: r["ivf_cell"] for r in expr.collect()}
    a = {r["vec_id"]: r["ivf_cell"] for r in arrow.collect()}
    assert e == a


def test_expr_path_at_max_cells_matches_arrow(spark, embeddings, monkeypatch):
    """IVF_EXPR_MAX_CELLS centroids still take the Column path, and its
    plan grows linearly in the cell count: a chained running-best
    expression doubles with each cell and at 32 cells never finishes
    planning."""
    from snowy_json_spark.operators.similarity import IVF_EXPR_MAX_CELLS

    rows = embeddings.orderBy("vec_id").take(IVF_EXPR_MAX_CELLS)
    cents = np.array([r["embedding"] for r in rows], dtype=float)
    expr, arrow = _both_paths(monkeypatch, embeddings, cents)
    sizes = [
        len(with_ivf_cell(embeddings, "embedding", cents[:n])._jdf.queryExecution()
            .optimizedPlan().toString())
        for n in (8, 16, 32)
    ]
    assert sizes[2] < 5 * sizes[0], sizes
    e = {r["vec_id"]: r["ivf_cell"] for r in expr.collect()}
    assert e == {r["vec_id"]: r["ivf_cell"] for r in arrow.collect()}
    # each centroid is its own nearest cell
    assert [e[r["vec_id"]] for r in rows] == list(range(IVF_EXPR_MAX_CELLS))


def test_ivf_many_cells_bounded_plan_and_recall(spark, embeddings):
    """64 cells auto-selects the Arrow path: the plan stays bounded (one
    UDF eval instead of 64 chained dot products) and recall holds."""
    cents = train_ivf_centroids(embeddings, "embedding", n_cells=64)
    celled = with_ivf_cell(embeddings, "embedding", cents)  # 64 > 32 → arrow
    plan = celled._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan or "pythonUDF" in plan
    celled = celled.cache()
    hits = 0
    queries = [list(r["embedding"]) for r in embeddings.take(5)]
    for q in queries:
        exact = {r["vec_id"] for r in brute_force_topk(embeddings, "embedding", q, k=5).collect()}
        approx = {
            r["vec_id"]
            for r in ivf_topk(celled, "embedding", q, cents, k=5, n_probe=16).collect()
        }
        hits += len(exact & approx)
    assert hits / 25 >= 0.5, f"64-cell IVF recall too low: {hits / 25}"


def test_null_vectors_same_cell_both_impls(spark, centroids, monkeypatch):
    """Null vectors must get ivf_cell = -1 on BOTH paths so the
    partition key never depends on which path the cell count picked."""
    dim = centroids.shape[1]
    rows = [(1, [0.1] * dim), (2, None), (3, [0.9] * dim)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    expr, arrow = _both_paths(monkeypatch, df, centroids)
    e = {r["vec_id"]: r["ivf_cell"] for r in expr.collect()}
    a = {r["vec_id"]: r["ivf_cell"] for r in arrow.collect()}
    assert e == a
    assert e[2] == -1
