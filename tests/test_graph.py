"""PageRank + link extraction: hand-computed equality, plumbing."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from snowy_json_spark.operators.extract import extract_links
from snowy_json_spark.operators.graph import host_rank, page_rank


def _ref_pagerank(edges, n_iter, d=0.85):
    nodes = sorted({u for u, _ in edges} | {v for _, v in edges})
    deg = {}
    for u, _ in edges:
        deg[u] = deg.get(u, 0) + 1
    r = {n: 1.0 for n in nodes}
    for _ in range(n_iter):
        nxt = {n: 1.0 - d for n in nodes}
        for u, v in edges:
            nxt[v] += d * r[u] / deg[u]
        r = nxt
    return r


def test_page_rank_matches_reference(spark):
    edges = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c")]
    df = spark.createDataFrame(edges, "src string, dst string")
    for n_iter in (0, 1, 3, 10):
        got = {r["node"]: r["rank"]
               for r in page_rank(df, n_iter=n_iter, checkpoint_every=2).collect()}
        want = _ref_pagerank(edges, n_iter)
        assert set(got) == set(want)
        for n in want:
            assert got[n] == pytest.approx(want[n], rel=1e-10), (n, n_iter)
    # authority ordering: c (3 in-links) beats everyone; d (no in-links)
    # bottoms out at 1-d
    got = {r["node"]: r["rank"] for r in page_rank(df, n_iter=10).collect()}
    assert got["c"] == max(got.values())
    assert got["d"] == pytest.approx(0.15, rel=1e-10)


def test_page_rank_params_validated(spark):
    df = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError):
        page_rank(df, n_iter=-1)
    with pytest.raises(ValueError):
        page_rank(df, damping=1.5)


def test_extract_links_positions(spark):
    rows = [
        ("https://a.ex/p", b'<html><body><a href="https://b.ex/x">b</a> '
                           b"<a class='z' href='/rel'>r</a></body></html>"),
        ("https://c.ex/p", b"<html><body>no links</body></html>"),
        ("https://d.ex/p", None),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    got = extract_links(df).collect()
    assert [(r["src_url"], r["link_pos"], r["link"]) for r in got] == [
        ("https://a.ex/p", 0, "https://b.ex/x"),
        ("https://a.ex/p", 1, "/rel"),
    ]


def test_host_rank_end_to_end(spark):
    def page(src, targets):
        body = "".join(f'<a href="https://{t}/q">x</a>' for t in targets)
        return (f"https://{src}/p", f"<html><body>{body}</body></html>".encode())

    rows = [
        page("a.ex", ["b.ex", "c.ex"]),
        page("b.ex", ["c.ex"]),
        page("c.ex", ["a.ex", "c.ex"]),  # self-loop dropped
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    got = {r["node"]: r["rank"] for r in host_rank(df, n_iter=5).collect()}
    want = _ref_pagerank([("a.ex", "b.ex"), ("a.ex", "c.ex"),
                          ("b.ex", "c.ex"), ("c.ex", "a.ex")], 5)
    assert set(got) == set(want)
    for n in want:
        assert got[n] == pytest.approx(want[n], rel=1e-10)


def test_extract_links_quote_and_tag_precision(spark):
    """A URL containing the other quote char survives intact; tags
    merely STARTING with 'a' (or data-href attributes) are not
    anchors; <link href> IS extracted."""
    html = (b'<html><head><link rel="canon" href="https://c.ex/canon">'
            b"</head><body>"
            b'<a href="https://ex.com/o\'brien">q</a>'
            b'<article data-href="https://no.ex/1">t</article>'
            b"<audio data-href='https://no.ex/2'></audio>"
            b"</body></html>")
    df = spark.createDataFrame([("https://s.ex/p", html)],
                               "url string, html binary")
    got = [r["link"] for r in extract_links(df).orderBy("link_pos").collect()]
    assert got == ["https://c.ex/canon", "https://ex.com/o'brien"]


def test_pagerank_dangling_redistribution_conserves_mass(spark):
    """With redistribute_dangling, total rank is conserved at exactly N
    even when sinks exist (textbook semantics); the default path keeps
    the documented mass-shrinking form and ordering agrees with the
    redistributed one on this graph."""
    from pyspark.sql import functions as F

    from snowy_json_spark.operators.graph import page_rank

    # node 4 is a pure sink; 1->2->3->1 cycle feeds it
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 4), (2, 4)], "src long, dst long"
    )
    n = 4
    redis = page_rank(edges, n_iter=12, redistribute_dangling=True)
    total = redis.agg(F.sum("rank")).first()[0]
    assert abs(total - n) < 1e-9, f"rank mass not conserved: {total}"
    plain = page_rank(edges, n_iter=12)
    total_plain = plain.agg(F.sum("rank")).first()[0]
    assert total_plain < n  # dangling mass leaks by design
    order_r = [r["node"] for r in redis.orderBy(F.desc("rank"), "node").collect()]
    order_p = [r["node"] for r in plain.orderBy(F.desc("rank"), "node").collect()]
    assert order_r == order_p


def test_pagerank_redistribution_no_sinks_matches_default(spark):
    """On a sink-free graph the two forms are identical."""
    from snowy_json_spark.operators.graph import page_rank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1)], "src long, dst long"
    )
    a = {r["node"]: r["rank"] for r in page_rank(edges, n_iter=8).collect()}
    b = {
        r["node"]: r["rank"]
        for r in page_rank(edges, n_iter=8, redistribute_dangling=True).collect()
    }
    assert a.keys() == b.keys()
    for k in a:
        assert abs(a[k] - b[k]) < 1e-12


@pytest.mark.parametrize(
    "kwargs, warns",
    [({"checkpoint_every": 0}, True), ({"checkpoint_every": 4}, True), ({}, False)],
    ids=["explicit0", "explicit4", "default"],
)
def test_pagerank_redistribution_lineage_stays_linear(spark, kwargs, warns):
    """Regression (round-5 review): the redistribution path reads the
    previous ranks twice per iteration, which doubled the logical plan
    between checkpoints — with checkpoint_every=0 the plan grew 2^n.
    The per-iteration truncation keeps many iterations cheap.  It
    ignores checkpoint_every, so any explicit value (the default's 4
    included) warns and the default does not."""
    import warnings

    from pyspark.sql import functions as F

    from snowy_json_spark.operators.graph import page_rank

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (2, 4)], "src long, dst long"
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        out = page_rank(edges, n_iter=18, redistribute_dangling=True, **kwargs)
    ignored = [w for w in caught if "checkpoint_every is ignored" in str(w.message)]
    assert bool(ignored) == warns
    total = out.agg(F.sum("rank")).first()[0]
    assert abs(total - 4) < 1e-9
