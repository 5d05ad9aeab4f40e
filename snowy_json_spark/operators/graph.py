"""Link-graph operators: PageRank over the crawl's host/page graph.

No Snow analog — training-data-pipeline capability: link-based
authority is a standard corpus-quality prior (Common Crawl publishes
harmonic-centrality/PageRank host ranks; curation pipelines weight or
threshold documents by their host's rank).  This implements the
classic power iteration as pure DataFrame joins:

    rank_{t+1}(v) = (1 − d) + d · Σ_{(u,v) ∈ E} rank_t(u) / outdeg(u)

(the original unnormalized Google form; ranks sum to N under no
dangling nodes).  By default dangling mass (nodes with no out-edges)
is NOT redistributed — matching the common engine behavior — so
totals shrink slightly when sinks exist; comparative use (ranking,
thresholding) is unaffected and the fixed-count iteration stays
trivially oracle-replayable.  ``redistribute_dangling=True`` enables
textbook semantics: each iteration adds ``d · dangling_mass / N`` to
every node, conserving total rank at exactly N.  The extra cost is
one single-row aggregate per iteration (the dangling ranks sum,
crossJoined back — a 1-row broadcast nested loop) plus a per-iteration
localCheckpoint: the new plan reads the previous ranks twice
(contributions AND dangling sum), so lineage must be truncated every
round to stay linear rather than doubling.

Scale shape: per iteration ONE join edges⋈ranks on src (both sides
partitioned on the join key; the edge table's partitioning is reused
every iteration) and one partial-aggregating groupBy on dst.  Rank
state is 2 columns × N nodes — never materialized on the driver.
Lineage is truncated with ``localCheckpoint`` every few iterations,
the same pattern as ``dedup.connected_components``; iterations are a
fixed count (PageRank converges geometrically; fixed-n is the
reproducible form an oracle can replay).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def page_rank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    n_iter: int = 10,
    damping: float = 0.85,
    checkpoint_every: int | None = None,
    redistribute_dangling: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank; returns ``(node, rank)`` for every
    node appearing as source OR destination.  Duplicate edges count
    once each (pre-``distinct`` the frame for simple-graph semantics).
    Deterministic given the edge multiset — safe to oracle.

    With ``redistribute_dangling`` the rank held by sink nodes is
    spread uniformly each iteration (textbook semantics; total rank is
    conserved at N).  In that mode ``checkpoint_every`` is OVERRIDDEN:
    each iteration's plan reads the previous ranks twice (contributions
    + dangling mass), so lineage would double per round without a
    per-iteration ``localCheckpoint`` — iterations serialize through
    executor storage, a documented throughput cost vs the default
    every-``checkpoint_every`` truncation (default 4).  Any explicit
    ``checkpoint_every`` combined with ``redistribute_dangling`` warns,
    since it will not be honored."""
    if redistribute_dangling and checkpoint_every is not None:
        import warnings

        warnings.warn(
            "page_rank(redistribute_dangling=True) localCheckpoints every "
            "iteration; checkpoint_every is ignored in this mode",
            stacklevel=2,
        )
    if n_iter < 0:
        raise ValueError(f"n_iter must be >= 0, got {n_iter}")
    if not 0.0 <= damping <= 1.0:
        raise ValueError(f"damping must be in [0, 1], got {damping}")
    if checkpoint_every is None:
        checkpoint_every = 4
    e = edges.select(
        F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst")
    )
    nodes = (
        e.select(F.col("_src").alias("node"))
        .union(e.select(F.col("_dst").alias("node")))
        .distinct()
    )
    deg = (
        e.groupBy("_src").agg(F.count(F.lit(1)).alias("_deg"))
    )
    # pre-join the per-edge weight once: contribution factor 1/outdeg
    weighted = e.join(deg, "_src").select(
        "_src", "_dst", (F.lit(1.0) / F.col("_deg")).alias("_w")
    )
    weighted = weighted.persist()
    nodes = nodes.persist()
    dangling = None
    n_nodes = None
    if redistribute_dangling:
        # sink set: nodes with no out-edges — their rank would
        # otherwise leak out of the total each iteration
        dangling = nodes.join(
            deg, nodes["node"] == deg["_src"], "left_anti"
        ).persist()
        n_nodes = nodes.count()
    try:
        ranks = nodes.select("node", F.lit(1.0).alias("rank"))
        for i in range(n_iter):
            contribs = (
                weighted.join(ranks, weighted["_src"] == ranks["node"])
                .select(
                    F.col("_dst").alias("node"),
                    (F.col("rank") * F.col("_w")).alias("_c"),
                )
                .groupBy("node")
                .agg(F.sum("_c").alias("_in"))
            )
            base = nodes.join(contribs, "node", "left")
            if redistribute_dangling:
                # single-row aggregate, crossJoined (broadcast nested
                # loop over 1 row) — stays lazy, no driver sync
                dm = (
                    ranks.join(dangling, "node")
                    .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm"))
                )
                share = F.col("_dm") / F.lit(float(n_nodes))
                ranks = base.crossJoin(dm).select(
                    "node",
                    (
                        F.lit(1.0 - damping)
                        + F.lit(damping)
                        * (F.coalesce(F.col("_in"), F.lit(0.0)) + share)
                    ).alias("rank"),
                )
                # the new plan references the previous ranks TWICE
                # (contribs + dm), so lineage would double per
                # iteration; truncate every round to keep it linear
                ranks = ranks.localCheckpoint(eager=True)
                continue
            ranks = base.select(
                "node",
                (
                    F.lit(1.0 - damping)
                    + F.lit(damping) * F.coalesce(F.col("_in"), F.lit(0.0))
                ).alias("rank"),
            )
            if checkpoint_every and (i + 1) % checkpoint_every == 0:
                ranks = ranks.localCheckpoint(eager=True)
        # materialize BEFORE releasing the caches: the returned frame
        # must not lazily re-derive weighted/nodes (and, through them,
        # the whole upstream extraction) after they are unpersisted
        return ranks.localCheckpoint(eager=True)
    finally:
        weighted.unpersist()
        nodes.unpersist()
        if dangling is not None:
            dangling.unpersist()


def host_rank(
    pages: DataFrame,
    url_col: str = "url",
    html_col: str = "html",
    n_iter: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Host-level PageRank straight from pages: extract hrefs, map
    both endpoints to hosts, drop self-loops, dedupe to a simple host
    graph, iterate.  Returns ``(node, rank)`` over hosts — the
    quality prior a curation pipeline joins back on ``url_host``."""
    from .extract import extract_links
    from .urls import url_host

    links = extract_links(pages, url_col, html_col)
    edges = (
        links.select(
            url_host(F.col("src_url")).alias("src"),
            url_host(F.col("link")).alias("dst"),
        )
        .filter(
            F.col("src").isNotNull()
            & F.col("dst").isNotNull()
            & (F.col("src") != F.col("dst"))
        )
        .distinct()
    )
    return page_rank(edges, "src", "dst", n_iter=n_iter, damping=damping)
