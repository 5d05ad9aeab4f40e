"""URL canonicalization + host utilities for web-page tables.

No Snow analog — training-data-pipeline capability for the north-star
input shape (Common-Crawl-style pages keyed on ``url``): the same page
commonly appears under trivially-different URLs (case-variant host,
explicit default port, fragment, tracking parameters, unsorted query),
so uniqueness/dedup on the raw string under-merges.  All pure
``pyspark.sql.functions`` Column expressions (whole-stage codegen,
no UDF):

- scheme + host lowercased (path/query case is significant, host isn't)
- explicit default port dropped (``:443`` for https, ``:80`` for http)
- fragment dropped
- tracking parameters dropped (utm_*, fbclid, gclid, msclkid)
- remaining query parameters sorted (order-insensitive equality)
- empty path normalized to ``/``

Hot-host handling: ``host_bucket`` gives a deterministic shuffle key
(``pmod(xxhash64(host), n)``) for salting host-skewed joins/groups —
same convention as the engine's url_bucket partition column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.tables import literal_array, local_frame

#: query parameter KEYS that never affect content identity (exact
#: match, except the utm_ family which matches by prefix — a bare
#: prefix match would wrongly drop e.g. refresh=1 under "fbclid").
#: Deliberately NOT included: "ref" — unlike the ad-click ids it is
#: content-significant on real sites (VCS web UIs use ?ref=<branch>,
#: CMSs use ?ref=<page>), so dropping it over-merges distinct pages
#: (round-3 ADVICE).  Callers who know their corpus can extend the
#: list via the ``tracking_keys`` parameter on the functions below.
TRACKING_KEYS = ("fbclid", "gclid", "msclkid")
TRACKING_PREFIXES = ("utm_",)


def url_host(col: Column) -> Column:
    """Lowercased host (authority minus userinfo/port)."""
    return F.lower(F.try_parse_url(col, F.lit("HOST")))


def _clean_query(
    col: Column,
    tracking_keys: tuple[str, ...] = TRACKING_KEYS,
    tracking_prefixes: tuple[str, ...] = TRACKING_PREFIXES,
) -> Column:
    """Sorted '&'-joined query with tracking params removed; null when
    nothing survives."""
    q = F.try_parse_url(col, F.lit("QUERY"))

    def is_tracking(p: Column) -> Column:
        key = F.substring_index(p, "=", 1)
        exact = F.array_contains(
            F.array(*[F.lit(k) for k in tracking_keys]), key
        )
        pref = F.exists(
            F.array(*[F.lit(t) for t in tracking_prefixes]),
            lambda t: key.startswith(t),
        )
        return exact | pref

    parts = F.filter(F.split(q, "&"), lambda p: (p != "") & ~is_tracking(p))
    joined = F.array_join(F.array_sort(parts), "&")
    return F.when(joined != "", joined)


def canonicalize_url(
    col: Column,
    tracking_keys: tuple[str, ...] = TRACKING_KEYS,
    tracking_prefixes: tuple[str, ...] = TRACKING_PREFIXES,
) -> Column:
    """Canonical form of an http(s) URL (see module docstring); null
    passes through as null, non-URL strings yield null host and are
    left to the caller's validity checks.  ``tracking_keys`` /
    ``tracking_prefixes`` let a caller opt in to corpus-specific
    parameters (e.g. add "ref" back for corpora where it IS a
    tracker)."""
    scheme = F.lower(F.try_parse_url(col, F.lit("PROTOCOL")))
    host = url_host(col)
    # parse_url HOST strips any port; recover NON-default ports from the
    # authority so :8080 stays distinct while :443/:80 normalize away
    auth = F.try_parse_url(col, F.lit("AUTHORITY"))
    port = F.regexp_extract(auth, r":(\d+)$", 1)
    is_default = ((scheme == "https") & (port == "443")) | (
        (scheme == "http") & (port == "80")
    )
    port_part = F.when(
        (port != "") & ~is_default, F.concat(F.lit(":"), port)
    ).otherwise(F.lit(""))
    path = F.try_parse_url(col, F.lit("PATH"))
    path = F.when((path.isNull()) | (path == ""), F.lit("/")).otherwise(path)
    q = _clean_query(col, tracking_keys, tracking_prefixes)
    base = F.concat(scheme, F.lit("://"), host, port_part, path)
    return F.when(
        col.isNotNull() & scheme.isNotNull() & host.isNotNull(),
        F.when(q.isNotNull(), F.concat(base, F.lit("?"), q)).otherwise(base),
    )


def host_bucket(col: Column, n_buckets: int = 1024) -> Column:
    """Deterministic host shuffle key for salting host-skewed work."""
    return F.pmod(F.xxhash64(url_host(col)), F.lit(n_buckets))


def with_canonical_url(
    df: DataFrame, url_col: str = "url", out_col: str = "canonical_url"
) -> DataFrame:
    return df.withColumn(out_col, canonicalize_url(F.col(url_col)))


def canonical_duplicate_groups(
    df: DataFrame, url_col: str = "url", min_count: int = 2
) -> DataFrame:
    """(canonical_url, n_variants): raw URLs that collapse to the same
    canonical form — partial-aggregated, shuffle rows ∝ distinct
    canonical urls."""
    return (
        with_canonical_url(df, url_col)
        .filter(F.col("canonical_url").isNotNull())
        .groupBy("canonical_url")
        .agg(F.count(F.lit(1)).alias("n_variants"))
        .filter(F.col("n_variants") >= min_count)
    )


# ---------------------------------------------------------------------------
# host blocklist filtering (UT1 / RefinedWeb-style URL filtering stage)
# ---------------------------------------------------------------------------

#: above this many blocked domains the literal zero-join expression is
#: replaced by an exploded broadcast join (same auto-select convention
#: as text.CONTAMINATION_LITERAL_MAX): real blocklists (UT1 adult ≈ 4M
#: domains) would otherwise bloat the codegen'd plan.
BLOCKLIST_LITERAL_MAX = 1_000


def host_suffixes(host: Column, max_labels: int = 10) -> Column:
    """All dot-suffixes of a host, most-specific first
    (``a.b.com → [a.b.com, b.com, com]``), capped at ``max_labels``
    trailing labels (hosts with absurd label counts are crawler noise;
    a registrable blocked domain is always in the trailing few).
    Null host → null."""
    labels = F.split(host, r"\.")
    total = F.size(labels)
    n = F.least(total, F.lit(max_labels))
    return F.when(
        host.isNotNull(),
        F.transform(
            F.sequence(n, F.lit(1), F.lit(-1)),
            lambda i: F.array_join(F.slice(labels, total - i + 1, i), "."),
        ),
    )


def blocked_domain_match(url: Column, blocked_domains: list[str]) -> Column:
    """Most-specific blocked domain the URL's host falls under (the
    host itself or any parent domain), null when allowed — the
    zero-join literal path: suffix generation + membership probe are
    one codegen'd Column expression, no shuffle, no UDF."""
    blocked = literal_array(sorted(set(blocked_domains)))
    matches = F.filter(
        host_suffixes(url_host(url)), lambda s: F.array_contains(blocked, s)
    )
    return F.try_element_at(matches, F.lit(1))


def flag_blocked_hosts(
    df: DataFrame,
    url_col: str,
    blocked: list[str] | DataFrame,
    out_col: str = "blocked_domain",
) -> DataFrame:
    """Input columns + ``out_col`` = the most-specific blocked domain
    the row's host falls under (exact host or subdomain suffix match,
    the UT1 blocklist convention), null when allowed.

    ``blocked`` is a domain list or a one-column ``domain`` DataFrame,
    and it picks the physical plan; both give the same column:

    - a list of at most :data:`BLOCKLIST_LITERAL_MAX` distinct domains:
      pure Column expression — zero joins, zero shuffle.
    - a longer list, or any DataFrame (never collected at plan time):
      per-URL suffixes explode (≤ ``max_labels`` rows per url,
      projected to the url column only — never the wide row) and
      broadcast-hash-join the blocklist; the most-specific match (min
      suffix position) per url left-joins back on the url string, so
      plan size and broadcast cost stay O(1) in corpus size and
      O(blocklist) only in the broadcast."""
    if isinstance(blocked, DataFrame):
        blocked_df = blocked.select(F.col(blocked.columns[0]).alias("_dom"))
    else:
        blocked = sorted(set(blocked))
        if len(blocked) <= BLOCKLIST_LITERAL_MAX:
            return df.withColumn(out_col, blocked_domain_match(F.col(url_col), blocked))
        blocked_df = local_frame(df.sparkSession, [(d,) for d in blocked], "_dom string")
    # no distinct on the probe side: urls are the (near-unique) corpus
    # key, so deduplicating them first would be a corpus-wide shuffle
    # for nothing — the post-join groupBy collapses any repeats, and it
    # only ever sees HIT rows (small by construction)
    suf = df.select(
        F.col(url_col).alias("_u"),
        F.posexplode(host_suffixes(url_host(F.col(url_col)))).alias("_pos", "_dom"),
    )
    hits = (
        suf.join(F.broadcast(blocked_df), "_dom")
        .groupBy("_u")
        .agg(F.min(F.struct("_pos", "_dom")).alias("_best"))
        .select("_u", F.col("_best._dom").alias(out_col))
    )
    out = df.join(hits, df[url_col] == hits["_u"], "left")
    return out.select(*[df[c] for c in df.columns], F.col(out_col))


def blocklist_filter(
    df: DataFrame,
    url_col: str,
    blocked: list[str] | DataFrame,
) -> DataFrame:
    """Rows whose host does NOT fall under any blocked domain — the
    URL-filtering curation stage (RefinedWeb §3.1 applies it before
    any text heuristic; cheap, catches whole bad sites at once)."""
    flagged = flag_blocked_hosts(df, url_col, blocked, "_blocked_dom")
    return flagged.filter(F.col("_blocked_dom").isNull()).drop("_blocked_dom")


# ---------------------------------------------------------------------------
# per-host corpus stats (skew-safe two-stage aggregation)
# ---------------------------------------------------------------------------


def host_stats(
    df: DataFrame, url_col: str, text_col: str, n_buckets: int = 64
) -> DataFrame:
    """Per-host corpus profile: ``(host, n_docs, n_urls, total_chars,
    mean_chars, n_null_text)``.

    Skew note, measured honestly (scripts/bench_skew.py): for THESE
    aggregates Catalyst already plans skew-safely — count/sum partials
    combine map-side, and a lone ``count_distinct`` two-phases keyed on
    (host, url), so the hot host's urls spread in phase 1 either way.
    The explicit ``(host, pmod(xxhash64(url), n_buckets))`` stage-1 key
    here is a structural guarantee rather than a speedup: reducer input
    stays ≤ rows/n_buckets per (host, bucket) REGARDLESS of the
    aggregate list, so extending this profile with a holistic aggregate
    (collect_set, exact percentile — which cannot two-phase) cannot
    recreate the hot-reducer.  ``n_urls`` stays EXACT through the split
    because the salt is a hash of the url itself: equal urls land in
    the same bucket, so per-bucket distinct sets are disjoint and their
    counts sum.  The windowed per-host top-k looked like the next
    skew case but measured as already-mitigated too (Spark ≥ 3.5's
    InferWindowGroupLimit) — see
    :mod:`snowy_json_spark.operators.topk` for that measurement and
    the structural fallback.
    ``mean_chars`` counts null text as 0 chars (matches
    ``n_null_text`` being reported alongside)."""
    stage1 = (
        df.select(
            url_host(F.col(url_col)).alias("host"),
            F.pmod(F.xxhash64(F.col(url_col)), F.lit(n_buckets)).alias("_b"),
            F.col(url_col).alias("_u"),
            F.col(text_col).alias("_t"),
        )
        .groupBy("host", "_b")
        .agg(
            F.count(F.lit(1)).alias("_n"),
            F.count_distinct("_u").alias("_nu"),
            F.sum(F.coalesce(F.length("_t"), F.lit(0))).alias("_chars"),
            F.sum(F.col("_t").isNull().cast("long")).alias("_nnull"),
        )
    )
    return stage1.groupBy("host").agg(
        F.sum("_n").alias("n_docs"),
        F.sum("_nu").alias("n_urls"),
        F.sum("_chars").alias("total_chars"),
        (F.sum("_chars") / F.sum("_n")).alias("mean_chars"),
        F.sum("_nnull").alias("n_null_text"),
    )
