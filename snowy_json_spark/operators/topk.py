"""Skew-safe per-key top-k: domain caps without a hot window task.

No Snow analog — training-data-pipeline capability: corpus curation
caps how many documents any one domain may contribute (FineWeb-style
domain balancing), i.e. "keep the best ``k`` pages per host".  The
textbook worry is that ``row_number() OVER (PARTITION BY host ORDER BY
score)`` puts EVERY row of a hot host into one window task (a Zipfian
crawl puts 10^8 rows of one CDN host into a single sort, and AQE does
not split window partitions).

**Measured reality (scripts/bench_skew.py, SKEW_RESULT.json): Spark ≥
3.5 already fixes this for rank-limit filters.** The
``InferWindowGroupLimit`` optimizer rule rewrites
``row_number()/rank()/dense_rank() <= k`` into a ``WindowGroupLimit``
pair — a *Partial* map-side top-k before the shuffle and a *Final*
one after — so each mapper forwards at most ``k`` rows per key and
the hot host's reducer sees ≤ k·n_mappers rows, not 10^8.  On a
16M-row / 90%-hot corpus with 256-char payloads forced through the
window, the truly naive plan (rule disabled via
``spark.sql.optimizer.windowGroupLimitThreshold = -1``) takes 80.1 s
— one task sorting 14.4M wide rows — vs **5.4 s declarative window
(14.9×)** and **2.9 s explicit two-stage (27.4×)**.  On bare
metadata-width rows the ordering flips (window 2.4 s beats two-stage
7.4 s: the pruning happens in the same pass that reads the data,
while two-stage pays a full extra exchange) — the tradeoff is
row-width dependent, both are safe, and the unmitigated plan is the
only catastrophic one.

The plan picks its path from ``k`` and the session's
``spark.sql.optimizer.windowGroupLimitThreshold`` (default 1000); no
caller option selects it:

- ``k`` ≤ threshold: the plain declarative window.  The rule rewrites
  it, and tests pin ``WindowGroupLimit ... Partial`` into the physical
  plan, so a Spark upgrade that drops the rewrite fails a test rather
  than the cluster.
- ``k`` > threshold (or the rule disabled with ``-1``): the rule does
  not fire, and the plain window would be the unmitigated plan.  A
  probe on Spark 4.1.2 with the default threshold keeps the Partial
  limit at k = 5 and k = 1000 and drops it at k = 1001, so k = 1001
  would silently run the plan measured at 80.1 s above.  These ``k``
  take the explicit two-stage form: a stage-1 window over ``(key,
  pmod(xxhash64(<row content>), n_buckets))`` keeps each bucket's
  local top-k (correct because the global top-k is a subset of the
  union of bucket top-ks: any row beaten by ≥ k rows in its own bucket
  is beaten by ≥ k rows globally), and a stage-2 window over ``key``
  ranks the ≤ k·n_buckets survivors.  The bucket salt is
  :func:`~.uniqueness.content_salt`, the one
  :func:`~.uniqueness.duplicate_keys_salted` uses: a pure function of
  the row, so retried tasks re-derive the same buckets.

(The rule also leaves the limit out when the optimizer knows the input
is small: a plan over ``range(100)`` shows none at k = 998, where
every group is whole anyway.)  Ties are broken by the trailing
``order_by`` tiebreaker, so both paths are deterministic and
oracle-reproducible.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .uniqueness import content_salt

_GROUP_LIMIT_THRESHOLD = "spark.sql.optimizer.windowGroupLimitThreshold"


def top_k_per_key(
    df: DataFrame,
    key_col: str,
    order_by: list[Column],
    k: int,
    n_buckets: int = 64,
    rank_col: str | None = None,
) -> DataFrame:
    """The top ``k`` rows of every ``key_col`` group under
    ``order_by`` (pass explicit asc/desc Columns; a unique tiebreaker
    last makes results deterministic).

    One declarative window while ``k`` ≤ the session's
    ``spark.sql.optimizer.windowGroupLimitThreshold`` (Spark plans the
    map-side partial top-k); above it, a bucketed stage-1 local top-k
    over ``n_buckets`` content-hash buckets per key first (see module
    docstring).  With ``rank_col`` the final 1..k rank is kept."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    staged = df
    if k > int(df.sparkSession.conf.get(_GROUP_LIMIT_THRESHOLD)):
        w1 = Window.partitionBy(F.col(key_col), F.col("_tkb")).orderBy(*order_by)
        staged = (
            df.withColumn("_tkb", content_salt(df, n_buckets))
            .withColumn("_tkr", F.row_number().over(w1))
            .filter(F.col("_tkr") <= k)
            .drop("_tkr", "_tkb")
        )
    w2 = Window.partitionBy(F.col(key_col)).orderBy(*order_by)
    out = (
        staged.withColumn("_tkr", F.row_number().over(w2))
        .filter(F.col("_tkr") <= k)
    )
    if rank_col is not None:
        return out.withColumnRenamed("_tkr", rank_col)
    return out.drop("_tkr")


def domain_cap(
    df: DataFrame,
    url_col: str,
    score_col: str,
    max_per_host: int,
    id_col: str | None = None,
    n_buckets: int = 64,
) -> DataFrame:
    """Keep at most ``max_per_host`` documents per url host, preferring
    the highest ``score_col`` — the domain-balancing curation stage.
    ``id_col`` (recommended) breaks score ties deterministically."""
    from .urls import url_host

    order = [F.col(score_col).desc()]
    if id_col is not None:
        order.append(F.col(id_col).asc())
    with_host = df.withColumn("_tkh", url_host(F.col(url_col)))
    out = top_k_per_key(with_host, "_tkh", order, max_per_host, n_buckets=n_buckets)
    return out.drop("_tkh")
