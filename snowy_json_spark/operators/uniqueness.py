"""Table-scope uniqueness checks.

Snow's `uniqueItems` (`keywords/UniqueItems.java:65-68`) lifted from
array scope to table scope (north rule: "uniqueness via salted
repartition + groupBy on url").

Scale design:
- The natural plan ``groupBy(key).count().filter(count > 1)`` is one
  hash-partial-aggregated shuffle: each map task emits one row per
  distinct key it saw, so shuffle volume is bounded by distinct keys,
  not input rows.  AQE's skew handling re-splits oversized reduce
  partitions at runtime.
- For *pathologically* hot keys (a single key with billions of
  duplicates — shuffle-partition-breaking) the salted two-stage variant
  pre-aggregates per (key, salt) so no reducer ever sees more than
  ~1/S of a hot key's rows.  The salt is deterministic
  (``pmod(xxhash64(...), S)``) — no ``rand()``, so retried tasks
  produce identical output (required for resumability / determinism).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructType, VariantType


def duplicate_keys(df: DataFrame, keys: list[str]) -> DataFrame:
    """Keys appearing more than once: (keys..., dup_count).

    Partial aggregation bounds the shuffle at one row per distinct key
    per map task."""
    return (
        df.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def _hashable(t: DataType) -> bool:
    """Spark refuses ``xxhash64`` over any type holding a map or a
    variant, however deeply nested."""
    if isinstance(t, (MapType, VariantType)):
        return False
    if isinstance(t, ArrayType):
        return _hashable(t.elementType)
    if isinstance(t, StructType):
        return all(_hashable(f.dataType) for f in t.fields)
    return True


def content_salt(df: DataFrame, n_buckets: int) -> Column:
    """``pmod(xxhash64(<every hashable column>), n_buckets)``: a bucket
    that is a pure function of ROW CONTENT, not of partition layout — a
    lost-executor re-shuffle or AQE repartition re-derives the identical
    salt, so retried tasks produce identical output.  Map and variant
    columns are left out of the hash."""
    cols = [F.col(f.name) for f in df.schema.fields if _hashable(f.dataType)]
    return F.pmod(F.xxhash64(*cols), F.lit(n_buckets))


def duplicate_keys_salted(
    df: DataFrame, keys: list[str], salt_buckets: int = 64
) -> DataFrame:
    """Two-stage salted variant for hot-key-skewed key columns.

    Stage 1 aggregates per (key, deterministic salt) — at most
    ``salt_buckets`` rows per key reach stage 2 regardless of how hot
    the key is.  Stage 2 sums the partial counts.  Identical output to
    :func:`duplicate_keys`.

    The salt is :func:`content_salt`.  Rows identical in every hashed
    column share a salt; harmless, since map-side partial aggregation
    already collapses them to one row per (key, salt) per task."""
    salt = content_salt(df, salt_buckets).alias("_salt")
    partial = (
        df.select(*keys, salt)
        .groupBy(*keys, "_salt")
        .agg(F.count(F.lit(1)).alias("_partial"))
    )
    return (
        partial.groupBy(*keys)
        .agg(F.sum("_partial").alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


#: above this candidate-hash count the stage-2 semi-join switches from
#: broadcast to shuffle: 10M × 8 B ≈ 80 MB is comfortably under Spark's
#: broadcast limits; beyond it a high-duplication corpus (web crawls run
#: 20-50% dups) would otherwise blow the driver / broadcast ceiling.
HASHED_BROADCAST_LIMIT = 10_000_000


def duplicate_keys_hashed(
    df: DataFrame,
    keys: list[str],
    n_rows: int | None = None,
) -> DataFrame:
    """Hash-first duplicate detection for wide/high-cardinality keys
    (e.g. urls): identical output to :func:`duplicate_keys`, a fraction
    of the shuffle bytes.

    Stage 1 shuffles only (xxhash64(keys), partial count) — 16 bytes a
    row instead of the full key string (~5× less shuffle IO on urls; at
    32M rows this shuffle was the measured non-scaling fraction of the
    single-pass job).  Stage 2 re-reads only rows whose hash is a
    duplicate candidate (plus a ~n²/2⁶⁴ sliver of hash collisions) and
    verifies on the true keys, so collisions can never produce a false
    duplicate.

    Join-strategy selection is data-driven.  A candidate hash is seen at
    least twice, so ``n_rows`` rows give at most ``n_rows // 2``
    candidates; within :data:`HASHED_BROADCAST_LIMIT` (read at call time)
    the candidate set is broadcast.  The engine passes the row total its
    collected verdicts hold, so it starts no job at plan time.  With
    ``n_rows`` unknown or above the bound, the candidate set is
    materialized once as a local checkpoint and counted, and the
    semi-join reads that checkpoint, broadcast only while the count stays
    within the limit; above it (web crawls run 20-50% dups) it degrades
    to a shuffle hash join instead of dying on the broadcast ceiling.
    Recomputing the candidates for the join instead was measured 30%
    slower (6M rows, limit 1000, local[2]).  The checkpoint belongs to
    the returned plan: Spark's context cleaner drops its blocks once that
    plan is garbage-collected, where a ``persist`` would stay cached for
    the session.  Unlike a cache, a lost executor's checkpoint blocks are
    not recomputed: the job reading them fails.  Leaving the join unhinted for AQE to size was measured
    slower (the planned SMJ materializes the probe side's full-key
    shuffle before AQE can convert, 201 s vs 110 s at 32M/local[4])."""
    h = F.xxhash64(*[F.col(k) for k in keys]).alias("_h")
    cand = (
        df.select(h)
        .groupBy("_h")
        .agg(F.count(F.lit(1)).alias("_c"))
        .filter(F.col("_c") > 1)
        .select("_h")
    )
    if n_rows is not None and n_rows // 2 <= HASHED_BROADCAST_LIMIT:
        cand_side = F.broadcast(cand)
    else:
        cand = cand.localCheckpoint()  # eager: one agg job, reused by the join
        n_cand = cand.count()
        cand_side = F.broadcast(cand) if n_cand <= HASHED_BROADCAST_LIMIT else cand.hint("shuffle_hash")
    cand_rows = df.select(*keys, h).join(cand_side, "_h")
    return (
        cand_rows.groupBy(*keys)
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


def uniqueness_violations(
    df: DataFrame, keys: list[str], constraint_id: str, n_rows: int | None = None
) -> DataFrame:
    """Violation rows in the engine's standard shape: one row per
    duplicated key value, found by :func:`duplicate_keys_hashed` (fewest
    shuffle bytes on string keys); ``n_rows``, ``df``'s row count when
    the caller already knows it, sizes the join without a job."""
    dups = duplicate_keys_hashed(df, keys, n_rows=n_rows)
    key_repr = F.concat_ws("|", *[F.col(k).cast("string") for k in keys])
    return dups.select(
        *keys,
        F.lit(constraint_id).alias("constraint_id"),
        F.lit("/" + ",".join(keys)).alias("instance_path"),
        F.concat(key_repr, F.lit(" x"), F.col("dup_count").cast("string")).alias(
            "observed_value"
        ),
    )


def distinct_rate(df: DataFrame, keys: list[str], exact: bool = False) -> DataFrame:
    """distinct/total ratio — quick uniqueness health metric.

    HLL-approximate by default (constant memory at any scale)."""
    key_cols = [F.col(k) for k in keys]
    distinct = (
        F.count_distinct(*key_cols) if exact else F.approx_count_distinct(F.concat_ws("", *key_cols))
    )
    return df.agg(
        F.count(F.lit(1)).alias("total_rows"),
        distinct.alias("distinct_keys"),
    ).select(
        "total_rows",
        "distinct_keys",
        (F.col("distinct_keys") / F.col("total_rows")).alias("distinct_rate"),
    )
