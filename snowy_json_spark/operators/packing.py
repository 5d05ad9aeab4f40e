"""Sequence packing: turn a token-counted corpus into training rows.

No Snow analog — training-data-pipeline capability: an LLM trainer
consumes fixed-length context windows, so the corpus must be packed —
either **concat-and-chunk** (documents concatenated in a deterministic
order and split every ``ctx_len`` tokens, the GPT-style pretraining
layout; documents may straddle chunk boundaries) or **greedy first-fit
in order** (a document never splits; a new pack starts when the next
document would overflow, the SFT/eval layout).

Both are driven by a *shard* key so the plan is skew-safe by
construction at any corpus size: packing is sequential within a shard
(a window sort resp. one applyInPandas group) but shards are
independent, and with ``shard = pmod(xxhash64(id), n_shards)`` every
shard holds ~rows/n_shards documents regardless of how hot any
host/source is.  Choose ``n_shards`` so a shard's metadata fits a
task (10^12 docs / 10^6 shards = 10^6 docs·(id,t) per task ≈ 16 MB).
Packing is also *deterministic given (id order, shard fn)* — two runs
(or a resume) produce byte-identical pack assignments, which is what
makes a packed dataset reproducible and the DuckDB oracle able to
recompute it.

Only pack *metadata* moves here (id, token count); the actual token
concatenation is a later join of (shard, pack_id) → ordered ids
against the tokenized text, co-partitioned on the same shard key.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def shard_of(id_col: Column, n_shards: int) -> Column:
    """Deterministic shard assignment: ``pmod(xxhash64(id), n_shards)``.
    A pure key function (partitioning-independent), same contract as
    :func:`snowy_json_spark.operators.sampling.sample_bucket`."""
    return F.pmod(F.xxhash64(id_col), F.lit(n_shards)).cast("int")


def chunk_spans(
    df: DataFrame,
    id_col: str,
    token_col: str,
    ctx_len: int,
    shard_col: str | None = None,
    n_shards: int = 1024,
) -> DataFrame:
    """Concat-and-chunk packing metadata, pure Columns.

    Within each shard, documents are concatenated in ``id_col`` order
    and the stream is split every ``ctx_len`` tokens.  Emits one row
    per document: ``shard``, the id, ``n_tokens``, ``start_off``
    (token offset of the document's first token in the shard stream),
    ``first_chunk`` / ``last_chunk`` (0-based chunk indexes the
    document touches) and ``n_chunks`` spanned.  A single window
    cumulative sum per shard — no UDF, no driver loop; each shard's
    sort is one bounded task.

    Zero-token documents are assigned ``last_chunk = first_chunk``
    (they sit at a boundary, spanning one chunk and contributing no
    tokens); null token counts are rejected upstream — filter or
    coalesce before packing."""
    if ctx_len < 1:
        raise ValueError(f"ctx_len must be >= 1, got {ctx_len}")
    shard = (
        F.col(shard_col) if shard_col is not None else shard_of(F.col(id_col), n_shards)
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    )
    t = F.col(token_col).cast("long")
    out = (
        df.select(shard.alias("shard"), F.col(id_col), t.alias("n_tokens"))
        .withColumn("start_off", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .withColumn("first_chunk", (F.col("start_off") / ctx_len).cast("long"))
        .withColumn(
            "last_chunk",
            F.greatest(
                F.col("first_chunk"),
                ((F.col("start_off") + F.col("n_tokens") - 1) / ctx_len).cast("long"),
            ),
        )
        .withColumn("n_chunks", F.col("last_chunk") - F.col("first_chunk") + 1)
    )
    return out


def greedy_pack(
    df: DataFrame,
    id_col: str,
    token_col: str,
    ctx_len: int,
    shard_col: str | None = None,
    n_shards: int = 1024,
) -> DataFrame:
    """Greedy first-fit-in-order packing: documents never split.

    Within each shard, documents are visited in ``id_col`` order; a
    document joins the current pack if it fits, else it opens a new
    one (``acc + t > ctx_len → pack_id += 1``).  A document longer
    than ``ctx_len`` occupies a pack alone, flagged ``oversize`` (the
    caller truncates or routes it to chunking).  Emits one row per
    document: ``shard``, the id, ``n_tokens``, ``pack_id`` (0-based
    within shard), ``pack_off`` (token offset within its pack),
    ``oversize``.

    The fold is inherently sequential, so it runs as one
    ``applyInPandas`` group per shard — the shard key bounds group
    size exactly like :func:`chunk_spans`'s window sort, and only
    (id, token-count) metadata shuffles, never text."""
    if ctx_len < 1:
        raise ValueError(f"ctx_len must be >= 1, got {ctx_len}")
    shard = (
        F.col(shard_col) if shard_col is not None else shard_of(F.col(id_col), n_shards)
    )
    slim = df.select(
        shard.alias("shard"),
        F.col(id_col),
        F.col(token_col).cast("long").alias("n_tokens"),
    )
    id_field = slim.schema[id_col]
    out_schema = (
        f"shard int, {id_col} {id_field.dataType.simpleString()}, n_tokens long, "
        "pack_id long, pack_off long, oversize boolean"
    )

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        # the greedy fold, vectorized: each pack is the maximal run of
        # rows whose running token sum stays within ctx_len of the
        # pack's base, so every pack boundary is ONE searchsorted jump
        # into the cumulative sum — O(n_packs) python iterations, not
        # O(n_rows), with all per-row assignment done by numpy repeat.
        # Semantics identical to the row fold (pinned by
        # tests/test_packing.py::test_greedy_matches_reference_fold):
        # a document joins the current pack iff it fits, a document
        # longer than ctx_len occupies a pack alone.
        import numpy as np

        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        toks = pdf["n_tokens"].to_numpy(dtype="int64")
        n = len(toks)
        cs = toks.cumsum()
        starts = []
        start = 0
        while start < n:
            base = cs[start - 1] if start else 0
            j = int(np.searchsorted(cs, base + ctx_len, side="right"))
            if j <= start:  # first doc of the pack always joins
                j = start + 1
            starts.append(start)
            start = j
        starts_a = np.asarray(starts, dtype="int64")
        sizes = np.diff(np.append(starts_a, n))
        bases = np.where(starts_a > 0, cs[starts_a - 1], 0)
        pdf["pack_id"] = np.repeat(np.arange(len(starts_a)), sizes)
        prev = np.concatenate(([0], cs[:-1]))
        pdf["pack_off"] = prev - np.repeat(bases, sizes)
        pdf["oversize"] = toks > ctx_len
        return pdf

    return slim.groupBy("shard").applyInPandas(pack, out_schema)


def chunk_text(
    df: DataFrame,
    id_col: str,
    text_col: str,
    chunk_chars: int,
    overlap_chars: int = 0,
) -> DataFrame:
    """Per-document overlapping text chunks — the RAG/embedding-index
    layout (each chunk goes to the embedder; overlap keeps boundary
    context).  Pure Columns: ``sequence`` of start offsets stepped by
    ``chunk_chars − overlap_chars`` → explode → ``substring`` — no
    UDF, no shuffle; Catalyst keeps it in the scan's stage.

    Emits ``(id, chunk_index, start, chunk)``; the final chunk may be
    shorter, a start is never placed where it would only re-cover the
    previous chunk's overlap (iteration stops at
    ``len − overlap − 1``), and null/empty text yields no chunks."""
    if chunk_chars < 1:
        raise ValueError(f"chunk_chars must be >= 1, got {chunk_chars}")
    if not 0 <= overlap_chars < chunk_chars:
        raise ValueError(
            f"overlap_chars must be in [0, chunk_chars), got {overlap_chars}"
        )
    step = chunk_chars - overlap_chars
    t = F.col(text_col)
    starts = F.sequence(
        F.lit(0),
        F.greatest(F.length(t) - overlap_chars - 1, F.lit(0)),
        F.lit(step),
    )
    return (
        df.filter(F.length(t) > 0)
        .select(
            F.col(id_col),
            t.alias("_ct"),
            F.posexplode(starts).alias("chunk_index", "start"),
        )
        .select(
            id_col,
            "chunk_index",
            "start",
            F.substring(F.col("_ct"), F.col("start") + 1, chunk_chars).alias(
                "chunk"
            ),
        )
    )


def pack_utilization(packed: DataFrame, ctx_len: int) -> DataFrame:
    """Fill-rate summary of a :func:`greedy_pack` result: per shard,
    ``n_docs``, ``n_packs``, ``n_oversize`` and ``fill`` = packed
    tokens / (n_packs · ctx_len).  The number a curation run watches:
    fill dropping means the doc-length mix changed."""
    return (
        packed.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            (F.max("pack_id") + 1).alias("n_packs"),
            F.sum(F.col("oversize").cast("long")).alias("n_oversize"),
            F.round(
                F.sum("n_tokens") / ((F.max("pack_id") + 1) * F.lit(ctx_len)), 6
            ).alias("fill"),
        )
    )
