"""Streaming exact dedup with bounded state.

The batch dedup suite (operators/dedup.py) needs global state; the
streaming variant bounds it with a watermark:
``dropDuplicatesWithinWatermark`` keeps each content hash in state only
until the watermark passes its event time — at web-crawl scale the
state store holds one hash per document seen in the watermark window,
not the corpus.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import content_hash


def stream_exact_dedup(
    stream_df: DataFrame,
    ts_col: str,
    text_col: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Emit only the first occurrence of each normalized content hash
    within the watermark window."""
    hashed = stream_df.withColumn("_content_hash", content_hash(F.col(text_col)))
    return (
        hashed.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_content_hash"])
        .drop("_content_hash")
    )


def stream_url_dedup(
    stream_df: DataFrame,
    ts_col: str,
    url_col: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """First occurrence per canonical URL within the watermark — the
    streaming companion of ``urls.canonical_duplicate_groups`` for
    crawl-ingest: trivially-different variants of the same page (case,
    default port, fragment, tracking params, query order) arriving
    inside the window collapse onto one canonical key, so state holds
    one entry per canonical url per window.  URLs that fail to parse
    dedupe on their raw string (``coalesce``), never on a shared null.
    The output schema is the input plus a ``canonical_url`` column (the
    dedup key — kept because downstream joins/uniqueness want it);
    ``.drop("canonical_url")`` restores the input schema."""
    from ..operators.urls import canonicalize_url

    keyed = stream_df.withColumn(
        "canonical_url",
        F.coalesce(canonicalize_url(F.col(url_col)), F.col(url_col)),
    )
    return keyed.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["canonical_url"]
    )


def minhash_dedup_batch(
    id_col: str,
    text_col: str,
    index_dir: str,
    out_dir: str,
    threshold: float = 0.8,
    n_hashes: int = 128,
    n_bands: int = 16,
    shingle_k: int = 5,
    mode: str = "char",
    seed: int = 42,
    intra_batch: bool = True,
):
    """``foreachBatch`` callable for continuous near-dup-free ingestion:
    every micro-batch is probed against the persisted minhash index
    (``index_dir/{sigs,bands}`` parquet, batch-partitioned), surviving
    documents are appended to ``out_dir`` and their signatures to the
    index — so batch N+1 dedupes against everything batches 1..N kept.

    Semantics: a batch document is a duplicate when its
    signature-estimated Jaccard against an indexed document (or, with
    ``intra_batch``, a lower-id document of the same batch) reaches
    ``threshold``.  The streaming path decides on the ESTIMATE — the
    index stores 8·n_hashes bytes per document, never text, which is
    what makes a 10^12-doc index storable; pipelines wanting an exact
    recount keep the candidate pairs and verify downstream where the
    kept texts live (:func:`...operators.dedup.exact_jaccard_for_pairs`).
    Each probe broadcasts the batch side when Spark can size it within
    the broadcast threshold and shuffles otherwise
    (:func:`...operators.dedup.probe_index`).

    Failure semantics: every write is ``overwrite`` into a
    ``batch_id=N`` subdirectory, so a foreachBatch retry of the same
    epoch rewrites the same paths, and the index read is pinned to
    ``batch_id < N`` — a retry of epoch N therefore probes exactly the
    index state the first attempt saw instead of finding its own
    partial writes (which would drop every document as a
    self-duplicate).  Idempotent end-to-end, matching the
    manifest-resume design of the batch engine.  The index read uses
    partition discovery over the ``batch_id=`` layout; on a real
    deployment point ``index_dir`` at an Iceberg table and replace the
    per-batch overwrite with a transactional append.

    Index identity: the first batch stores ``index_dir/_identity.json``
    (hash family and signature parameters) before any index write; a
    batch whose parameters differ, or an index with signatures but no
    identity file (older code, maybe another hash family), raises
    ``ValueError`` instead of silently finding no duplicates."""
    from pyspark.errors import AnalysisException

    from ..operators.dedup import MINHASH_FAMILY, minhash_index, probe_index

    sigs_dir = f"{index_dir}/sigs"
    bands_dir = f"{index_dir}/bands"
    identity_path = f"{index_dir}/_identity.json"
    identity = dict(family=MINHASH_FAMILY, n_hashes=n_hashes, n_bands=n_bands,
                    shingle_k=shingle_k, mode=mode, seed=seed)

    def check_identity() -> None:
        if not os.path.exists(identity_path):
            if os.path.exists(sigs_dir):
                raise ValueError(
                    f"minhash index {index_dir} has signatures but no "
                    "_identity.json (built by older code, possibly under "
                    "another hash family); rebuild it"
                )
            os.makedirs(index_dir, exist_ok=True)
            with open(identity_path, "w") as f:
                json.dump(identity, f, sort_keys=True)
            return
        with open(identity_path) as f:
            stored = json.load(f)
        bad = [f"{k}: index {stored.get(k)!r}, batch {v!r}"
               for k, v in identity.items() if stored.get(k) != v]
        if bad:
            raise ValueError(f"minhash index {index_dir} has another identity "
                             f"({'; '.join(bad)}); its signatures cannot be probed")

    def fn(batch: DataFrame, batch_id: int) -> None:
        check_identity()
        spark = batch.sparkSession
        # every persist is released in the finally: a continuous
        # stream calls this once per epoch, and leaked cache entries
        # would fill executor storage monotonically
        cached = [batch.persist()]
        try:
            new_sigs, new_bands = minhash_index(
                batch, id_col, text_col, n_hashes, n_bands, shingle_k, mode, seed
            )
            cached.append(new_sigs.persist())
            cached.append(new_bands.persist())
            dup_sets = []
            if intra_batch:
                intra = probe_index(
                    new_sigs, new_bands, new_sigs, new_bands, id_col, threshold
                )
                dup_sets.append(
                    intra.filter(F.col("old_id") < F.col("new_id")).select("new_id")
                )
            try:
                # retry-idempotence: a foreachBatch re-run of epoch N
                # must not see the signatures N itself already wrote
                # (it would drop every kept doc as a self-duplicate and
                # overwrite good output with an empty batch), so the
                # index read is pinned to strictly-earlier batches.
                idx_sigs = (
                    spark.read.parquet(sigs_dir)
                    .filter(F.col("batch_id") < F.lit(batch_id))
                    .select(id_col, "minhash")
                )
                idx_bands = (
                    spark.read.parquet(bands_dir)
                    .filter(F.col("batch_id") < F.lit(batch_id))
                    .select(id_col, "band", "bucket")
                )
                cross = probe_index(
                    new_sigs, new_bands, idx_sigs, idx_bands, id_col, threshold
                )
                dup_sets.append(cross.select("new_id"))
            except AnalysisException:
                pass  # first batch: index does not exist yet
            survivors = batch
            if dup_sets:
                dups = dup_sets[0]
                for d in dup_sets[1:]:
                    dups = dups.unionAll(d)
                dups = dups.distinct().persist()
                cached.append(dups)
                survivors = batch.join(
                    dups, batch[id_col] == dups["new_id"], "left_anti"
                )
            survivors.write.mode("overwrite").parquet(f"{out_dir}/batch_id={batch_id}")
            keep_ids = survivors.select(id_col)
            new_sigs.join(keep_ids, id_col, "left_semi").write.mode(
                "overwrite"
            ).parquet(f"{sigs_dir}/batch_id={batch_id}")
            new_bands.join(keep_ids, id_col, "left_semi").write.mode(
                "overwrite"
            ).parquet(f"{bands_dir}/batch_id={batch_id}")
        finally:
            for df_ in cached:
                df_.unpersist()

    return fn


def stream_minhash_dedup(
    stream_df: DataFrame,
    id_col: str,
    text_col: str,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    **params,
):
    """Wire :func:`minhash_dedup_batch` into a writeStream with
    ``availableNow`` trigger (process everything available, then stop —
    the rerunnable crawl-ingest shape; pass ``trigger={'processingTime':
    '...'}`` via params for a continuous query)."""
    trigger = params.pop("trigger", {"availableNow": True})
    return (
        stream_df.writeStream.foreachBatch(
            minhash_dedup_batch(id_col, text_col, index_dir, out_dir, **params)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**trigger)
        .start()
    )
