"""Tests for corpus-level repeated-paragraph removal (exact passage
dedup, Lee et al. 2022 keep-first semantics) and incremental
cross-corpus minhash dedup (index build + batch probe).

Reference parity: the reference engine has no passage/incremental
dedup — these are the training-data-pipeline extensions the graft
brief adds as first-class components alongside SURVEY.md §2.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from snowy_json_spark.operators.dedup import (
    band_keys,
    exact_jaccard_for_pairs,
    incremental_near_duplicates,
    lsh_candidate_pairs,
    minhash_index,
    minhash_signatures,
)
from snowy_json_spark.operators.text import (
    remove_repeated_paragraphs,
    repeated_paragraphs,
)
from snowy_json_spark.sources.tables import local_frame

SEP = "\n\n"


@pytest.fixture()
def para_docs(spark):
    """6 docs; 'common footer' in 5 of them, 'legal text' in 3,
    unique bodies everywhere; doc 5 is NULL text."""
    rows = [
        (0, SEP.join(["body zero", "common footer", "legal text"])),
        (1, SEP.join(["body one", "common footer"])),
        (2, SEP.join(["body two", "common footer", "legal text"])),
        (3, SEP.join(["common footer", "body three", "legal text"])),
        (4, SEP.join(["body four", "common footer"])),
        (5, None),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_repeated_paragraphs_frequency_and_first(para_docs):
    rep = repeated_paragraphs(para_docs, "text", 3, "doc_id").collect()
    by_freq = {r["doc_frequency"]: r for r in rep}
    assert set(by_freq) == {5, 3}
    footer = by_freq[5]
    assert (footer["first_id"], footer["first_pos"]) == (0, 1)
    legal = by_freq[3]
    assert (legal["first_id"], legal["first_pos"]) == (0, 2)


def test_remove_keep_first_retains_one_copy(para_docs):
    out = remove_repeated_paragraphs(
        para_docs, "text", 3, "doc_id", keep="first"
    ).orderBy("doc_id")
    rows = {r["doc_id"]: r for r in out.collect()}
    # doc 0 holds both first occurrences — untouched
    assert rows[0]["text"] == SEP.join(["body zero", "common footer", "legal text"])
    assert rows[0]["n_removed"] == 0
    # every other doc loses the repeated paragraphs, order/bytes kept
    assert rows[1]["text"] == "body one"
    assert rows[2]["text"] == "body two"
    assert rows[3]["text"] == "body three"
    assert rows[3]["n_paras"] == 3 and rows[3]["n_removed"] == 2
    assert rows[4]["text"] == "body four"
    # NULL passes through as NULL with zeroed counters
    assert rows[5]["text"] is None and rows[5]["n_paras"] == 0
    # exactly one copy of each repeated paragraph survives corpus-wide
    survivors = [r["text"] or "" for r in rows.values()]
    assert sum("common footer" in t for t in survivors) == 1
    assert sum("legal text" in t for t in survivors) == 1


def test_remove_keep_none_drops_all(para_docs):
    out = remove_repeated_paragraphs(para_docs, "text", 3, "doc_id", keep="none")
    rows = {r["doc_id"]: r for r in out.collect()}
    assert rows[0]["text"] == "body zero"
    assert rows[0]["n_removed"] == 2
    survivors = [r["text"] or "" for r in rows.values()]
    assert not any("common footer" in t for t in survivors)


def test_remove_all_paragraphs_yields_empty(spark):
    df = spark.createDataFrame(
        [(0, "same"), (1, "same"), (2, "same")], "doc_id long, text string"
    )
    out = remove_repeated_paragraphs(df, "text", 2, "doc_id", keep="none")
    assert {r["text"] for r in out.collect()} == {""}
    first = remove_repeated_paragraphs(df, "text", 2, "doc_id", keep="first")
    rows = {r["doc_id"]: r["text"] for r in first.collect()}
    assert rows == {0: "same", 1: "", 2: ""}


def test_remove_rejects_bad_keep(para_docs):
    with pytest.raises(ValueError, match="keep"):
        remove_repeated_paragraphs(para_docs, "text", 3, "doc_id", keep="last")


def test_band_keys_consistent_with_lsh_pairs(spark):
    """lsh_candidate_pairs == self-probe via band_keys: the refactor
    changed no semantics."""
    df = spark.createDataFrame(
        [(i, f"document number {i} with shared words " + "x" * (i % 3)) for i in range(12)]
        + [(100, "document number 3 with shared words ")],
        "doc_id long, text string",
    )
    sigs = minhash_signatures(df, "doc_id", "text", n_hashes=32, shingle_k=5)
    pairs = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(sigs, "doc_id", n_bands=8, rows_per_band=4).collect()
    }
    bk = band_keys(sigs, "doc_id", 8, 4)
    a = bk.select(F.col("doc_id").alias("id_a"), "band", "bucket")
    b = bk.select(F.col("doc_id").alias("id_b"), "band", "bucket")
    manual = {
        (r["id_a"], r["id_b"])
        for r in a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
        .collect()
    }
    assert pairs == manual


@pytest.fixture()
def split_corpus(spark):
    base = [
        (i, f"the quick brown fox number {i} jumps over the lazy dog wearing hat {i} "
             f"while reciting paragraph {i * 7} of the manual")
        for i in range(20)
    ]
    # JVM-side frames: Spark sizes them, so the batch probe can broadcast
    corpus = local_frame(spark, base, "doc_id long, text string")
    # new batch: 3 near-copies of corpus docs + 2 fresh docs
    new_rows = [
        (1000 + i, base[i][1] + " near copy suffix") for i in (2, 7, 11)
    ] + [
        (2000, "completely unrelated text about spark partitions and shuffles"),
        (2001, "another fresh document mentioning watermarks and state stores"),
    ]
    new = local_frame(spark, new_rows, "doc_id long, text string")
    return corpus, new


def test_incremental_probe_finds_planted_copies(split_corpus):
    corpus, new = split_corpus
    sigs, bands = minhash_index(corpus, "doc_id", "text", n_hashes=64, n_bands=32)
    got = incremental_near_duplicates(
        new, sigs, bands, "doc_id", "text",
        threshold=0.5, n_hashes=64, n_bands=32,
    )
    found = {(r["new_id"], r["old_id"]) for r in got.collect()}
    assert {(1002, 2), (1007, 7), (1011, 11)} <= found
    # fresh docs match nothing
    assert not any(n in (2000, 2001) for n, _ in found)


def test_incremental_matches_exact_cross_jaccard(split_corpus):
    """Probe + exact recount equals brute-force cross exact Jaccard —
    the oracle identity the driver battery checks at sf0.01."""
    corpus, new = split_corpus
    sigs, bands = minhash_index(corpus, "doc_id", "text", n_hashes=64, n_bands=32)
    cands = incremental_near_duplicates(
        new, sigs, bands, "doc_id", "text", threshold=0.3,
        n_hashes=64, n_bands=32,
    ).select(F.col("new_id").alias("id_a"), F.col("old_id").alias("id_b"))
    combined = corpus.unionAll(new)
    verified = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 6))
        for r in exact_jaccard_for_pairs(cands, combined, "doc_id", "text")
        .filter(F.col("jaccard") >= 0.8)
        .collect()
    }
    # brute force: every new × old pair
    brute_pairs = new.select(F.col("doc_id").alias("id_a")).crossJoin(
        corpus.select(F.col("doc_id").alias("id_b"))
    )
    brute = {
        (r["id_a"], r["id_b"], round(r["jaccard"], 6))
        for r in exact_jaccard_for_pairs(brute_pairs, combined, "doc_id", "text")
        .filter(F.col("jaccard") >= 0.8)
        .collect()
    }
    assert verified == brute


def test_incremental_no_broadcast_same_result(split_corpus, broadcast_threshold):
    """The batch is broadcast at the session threshold and shuffled at
    -1; both probes find the same pairs."""
    corpus, new = split_corpus
    sigs, bands = minhash_index(corpus, "doc_id", "text", n_hashes=64, n_bands=32)
    kw = dict(threshold=0.5, n_hashes=64, n_bands=32)

    def probe():
        out = incremental_near_duplicates(new, sigs, bands, "doc_id", "text", **kw)
        plan = out._jdf.queryExecution().sparkPlan().toString()
        return plan, {(r["new_id"], r["old_id"]) for r in out.collect()}

    bplan, a = probe()
    with broadcast_threshold(-1):
        splan, b = probe()
    assert "BroadcastHashJoin" in bplan and "BroadcastHashJoin" not in splan
    assert a == b and a


# ---------------------------------------------------------------------------
# streaming continuous-ingest dedup (foreachBatch + persisted index)
# ---------------------------------------------------------------------------


def _texts(n):
    # pairwise-dissimilar bodies: shared fragments only via the literal
    # word stem, J(i, j) ~ 0.08 — far under any threshold
    return [f"alpha{i} " * 10 + f"omega{i}" for i in range(n)]


def test_stream_minhash_dedup_across_batches(spark, tmp_path):
    from snowy_json_spark.streaming.dedup_stream import stream_minhash_dedup

    src, idx, out, chk = (str(tmp_path / d) for d in ("src", "idx", "out", "chk"))
    schema = "doc_id long, text string"
    texts = _texts(8)

    batch1 = [(i, texts[i]) for i in range(6)]
    # intra-batch duplicate: doc 50 repeats doc 2's text exactly
    batch1.append((50, texts[2]))
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode("append").parquet(src)
    q = stream_minhash_dedup(
        spark.readStream.schema(schema).parquet(src),
        "doc_id", "text", idx, out, chk,
        threshold=0.8, n_hashes=64, n_bands=32,
    )
    q.awaitTermination()
    ids1 = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert ids1 == set(range(6))  # 50 deduped intra-batch (higher id loses)

    # batch 2: exact copies of indexed docs + fresh docs
    batch2 = [(100, texts[1]), (101, texts[4]), (102, texts[6]), (103, texts[7])]
    spark.createDataFrame(batch2, schema).coalesce(1).write.mode("append").parquet(src)
    q2 = stream_minhash_dedup(
        spark.readStream.schema(schema).parquet(src),
        "doc_id", "text", idx, out, chk,
        threshold=0.8, n_hashes=64, n_bands=32,
    )
    q2.awaitTermination()
    ids_all = {r["doc_id"] for r in spark.read.parquet(out).collect()}
    assert ids_all == set(range(6)) | {102, 103}  # 100/101 matched the index

    # the index holds signatures for every survivor and nothing else
    sig_ids = {r["doc_id"] for r in spark.read.parquet(f"{idx}/sigs").collect()}
    assert sig_ids == ids_all


@pytest.mark.parametrize("changed", [{"n_hashes": 32}, {"seed": 7}], ids=["n_hashes", "seed"])
def test_minhash_dedup_batch_rejects_other_index_identity(spark, tmp_path, changed):
    """A batch whose signature parameters differ from the persisted
    index's would probe it and silently find nothing: it must raise,
    naming the mismatched field."""
    from snowy_json_spark.streaming.dedup_stream import minhash_dedup_batch

    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    schema = "doc_id long, text string"
    texts = _texts(4)
    params = dict(threshold=0.8, n_hashes=64, n_bands=16, seed=42)
    minhash_dedup_batch("doc_id", "text", idx, out, **params)(
        spark.createDataFrame([(i, texts[i]) for i in range(2)], schema), 0
    )
    assert (tmp_path / "idx" / "_identity.json").exists()
    batch2 = spark.createDataFrame([(10, texts[2]), (11, texts[3])], schema)
    with pytest.raises(ValueError, match=next(iter(changed))):
        minhash_dedup_batch("doc_id", "text", idx, out, **{**params, **changed})(batch2, 1)


def test_minhash_dedup_batch_rejects_index_without_identity(spark, tmp_path):
    """An index with signatures but no identity file predates the tag
    and may hold another hash family's signatures."""
    from snowy_json_spark.streaming.dedup_stream import minhash_dedup_batch

    idx, out = str(tmp_path / "idx"), str(tmp_path / "out")
    schema = "doc_id long, text string"
    batch = spark.createDataFrame([(1, _texts(1)[0])], schema)
    minhash_dedup_batch("doc_id", "text", idx, out, n_hashes=64, n_bands=16)(batch, 0)
    (tmp_path / "idx" / "_identity.json").unlink()
    with pytest.raises(ValueError, match="no _identity.json"):
        minhash_dedup_batch("doc_id", "text", idx, out, n_hashes=64, n_bands=16)(batch, 1)
