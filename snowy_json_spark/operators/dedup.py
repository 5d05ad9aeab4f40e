"""Deduplication operators for large-scale training-data pipelines.

Five strategies, each scale-shaped for 10^12 rows:

- **exact**: hash-groupBy on a normalized content hash — one partial-agg
  shuffle keyed by the 64/128-bit hash, never by the text itself.
- **MinHash + LSH**: JVM-side normalization → shingling and splitmix64
  minhash signatures in one numpy-batched Arrow UDF → band/bucket
  explode → bucket-join for candidates.  Shuffle volume = rows × bands,
  each row a (bucket, id) pair — no quadratic pair materialization
  outside buckets.
- **SimHash**: 64-bit weighted-bit signature over JVM-side xxhash64
  word (or char-shingle) hashes, bit votes in numpy; banded by the
  pigeonhole rule, candidates verified by Hamming distance.
- **n-gram Jaccard**: exact similarity on candidate pairs via shingle
  explode + self-join (SQL-expressible, used as the DuckDB oracle for
  the approximate paths).
- **embedding cosine**: near-dup by cosine ≥ τ; brute-force within
  buckets, random-hyperplane LSH for the scale path
  (see :mod:`.similarity`).

MinHash and SimHash have one signature path each: signatures built with
equal parameters always probe each other.
"""

from __future__ import annotations

import zlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType

from ..sources.tables import broadcastable

_MERSENNE = (1 << 61) - 1

#: the one MinHash hash family (:func:`minhash_text_udf`); part of a
#: persisted index's identity, see :func:`minhash_index`
MINHASH_FAMILY = "splitmix64-v1"


def ensure_parallelism(df: DataFrame) -> DataFrame:
    """Round-robin repartition inputs that arrive with too few partitions
    (e.g. one small parquet file) before heavy per-row compute.

    A 10^12-row table already has thousands of splits — this is a no-op
    there (the check reads only plan metadata, no data)."""
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def normalized_text(col: Column) -> Column:
    """Lowercase, collapse whitespace — the usual near-exact normalizer."""
    return F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")


def content_hash(col: Column) -> Column:
    return F.xxhash64(normalized_text(col))


def exact_duplicate_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(content_hash, n_docs, doc_ids) for groups with >1 member.

    Shuffles only (hash, id) pairs; partial agg bounds map output."""
    return (
        df.select(F.col(id_col), content_hash(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
        .filter(F.col("n_docs") > 1)
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep the lowest-id row per content hash (deterministic winner)."""
    w_min = (
        df.select(F.col(id_col), content_hash(F.col(text_col)).alias("_ch"))
        .groupBy("_ch")
        .agg(F.min(id_col).alias(id_col))
    )
    return df.join(w_min, on=id_col, how="left_semi")


# ---------------------------------------------------------------------------
# shingling (shared by minhash / jaccard)
# ---------------------------------------------------------------------------


def shingles(col: Column, k: int = 5, mode: str = "char") -> Column:
    """Array of k-shingles (char k-grams or word k-grams), distinct."""
    if mode == "char":
        s = normalized_text(col)
        idx = F.sequence(F.lit(1), F.greatest(F.length(s) - (k - 1), F.lit(1)))
        return F.array_distinct(F.transform(idx, lambda i: s.substr(i, F.lit(k))))
    # empty tokens are dropped (text.words() parity); a whitespace-only
    # document yields an EMPTY shingle set, not [''] — keeps the DuckDB
    # jaccard oracle (which filters x <> '') and Spark in agreement
    words = F.filter(F.split(normalized_text(col), " "), lambda w: w != "")
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    grams = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)))
    return F.array_distinct(
        F.when(n > 0, grams).otherwise(F.array().cast("array<string>"))
    )


def shingle_hashes(col: Column, k: int = 5) -> Column:
    """JVM-side 64-bit hash per char k-shingle occurrence (no
    ``array_distinct``) — the per-feature input of char-feature SimHash
    (:func:`simhash_signatures`).  MinHash does not use it:
    :func:`minhash_text_udf` shingles and hashes in numpy."""
    s = normalized_text(col)
    idx = F.sequence(F.lit(1), F.greatest(F.length(s) - (k - 1), F.lit(1)))
    return F.transform(idx, lambda i: F.xxhash64(s.substr(i, F.lit(k))))


# ---------------------------------------------------------------------------
# MinHash signatures (numpy-batched pandas UDF, Arrow transfer)
# ---------------------------------------------------------------------------


def minhash_text_udf(n_hashes: int, shingle_k: int, mode: str, seed: int):
    """Shingling + minhash fully vectorized in numpy over *normalized
    text* (Arrow-batched).

    Char mode uses a k-byte FNV-style rolling hash built with k
    vectorized passes over the byte array (uint64 wraps are fine in
    numpy); word mode hashes whitespace tokens' k-grams with crc32.
    No per-element JVM work at all — Spark higher-order functions are
    CodegenFallback (interpreted), so this beats JVM-side shingling by
    ~5× on long documents.

    Hash family (:data:`MINHASH_FAMILY`): sig_i = min_j splitmix64(h_j +
    c_i) — the full avalanche finalizer over the gram hash offset by a
    distinct seeded odd constant per component; 5.6× cheaper per batch
    than the exact Mersenne (a·x+b) mod 2^61−1 family (r06).  A bare
    multiplicative family (min a_i·h mod 2^64) is 9× cheaper still but
    its per-component minima CORRELATE on templated corpora (4.7× the
    Mersenne family's candidate pair slots on 15k sf1.0 docs; splitmix64
    1.09×).  Estimator quality on 300-trial synthetic sets
    (OPTIMIZATION_r06.md): bias ≤0.008, sd at the binomial bound for
    J ∈ {0.5, 0.8, 0.92}.  Empty documents get 2^61−2 in every component.
    """
    # the multipliers are RandomState(seed)'s first draw: persisted
    # indexes depend on this exact sequence
    a64 = np.random.RandomState(seed).randint(1, _MERSENNE, size=n_hashes, dtype=np.int64)
    mult = ((a64.astype(np.uint64) << np.uint64(1)) | np.uint64(1))[:, None]
    mix1 = np.uint64(0xBF58476D1CE4E5B9)
    mix2 = np.uint64(0x94D049BB133111EB)
    s30, s27, s31 = np.uint64(30), np.uint64(27), np.uint64(31)
    fnv = np.uint64(1099511628211)
    mask32 = np.uint64(0xFFFFFFFF)
    empty = np.full(n_hashes, _MERSENNE - 1, dtype=np.int64).tolist()

    def gram_hashes(s: str) -> np.ndarray | None:
        if mode == "word":
            toks = [t for t in s.split(" ") if t]
            if len(toks) < 1:
                return None
            grams = [" ".join(toks[i : i + shingle_k]) for i in range(max(len(toks) - shingle_k + 1, 1))]
            # crc32: deterministic across workers (builtin hash() is
            # PYTHONHASHSEED-randomized — would break determinism)
            c = np.array([zlib.crc32(g.encode()) for g in grams], dtype=np.uint64)
            return c
        raw = s.encode("utf-8", "ignore")
        if len(raw) == 0:
            return None
        if len(raw) < shingle_k:
            raw = raw.ljust(shingle_k, b"\0")
        c = np.frombuffer(raw, dtype=np.uint8).astype(np.uint64)
        n = len(c) - shingle_k + 1
        h = np.zeros(n, dtype=np.uint64)
        for j in range(shingle_k):
            h = h * fnv + c[j : j + n]
        return h & mask32

    def batch(texts: pd.Series) -> pd.Series:
        out = []
        for s in texts:
            h = gram_hashes(s) if s is not None else None
            if h is None or len(h) == 0:
                out.append(empty)
                continue
            # (n_hashes, n_grams) stays L2-resident per row — a whole-batch
            # matrix measured 4-5× SLOWER (allocator/bandwidth pressure)
            m = h[None, :] + mult
            m ^= m >> s30
            m *= mix1
            m ^= m >> s27
            m *= mix2
            m ^= m >> s31
            out.append(m.min(axis=1).view(np.int64).tolist())
        return pd.Series(out)

    return F.pandas_udf(batch, ArrayType(LongType()))


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 128,
    shingle_k: int = 5,
    mode: str = "char",
    seed: int = 42,
) -> DataFrame:
    """(id, minhash): one n_hashes-long signature per document.

    Normalization runs JVM-side (scalar regexp, codegen); shingling and
    the signature run in one numpy batch UDF (:func:`minhash_text_udf`).
    Why this is the only path, measured at sf0.1 (5k docs, 64 hashes,
    16×4 bands, char-5, 4 cores): it verified the same 256 J ≥ 0.5 pairs
    as a Mersenne (a·x+b) mod 2^61−1 family with 1.6× fewer candidate
    slots (172,843 vs 278,581) and a ~9× cheaper warm signature stage
    (0.7 s vs 6.4-6.9 s); an xxhash64 pure-Column family emitted 126,203
    slots but its signature stage took 7.4-8.5 s (Spark's array
    higher-order functions are interpreted), for end-to-end verify runs
    within 4 % (median 52.6 s vs 50.5 s)."""
    udf = minhash_text_udf(n_hashes, shingle_k, mode, seed)
    return ensure_parallelism(df).select(
        F.col(id_col), udf(normalized_text(F.col(text_col))).alias("minhash")
    )


def band_keys(
    sigs: DataFrame, id_col: str, n_bands: int = 16, rows_per_band: int = 8
) -> DataFrame:
    """(id, band, bucket): each signature exploded to its n_bands LSH
    keys — the persistable probe index for incremental dedup (store it
    partitioned/bucketed by (band, bucket) so batch probes co-locate)."""
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.xxhash64(
                    F.slice(F.col("minhash"), i * rows_per_band + 1, rows_per_band)
                ).alias("bucket"),
            )
            for i in range(n_bands)
        ]
    )
    return sigs.select(F.col(id_col), F.explode(bands).alias("b")).select(
        F.col(id_col), F.col("b.band").alias("band"), F.col("b.bucket").alias("bucket")
    )


def lsh_candidate_pairs(
    sigs: DataFrame,
    id_col: str,
    n_bands: int = 16,
    rows_per_band: int = 8,
    max_bucket_rows: int | None = None,
) -> DataFrame:
    """Banded LSH: docs sharing any band bucket become candidate pairs.

    Explodes to n_bands rows per doc keyed by (band, bucket-hash), then
    **self-joins** on (band, bucket) with ``id_a < id_b``.  The join is
    the scale-safe plan: a hot bucket never has to fit in one
    ``collect_list`` buffer, AQE's skew-join splitting applies, and the
    whole pipeline stays in codegen.  Shuffle volume is rows×bands.

    AQE skew-split shares a hot bucket's *work* across tasks but cannot
    shrink its quadratic candidate *output*: a degenerate corpus
    (millions of near-empty or templated docs collapsing into one band
    bucket) still emits |bucket|²/2 pairs.  ``max_bucket_rows`` bounds
    that: buckets larger than the cap are dropped from candidate
    generation entirely (same policy as simhash/winnowing/cosine), so
    recall degrades in a DOCUMENTED way — a pair colliding only in
    dropped buckets is missed, but with n_bands independent bands the
    other bands usually recover it — instead of the output exploding.
    Docs in an over-cap bucket are near-identical by construction, so
    exact-hash dedup (``exact_duplicates``) upstream is the cheap
    companion that removes the degenerate mass before LSH runs."""
    exploded = band_keys(sigs, id_col, n_bands, rows_per_band)
    if max_bucket_rows is not None:
        # the capped plan reads `exploded` twice (bucket-size aggregate +
        # join); persist so a caller passing UNCACHED sigs does not
        # recompute the whole signature stage per read (r05 ADVICE).
        # Bounded state: rows × bands × ~24 B.  Never unpersisted — the
        # returned plan keeps referencing it lazily (module convention,
        # same as the sigs cache in minhash_near_duplicates).
        exploded = exploded.persist()
        keep = (
            exploded.groupBy("band", "bucket")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_bucket_rows)
            .select("band", "bucket")
        )
        exploded = exploded.join(keep, ["band", "bucket"])
    a = exploded.select(
        F.col(id_col).alias("id_a"), "band", "bucket"
    )
    b = exploded.select(
        F.col(id_col).alias("id_b"), "band", "bucket"
    )
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def _sig_eq_count(sig_a: Column, sig_b: Column) -> Column:
    """Count of equal components between two signature arrays.

    ``aggregate(zip_with(a, b, eq), 0, +)`` — one array allocation and
    one interpreted pass.  r06 measurement over 16.4M candidate pairs
    (sf1.0): 3.81 s vs 4.67 s for the previous
    ``size(filter(zip_with(...)))`` (two array allocations, two passes);
    an unrolled 64-term GetArrayItem sum was 36 s (falls out of
    whole-stage codegen), and position-tagged ``array_intersect`` 4.1 s.
    Same integer result in all variants."""
    return F.aggregate(
        F.zip_with(sig_a, sig_b, lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, x: acc + x,
    )


def estimated_jaccard(
    pairs: DataFrame, sigs: DataFrame, id_col: str
) -> DataFrame:
    """Signature-estimated Jaccard per candidate pair: fraction of equal
    minhash components (unbiased estimator)."""
    a = sigs.select(F.col(id_col).alias("id_a"), F.col("minhash").alias("sig_a"))
    b = sigs.select(F.col(id_col).alias("id_b"), F.col("minhash").alias("sig_b"))
    j = pairs.join(a, "id_a").join(b, "id_b")
    eq = _sig_eq_count(F.col("sig_a"), F.col("sig_b"))
    return j.select(
        "id_a",
        "id_b",
        (eq / F.size(F.col("sig_a"))).alias("est_jaccard"),
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    n_hashes: int = 128,
    n_bands: int = 16,
    shingle_k: int = 5,
    mode: str = "char",
    max_bucket_rows: int | None = None,
) -> DataFrame:
    """Full MinHash+LSH pipeline → (id_a, id_b, est_jaccard ≥ threshold)."""
    rows_per_band = n_hashes // n_bands
    sigs = minhash_signatures(df, id_col, text_col, n_hashes, shingle_k, mode).cache()
    pairs = lsh_candidate_pairs(sigs, id_col, n_bands, rows_per_band, max_bucket_rows)
    return estimated_jaccard(pairs, sigs, id_col).filter(
        F.col("est_jaccard") >= threshold
    )


def minhash_near_duplicates_prepass(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    n_hashes: int = 128,
    n_bands: int = 16,
    shingle_k: int = 5,
    mode: str = "char",
    max_bucket_rows: int | None = None,
) -> DataFrame:
    """MinHash+LSH near-dup pairs with the exact-hash dedup pre-pass the
    cap docstring (:func:`lsh_candidate_pairs`) prescribes: text-identical
    documents are collapsed to one representative per content hash BEFORE
    LSH, so the degenerate J=1.0 mass neither explodes band buckets nor
    pays the signature-array verify join (r05 judge finding: 72 % of the
    10M-row curation exhibit's wall and 29.9 GB shuffle were exact dups
    flowing through LSH, with ~1k of them MISSED in over-cap buckets).

    Output: (id_a, id_b, est_jaccard) — the union of
    - exact edges (group representative → member, est 1.0) for every
      text-identical duplicate, found by hash groupBy, never capped; and
    - LSH estimated-Jaccard pairs over the representatives.

    Connected components over this pair set equal those over
    :func:`minhash_near_duplicates` output whenever banding recall
    holds: identical normalized text ⇒ identical signature, so a
    member's LSH pairs are exactly its representative's, and the exact
    edges reconnect members to representatives with true J = 1 ≥ any
    threshold.  Where the two differ, the pre-pass is strictly better —
    a capped hot bucket can drop rep↔member pairs from the plain path
    but never from the groupBy.  (Shared xxhash64-collision caveat of
    :func:`exact_dedup`: p ≈ n²/2⁶⁵ of merging two distinct texts.)

    Scale shape: the pre-pass adds one partial-aggregated shuffle of
    (id, hash) pairs (16 B/row) plus a signature semi-join; it never
    shuffles text.  LSH then runs on distinct-text documents only — on
    dup-heavy corpora (web crawls run 20-50 % dups) every downstream
    byte count shrinks by the dup rate."""
    rows_per_band = n_hashes // n_bands
    ch_tbl = df.select(F.col(id_col), content_hash(F.col(text_col)).alias("_ch"))
    reps = ch_tbl.groupBy("_ch").agg(F.min(id_col).alias("_rep")).persist()
    exact_edges = (
        ch_tbl.join(reps, "_ch")
        .filter(F.col(id_col) != F.col("_rep"))
        .select(
            F.col("_rep").alias("id_a"),
            F.col(id_col).alias("id_b"),
            F.lit(1.0).alias("est_jaccard"),
        )
    )
    sigs = minhash_signatures(df, id_col, text_col, n_hashes, shingle_k, mode)
    rep_sigs = sigs.join(
        reps.select(F.col("_rep").alias(id_col)), id_col, "left_semi"
    ).cache()
    pairs = lsh_candidate_pairs(rep_sigs, id_col, n_bands, rows_per_band, max_bucket_rows)
    lsh = estimated_jaccard(pairs, rep_sigs, id_col).filter(
        F.col("est_jaccard") >= threshold
    )
    return lsh.unionByName(exact_edges)


# ---------------------------------------------------------------------------
# exact n-gram Jaccard (explode + self-join; the SQL-expressible oracle)
# ---------------------------------------------------------------------------


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 5,
    mode: str = "char",
    min_jaccard: float = 0.0,
) -> DataFrame:
    """Exact pairwise Jaccard over distinct shingles.

    Cost is |pairs sharing ≥1 shingle| — fine for oracle scales and for
    verifying candidates; the LSH path above is the 10^12-row strategy."""
    sh = df.select(
        F.col(id_col).alias("_id"),
        F.explode(shingles(F.col(text_col), shingle_k, mode)).alias("shingle"),
    ).distinct()
    sizes = sh.groupBy("_id").agg(F.count(F.lit(1)).alias("n_shingles"))
    a = sh.select(F.col("_id").alias("id_a"), "shingle")
    b = sh.select(F.col("_id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("_id").alias("id_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("_id").alias("id_b"), F.col("n_shingles").alias("n_b"))
    return (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= min_jaccard)
    )


def exact_jaccard_for_pairs(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str,
    text_col: str,
    shingle_k: int = 5,
    mode: str = "char",
) -> DataFrame:
    """Exact shingle-set Jaccard recount for an existing candidate-pair
    list — the production verify stage after any LSH candidate
    generator (minhash banding, simhash banding, cosine buckets).

    Unlike :func:`jaccard_pairs` (explode + shingle self-join, cost
    ``|pairs sharing a shingle|`` — quadratic in hot shingles), this is
    linear in ``|pairs|``: two hash joins attach each side's distinct
    shingle array, then ``array_intersect`` computes the overlap per
    row.  At 10^12 docs the candidate list is orders of magnitude
    smaller than the all-pairs space, so this is the verify plan that
    survives scale.  Output: (id_a, id_b, jaccard)."""
    sets = df.select(
        F.col(id_col).alias("_jid"),
        shingles(F.col(text_col), shingle_k, mode).alias("_sh"),
    )
    a = sets.select(F.col("_jid").alias("id_a"), F.col("_sh").alias("_sh_a"))
    b = sets.select(F.col("_jid").alias("id_b"), F.col("_sh").alias("_sh_b"))
    inter = F.size(F.array_intersect(F.col("_sh_a"), F.col("_sh_b")))
    union = F.size(F.col("_sh_a")) + F.size(F.col("_sh_b")) - inter
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.when(union > 0, inter / union).otherwise(F.lit(None)).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash64_udf():
    """numpy-batched SimHash: one matrix op per batch (a pure-Column
    version needs 64 aggregate passes, O(64·words))."""

    def batch(hash_arrays: pd.Series) -> pd.Series:
        out = np.zeros(len(hash_arrays), dtype=np.int64)
        for idx, arr in enumerate(hash_arrays):
            if arr is None or len(arr) == 0:
                continue
            h = np.asarray(arr, dtype=np.uint64)
            bits = (h[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & 1
            votes = (bits.astype(np.int64) * 2 - 1).sum(axis=0)
            sig = np.uint64(0)
            for i in np.nonzero(votes > 0)[0]:
                sig |= np.uint64(1) << np.uint64(i)
            out[idx] = sig.astype(np.int64)
        return pd.Series(out)

    return F.pandas_udf(batch, LongType())


def simhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    feature: str = "word",
    shingle_k: int = 5,
) -> DataFrame:
    """(id, simhash): JVM tokenize + xxhash64 per feature, per-doc hash
    arrays over Arrow, numpy bit votes (:func:`simhash64_udf`).
    Deterministic across workers and retries.

    The one path, kept because it measured fastest (5k docs × ~6 KB,
    min-of-3 warm, local[4]): 1.44 s against 1.70 s for a text-in numpy
    UDF that tokenized and FNV-hashed words in Python.  At WORD
    granularity the per-word JVM work is one xxhash64, so the
    interpreted higher-order-function overhead stays small (~1.2×, not
    the ~5× that char shingling pays in MinHash).

    ``feature`` picks the fingerprinted unit: ``word`` (default — one
    vote per word, cheapest) or ``char`` (one vote per char
    ``shingle_k``-gram — ~6× more features on prose, so the 64 bit
    votes are far more stable on SHORT documents: measured on the 500
    × ~300-char test corpus, true char-5-Jaccard ≥ 0.9 pairs span
    Hamming 0-9 under word features but 0-6 under char features)."""
    if feature == "char":
        hashes = shingle_hashes(F.col(text_col), shingle_k)
    else:
        words = F.filter(
            F.split(normalized_text(F.col(text_col)), " "), lambda w: w != ""
        )
        hashes = F.transform(words, lambda w: F.xxhash64(w))
    return ensure_parallelism(df).select(
        F.col(id_col), simhash64_udf()(hashes).alias("simhash")
    )


def hamming64(a: Column, b: Column) -> Column:
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    feature: str = "word",
    shingle_k: int = 5,
    max_bucket_rows: int | None = None,
) -> DataFrame:
    """Banded SimHash with the pigeonhole guarantee: the 64 bits are cut
    into ``max_hamming + 1`` equal-ish slices, so any pair within
    ``max_hamming`` Hamming distance agrees exactly on ≥1 slice and
    becomes a candidate (verified by exact Hamming afterwards).

    Round-1 used a fixed 4×16 banding, which only guarantees recall for
    Hamming ≤3 — larger radii silently missed pairs.  Scale note: wider
    radii mean narrower band keys (64/(h+1) bits) and therefore larger
    buckets; at web scale keep max_hamming ≤3-4 (13-16-bit keys), widen
    the fingerprint, or set ``max_bucket_rows``: band-buckets larger
    than the cap are dropped from candidate generation (the
    cosine_near_duplicates pattern), so a boilerplate-heavy corpus with
    one hot slice value degrades by DOCUMENTED recall — pairs colliding
    only in dropped buckets are missed, other slices can still recover
    them — instead of a quadratic self-join."""
    n_bands = max_hamming + 1
    bounds = [i * 64 // n_bands for i in range(n_bands + 1)]
    sigs = simhash_signatures(
        df, id_col, text_col, feature=feature, shingle_k=shingle_k
    ).cache()

    def band_key(i: int):
        width = bounds[i + 1] - bounds[i]
        if width >= 64:
            return F.col("simhash")
        return F.shiftright(F.col("simhash"), bounds[i]).bitwiseAND(
            F.lit((1 << width) - 1)
        )

    bands = F.array(
        *[
            F.struct(F.lit(i).alias("band"), band_key(i).alias("key"))
            for i in range(n_bands)
        ]
    )
    exploded = sigs.select(id_col, "simhash", F.explode(bands).alias("b")).select(
        id_col, "simhash", "b.band", "b.key"
    )
    if max_bucket_rows is not None:
        keep = (
            exploded.groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") <= max_bucket_rows)
            .select("band", "key")
        )
        exploded = exploded.join(keep, ["band", "key"])
    a = exploded.select(
        F.col(id_col).alias("id_a"), F.col("simhash").alias("sig_a"), "band", "key"
    )
    b = exploded.select(
        F.col(id_col).alias("id_b"), F.col("simhash").alias("sig_b"), "band", "key"
    )
    cands = (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
    )
    return cands.select(
        "id_a",
        "id_b",
        hamming64(F.col("sig_a"), F.col("sig_b")).alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


# ---------------------------------------------------------------------------
# near-dup clusters: candidate pairs → connected components → keep-one
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
) -> DataFrame:
    """(node, cluster) labels for the pair graph: iterative min-label
    propagation (the GraphFrames/large-star idiom in plain DataFrames).

    Each iteration is ONE shuffle join (labels by neighbor) + one
    min-aggregation; convergence needs O(graph diameter) iterations —
    near-dup clusters are shallow (variants of one document), so 3-5
    rounds typical.  ``localCheckpoint`` truncates lineage per round so
    the plan doesn't grow with iterations.  The cluster id is the
    minimum member id under the id type's ordering (long doc ids,
    string urls — any orderable key) — deterministic, independent of
    partitioning.  Raises if labels have not stabilized after
    ``max_iter`` rounds (a silent truncation would split one component
    into several 'clusters'); raise ``max_iter`` for long chains."""
    edges = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    labels = (
        sym.select(F.col("src").alias("node"))
        .distinct()
        .select("node", F.col("node").alias("cluster"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        nbr = sym.join(
            labels.withColumnRenamed("node", "dst"), "dst"
        ).select(F.col("src").alias("node"), "cluster")
        new = (
            labels.union(nbr)
            .groupBy("node")
            .agg(F.min("cluster").alias("cluster"))
            .localCheckpoint()
        )
        changed = (
            new.join(labels.withColumnRenamed("cluster", "old"), "node")
            .filter(F.col("cluster") != F.col("old"))
            .count()
        )
        labels = new
        if changed == 0:
            return labels
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds "
        "(component diameter exceeds max_iter); raise max_iter"
    )


def near_dup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_jaccard: float = 0.8,
    shingle_k: int = 1,
    mode: str = "word",
    max_iter: int = 20,
) -> DataFrame:
    """(id, cluster) for every document in some near-dup cluster:
    exact-Jaccard pairs → connected components.  Documents with no
    near-dup partner are absent (they keep themselves trivially).
    Candidate-verification scale only (jaccard_pairs is the exact
    verifier); at corpus scale feed ``minhash_near_duplicates`` output
    into :func:`connected_components` instead."""
    pairs = jaccard_pairs(
        df, id_col, text_col, shingle_k=shingle_k, mode=mode, min_jaccard=min_jaccard
    )
    return connected_components(pairs, max_iter=max_iter).select(
        F.col("node").alias(id_col), "cluster"
    )


def dedup_representatives(labels: DataFrame) -> DataFrame:
    """One row per cluster: the representative (minimum id) to KEEP;
    every other member is a droppable duplicate."""
    return labels.groupBy("cluster").agg(
        F.min("node").alias("keep_id"), F.count(F.lit(1)).alias("n_members")
    )


# ---------------------------------------------------------------------------
# incremental (cross-corpus) near-dup: probe a new batch against a
# persisted signature index — the continuous-crawl ingestion pattern
# ---------------------------------------------------------------------------


def minhash_index(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 128,
    n_bands: int = 16,
    shingle_k: int = 5,
    mode: str = "char",
    seed: int = 42,
) -> tuple[DataFrame, DataFrame]:
    """Build the persistable dedup index for a corpus: ``(sigs, bands)``.

    ``sigs`` is (id, minhash) — one row per document, n_hashes longs;
    ``bands`` is (id, band, bucket) — n_bands rows per document, the LSH
    probe keys.  At corpus scale write ``bands`` partitioned by ``band``
    and bucketed by ``bucket`` so every future batch probe is a
    co-located join that never shuffles the index; append new batches
    with a plain union-write.

    Signatures are deterministic in (:data:`MINHASH_FAMILY`, n_hashes,
    shingle_k, mode, seed), and bands add n_bands: together they are
    the index identity, which must match at probe time — signatures of
    another family or parameter set share no components and silently
    find nothing.  :func:`...streaming.dedup_stream.minhash_dedup_batch`
    stores this identity with the index and checks it per batch."""
    sigs = minhash_signatures(df, id_col, text_col, n_hashes, shingle_k, mode, seed)
    bands = band_keys(sigs, id_col, n_bands, n_hashes // n_bands)
    return sigs, bands


def incremental_near_duplicates(
    new_df: DataFrame,
    index_sigs: DataFrame,
    index_bands: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    n_hashes: int = 128,
    n_bands: int = 16,
    shingle_k: int = 5,
    mode: str = "char",
    seed: int = 42,
) -> DataFrame:
    """(new_id, old_id, est_jaccard): new-batch documents whose
    signature-estimated Jaccard against some already-indexed document
    reaches ``threshold``.

    The scale shape is the whole point: the INDEX (10^12 rows of band
    keys) is never shuffled — the new batch's band keys (rows×n_bands,
    a day's crawl) are broadcast and the index streams through a
    map-side hash join; candidate pairs then fetch the two signatures
    with joins whose shuffle volume is ∝ candidates, not corpus.  A
    batch too large to broadcast, or one Spark cannot size, takes the
    shuffle join on (band, bucket) instead (see :func:`probe_index`),
    which a (band, bucket)-bucketed stored index makes one-sided again.

    The hash family (:data:`MINHASH_FAMILY`) and parameters must equal
    those used to build the index (the index identity, see
    :func:`minhash_index`); asymmetric outputs keep new/old roles —
    downstream keeps the OLD copy and drops the new one, making
    ingestion idempotent."""
    new_sigs, new_bands = minhash_index(
        new_df, id_col, text_col, n_hashes, n_bands, shingle_k, mode, seed
    )
    return probe_index(new_sigs, new_bands, index_sigs, index_bands, id_col, threshold)


def probe_index(
    new_sigs: DataFrame,
    new_bands: DataFrame,
    index_sigs: DataFrame,
    index_bands: DataFrame,
    id_col: str,
    threshold: float = 0.8,
) -> DataFrame:
    """Probe precomputed new-batch (sigs, bands) against the index —
    the signature-level half of :func:`incremental_near_duplicates`,
    exposed so callers that already hold the batch signatures (the
    streaming ingest loop, which must also append them to the index)
    compute them exactly once.

    Each broadcast hint is decided from the batch side alone
    (``sources.tables.broadcastable`` on the batch bands, then on the
    batch signatures), never from a join side the index inflates; a
    batch over the threshold, or one Spark cannot size, takes the
    shuffle joins."""
    probe = new_bands.select(
        F.col(id_col).alias("new_id"), "band", "bucket"
    )
    if broadcastable(probe):
        probe = F.broadcast(probe)
    cands = (
        index_bands.select(F.col(id_col).alias("old_id"), "band", "bucket")
        .join(probe, ["band", "bucket"])
        .select("new_id", "old_id")
        .distinct()
    )
    a = new_sigs.select(F.col(id_col).alias("new_id"), F.col("minhash").alias("sig_a"))
    b = index_sigs.select(F.col(id_col).alias("old_id"), F.col("minhash").alias("sig_b"))
    eq = _sig_eq_count(F.col("sig_a"), F.col("sig_b"))
    if broadcastable(a):
        # fetch sig_b by STREAMING the index through a broadcast hash
        # join of (candidates + sig_a) — without the hint the planner
        # sees only the index side's (large) size estimate and picks a
        # sort-merge join that shuffles every index signature (r06
        # measurement: a 10M-doc index's 5.2 GB sig table was shuffled
        # for 5k candidates).  Candidates are ∝ batch × collision rate,
        # so a batch small enough to broadcast bounds them too.
        joined = b.join(F.broadcast(cands.join(F.broadcast(a), "new_id")), "old_id")
    else:
        joined = cands.join(a, "new_id").join(b, "old_id")
    return (
        joined
        .select("new_id", "old_id", (eq / F.size(F.col("sig_a"))).alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


def fingerprint_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 7,
    window: int = 4,
    max_bucket_rows: int | None = None,
) -> DataFrame:
    """Winnowing-based near-dup candidates (the MOSS scheme,
    Schleimer et al. 2003): two documents sharing any substring of
    length ≥ k + window − 1 are GUARANTEED to share a winnowing
    fingerprint, so the banded self-join over fingerprints finds all
    such pairs without all-pairs comparison — the third LSH family
    next to MinHash (set overlap) and SimHash (vector angle), tuned
    for verbatim-passage reuse.

    Plan: fingerprints (pure Column) → explode → self-join on the
    64-bit fingerprint → distinct (a < b) pairs with the shared-
    fingerprint count.  Shuffle ∝ rows × fingerprints-per-doc.
    ``max_bucket_rows`` drops fingerprints shared by more documents
    than the cap BEFORE the self-join — the same hot-bucket guard as
    ``simhash_near_duplicates``: a boilerplate snippet on 10^6 pages
    would otherwise explode quadratically; pairs joined ONLY by such
    ubiquitous snippets are lost by documented recall, never by a
    runaway join."""
    from .text import winnowing_fingerprints

    fps = df.select(
        F.col(id_col),
        F.explode(
            winnowing_fingerprints(F.col(text_col), k=k, window=window)
        ).alias("fp"),
    )
    if max_bucket_rows is not None:
        sizes = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("_n"))
        fps = (
            fps.join(sizes.filter(F.col("_n") <= max_bucket_rows), "fp")
            .drop("_n")
        )
    a = fps.alias("a")
    b = fps.alias("b")
    return (
        a.join(b, (F.col("a.fp") == F.col("b.fp"))
               & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared_fingerprints"))
    )
