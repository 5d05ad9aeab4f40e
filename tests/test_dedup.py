"""Dedup operator tests: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding cosine."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from snowy_json_spark.operators.dedup import (
    exact_dedup,
    exact_duplicate_groups,
    jaccard_pairs,
    lsh_candidate_pairs,
    minhash_near_duplicates,
    minhash_signatures,
    simhash_near_duplicates,
    simhash_signatures,
)
from snowy_json_spark.operators.similarity import cosine_near_duplicates

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    (3, "The quick  brown fox jumps over the lazy dog "),  # normalized dup
    (4, "the quick brown fox leaps over the lazy dog"),  # near dup
    (5, "completely different content about spark dataframes and shuffles"),
    (6, "another unrelated text mentioning parquet files and partitions"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


def test_exact_duplicate_groups(spark, docs):
    groups = exact_duplicate_groups(docs, "doc_id", "text").collect()
    assert len(groups) == 1
    assert groups[0]["doc_ids"] == [1, 2, 3]  # normalization folds 3 in


def test_exact_dedup_keeps_min_id(spark, docs):
    kept = {r["doc_id"] for r in exact_dedup(docs, "doc_id", "text").collect()}
    assert kept == {1, 4, 5, 6}


def test_minhash_signatures_shape(spark, docs):
    sigs = minhash_signatures(docs, "doc_id", "text", n_hashes=64).collect()
    assert len(sigs) == 6
    assert all(len(r["minhash"]) == 64 for r in sigs)
    by_id = {r["doc_id"]: r["minhash"] for r in sigs}
    assert by_id[1] == by_id[2]  # identical text → identical signature


#: sha256 over the sorted (doc_id, minhash) rows of ``docs`` (64 hashes,
#: seed 42, shingle_k 5), recorded before the unselected hash families
#: were deleted: persisted indexes stay probe-compatible only while
#: signatures stay bit-identical
GOLDEN_SIGNATURES = {
    "char": "85477d3f59789a521ecd1d6c6f7cceeb63777dd6892254d3ed73316c6095a44d",
    "word": "a014f00e437db8251e0ecb6df4fba0e5d78fe03fdbf6e7ae2bde37d8f25b0cec",
}


@pytest.mark.parametrize("mode", ["char", "word"])
def test_minhash_signatures_golden(spark, docs, mode):
    rows = minhash_signatures(docs, "doc_id", "text", 64, 5, mode, 42).collect()
    blob = repr(sorted((r["doc_id"], tuple(r["minhash"])) for r in rows))
    assert hashlib.sha256(blob.encode()).hexdigest() == GOLDEN_SIGNATURES[mode]


def test_minhash_near_duplicates(spark, docs):
    nd = minhash_near_duplicates(
        docs, "doc_id", "text", threshold=0.5, n_hashes=64, n_bands=16
    ).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in nd}
    assert (1, 2) in pairs and (1, 3) in pairs and (2, 3) in pairs
    assert (1, 4) in pairs  # near-dup caught
    assert all({a, b} <= {1, 2, 3, 4} for a, b in pairs)  # 5,6 unrelated


def test_jaccard_exact(spark, docs):
    jp = jaccard_pairs(docs, "doc_id", "text", shingle_k=5, min_jaccard=0.4)
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in jp.collect()}
    assert got[(1, 2)] == pytest.approx(1.0)
    assert got[(1, 3)] == pytest.approx(1.0)  # normalization
    assert 0.5 < got[(1, 4)] < 1.0
    assert (1, 5) not in got


def test_minhash_estimates_track_exact_jaccard(spark, docs):
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(docs, "doc_id", "text", min_jaccard=0.3).collect()
    }
    est = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_near_duplicates(
            docs, "doc_id", "text", threshold=0.0, n_hashes=128
        ).collect()
    }
    for pair, j in exact.items():
        if pair in est:
            assert est[pair] == pytest.approx(j, abs=0.15)


def test_simhash(spark, docs):
    sigs = {r["doc_id"]: r["simhash"] for r in simhash_signatures(docs, "doc_id", "text").collect()}
    assert sigs[1] == sigs[2] == sigs[3]
    # pigeonhole banding: every pair within the radius must be found
    # (one-word change in 9 words → expected Hamming ≈ 16 on 64 bits)
    nd = simhash_near_duplicates(docs, "doc_id", "text", max_hamming=16).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in nd}
    assert (1, 2) in pairs
    assert (1, 4) in pairs  # one-word change
    assert not any(5 in p or 6 in p for p in pairs if p != (5, 6))
    ham = {(r["id_a"], r["id_b"]): r["hamming"] for r in nd}
    assert ham[(1, 2)] == 0

    def hamming(a, b):
        return bin((sigs[a] ^ sigs[b]) & ((1 << 64) - 1)).count("1")

    assert hamming(1, 4) < hamming(1, 5)  # one-word change vs unrelated text


def test_simhash_matches_banding_guarantee(spark, docs):
    """Exact-duplicate recall must be perfect at any radius."""
    nd = simhash_near_duplicates(docs, "doc_id", "text", max_hamming=0).collect()
    pairs = {(r["id_a"], r["id_b"]) for r in nd}
    assert {(1, 2), (1, 3), (2, 3)} <= pairs


def test_cosine_near_duplicates(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.99, 0.05, 0.0, 0.0]),  # near 1
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [-1.0, 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    nd = cosine_near_duplicates(df, "vec_id", "embedding", threshold=0.95, dim=4)
    pairs = {(r["id_a"], r["id_b"]) for r in nd.collect()}
    assert pairs == {(1, 2)}


def test_lsh_shuffle_is_banded(spark, docs):
    # structural check: candidate generation never materializes the full
    # cross product — bucket rows are rows×bands
    sigs = minhash_signatures(docs, "doc_id", "text", n_hashes=64)
    pairs = lsh_candidate_pairs(sigs, "doc_id", n_bands=16, rows_per_band=4)
    assert pairs.count() <= 15  # ≤ C(6,2), and only colliding pairs


def test_cosine_banded_recall_and_bucket_shrink(spark):
    """Banded OR-amplification: recall vs brute force at θ=0.95 must
    hold while the max per-band-bucket row count drops vs the old
    single-bucket scheme (hot-bucket quadratic risk, round-2 finding)."""
    import numpy as np
    from pyspark.sql import functions as F

    from snowy_json_spark.operators.similarity import with_lsh_bucket

    rng = np.random.RandomState(7)
    dim = 16
    # clustered corpus: 3 tight clusters (hot in any coarse bucketing)
    centers = rng.standard_normal((3, dim))
    rows = []
    vid = 0
    for c in centers:
        for _ in range(60):
            v = c + 0.015 * rng.standard_normal(dim)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()

    # exact pairs at threshold (brute-force oracle, 180 rows)
    import itertools

    vecs = {i: np.array(v) for i, v in rows}
    exact = {
        (i, j)
        for i, j in itertools.combinations(sorted(vecs), 2)
        if float(vecs[i] @ vecs[j] / (np.linalg.norm(vecs[i]) * np.linalg.norm(vecs[j]))) >= 0.95
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_duplicates(
            df, "vec_id", "embedding", threshold=0.95, dim=dim
        ).collect()
    }
    assert got <= exact  # exact-cosine verification: no false positives
    recall = len(got) / max(len(exact), 1)
    assert recall >= 0.7, f"banded recall too low: {recall} ({len(got)}/{len(exact)})"

    # structural: max band-bucket occupancy < old single-10-bit-bucket occupancy
    old = with_lsh_bucket(df, "embedding", dim, 10, 42)
    old_max = old.groupBy("lsh_bucket").count().agg(F.max("count")).collect()[0][0]
    new = with_lsh_bucket(df, "embedding", dim, 48, 42)
    bands = new.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright(F.col("lsh_bucket"), i * 12)
                        .bitwiseAND(F.lit((1 << 12) - 1))
                        .alias("bbits"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("bk")
    )
    new_max = (
        bands.groupBy("bk.band", "bk.bbits").count().agg(F.max("count")).collect()[0][0]
    )
    assert new_max <= old_max


def test_cosine_bucket_cap_drops_hot_buckets(spark):
    """max_bucket_rows prunes oversized band-buckets; output stays a
    subset of the uncapped candidates."""
    rows = [(i, [1.0, 0.0, 0.0, float(i % 3) * 1e-4]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_duplicates(df, "vec_id", "embedding", threshold=0.99, dim=4).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in cosine_near_duplicates(
            df, "vec_id", "embedding", threshold=0.99, dim=4, max_bucket_rows=5
        ).collect()
    }
    assert capped <= uncapped
    assert len(capped) < len(uncapped)  # the 30-row hot bucket was pruned


def test_connected_components_merges_chains(spark):
    from snowy_json_spark.operators.dedup import (
        connected_components,
        dedup_representatives,
    )

    # two components: a 5-node path (worst case for label propagation —
    # needs several rounds) and a triangle; plus ids far apart
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12)],
        "id_a long, id_b long",
    )
    labels = {r["node"]: r["cluster"] for r in connected_components(pairs).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 12: 10}
    reps = {
        r["cluster"]: (r["keep_id"], r["n_members"])
        for r in dedup_representatives(connected_components(pairs)).collect()
    }
    assert reps == {1: (1, 5), 10: (10, 3)}


def test_near_dup_clusters_planted(spark):
    from snowy_json_spark.operators.dedup import near_dup_clusters

    rows = [
        (0, "alpha beta gamma delta epsilon zeta"),
        (1, "alpha beta gamma delta epsilon zeta"),   # dup of 0
        (2, "alpha beta gamma delta epsilon eta"),    # near-dup of 0/1 (J=5/7)
        (3, "totally different words entirely here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["cluster"]
        for r in near_dup_clusters(df, "doc_id", "text", min_jaccard=0.7).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0}  # 3 has no partner → absent


def test_connected_components_string_ids(spark):
    """URL-keyed pair graphs must cluster without numeric casts."""
    from snowy_json_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [("https://a.com/x", "https://b.com/y"), ("https://b.com/y", "https://c.com/z")],
        "id_a string, id_b string",
    )
    labels = {r["node"]: r["cluster"] for r in connected_components(pairs).collect()}
    assert labels == {
        "https://a.com/x": "https://a.com/x",
        "https://b.com/y": "https://a.com/x",
        "https://c.com/z": "https://a.com/x",
    }


def test_connected_components_nonconvergence_raises(spark):
    import pytest

    from snowy_json_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(10)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, max_iter=2)
    ok = connected_components(chain, max_iter=15)
    assert ok.select("cluster").distinct().count() == 1


# ---------------------------------------------------------------------------
# round-4: exact-verified full-corpus pipelines (the CORRECTNESS battery
# forms) — recall-1 margins pinned here so the oracle equality cannot
# silently depend on luck
# ---------------------------------------------------------------------------


def test_exact_jaccard_for_pairs_matches_selfjoin(spark, docs):
    """Per-pair array_intersect recount == explode-self-join jaccard."""
    from snowy_json_spark.operators.dedup import exact_jaccard_for_pairs

    ref = jaccard_pairs(docs, "doc_id", "text", shingle_k=5, mode="char")
    pairs = ref.select("id_a", "id_b")
    got = exact_jaccard_for_pairs(pairs, docs, "doc_id", "text", 5, "char")
    ref_m = {(r["id_a"], r["id_b"]): r["jaccard"] for r in ref.collect()}
    got_m = {(r["id_a"], r["id_b"]): r["jaccard"] for r in got.collect()}
    assert set(ref_m) == set(got_m)
    for k in ref_m:
        assert abs(ref_m[k] - got_m[k]) < 1e-12


def test_full_corpus_lsh_recall_is_one(spark):
    """Pins the measured property the battery oracles rely on: on the
    driver corpus, every exact char-5-Jaccard pair at the query
    threshold is recovered by the banded candidates — minhash 64×16 at
    J ≥ 0.5 (per-pair miss prob ≈ 2e-9 at the corpus's J ≥ 0.92) and
    char-feature simhash radius 8 at J ≥ 0.9 (true pairs measure
    Hamming ≤ 6, margin 2)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

    exact5 = jaccard_pairs(docs, "doc_id", "text", 5, "char", 0.5)
    exact = {(r["id_a"], r["id_b"]) for r in exact5.collect()}
    sigs = minhash_signatures(docs, "doc_id", "text", 64, 5, "char")
    cands = {
        (r["id_a"], r["id_b"])
        for r in lsh_candidate_pairs(sigs, "doc_id", 16, 4).collect()
    }
    assert exact <= cands, f"minhash banding missed {exact - cands}"

    exact9 = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(docs, "doc_id", "text", 5, "char", 0.9).collect()
    }
    sim = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_duplicates(
            docs, "doc_id", "text", max_hamming=8, feature="char"
        ).collect()
    }
    sim_pairs = {(a, b) for (a, b, _) in sim}
    assert exact9 <= sim_pairs, f"simhash banding missed {exact9 - sim_pairs}"
    true_h = [h for (a, b, h) in sim if (a, b) in exact9]
    assert max(true_h) <= 6, f"margin eroded: hamming {max(true_h)} > 6"


def test_simhash_bucket_cap_bounds_hot_bands(spark):
    """A pathological corpus (one boilerplate text repeated 60×, plus a
    planted near-dup pair of distinct text) stays bounded under
    max_bucket_rows: the 60-row hot buckets are pruned (candidates
    collapse from ~C(60,2) to the planted pair) while pairs colliding
    in small buckets survive."""
    boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit " * 5
    rows = [(i, boiler) for i in range(60)]
    rows += [
        (100, "a genuinely unique document about spark adaptive execution"),
        (101, "a genuinely unique document about spark adaptive executions"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = simhash_near_duplicates(
        df, "doc_id", "text", max_hamming=3, feature="char"
    )
    assert uncapped.count() >= 60 * 59 // 2
    capped = simhash_near_duplicates(
        df, "doc_id", "text", max_hamming=3, feature="char", max_bucket_rows=10
    )
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (100, 101) in got
    assert not any(a < 100 and b < 100 for a, b in got)


def test_fingerprint_candidate_pairs_guarantee(spark):
    """Winnowing guarantee: docs sharing a substring of length >=
    k+window-1 share a fingerprint; disjoint-alphabet docs share
    nothing."""
    from snowy_json_spark.operators.dedup import fingerprint_candidate_pairs

    shared = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, shared + " alpha tail one"),
        (2, shared + " beta tail two"),
        (3, "zzz qqq www eee rrr ttt yyy uuu iii ooo ppp"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r["id_a"], r["id_b"]): r["n_shared_fingerprints"]
           for r in fingerprint_candidate_pairs(df, "doc_id", "text").collect()}
    assert (1, 2) in got and got[(1, 2)] >= 1
    assert all(p == (1, 2) for p in got)


def test_fingerprint_candidates_bucket_cap(spark):
    """max_bucket_rows drops ubiquitous fingerprints before the
    self-join: pairs joined only by the hot snippet disappear."""
    from snowy_json_spark.operators.dedup import fingerprint_candidate_pairs

    hot = "cookie banner accept all cookies please"
    rows = [(i, hot + f" unique tail {chr(65 + i) * 6}") for i in range(8)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = fingerprint_candidate_pairs(df, "doc_id", "text").count()
    assert uncapped == 28  # all pairs share the hot prefix
    capped = fingerprint_candidate_pairs(
        df, "doc_id", "text", max_bucket_rows=3
    ).count()
    assert capped == 0


def test_minhash_bucket_cap_bounds_hot_bands(spark):
    """Pathological skew for the MinHash LSH family: one templated text
    repeated 80x collapses into a single (band, bucket) per band and
    would emit ~C(80,2) candidates per band; with max_bucket_rows the
    hot buckets are pruned, candidate output stays bounded, and a
    planted near-dup pair of distinct text still surfaces."""
    from snowy_json_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_near_duplicates,
        minhash_signatures,
    )

    boiler = "accept cookies to continue reading this page " * 4
    rows = [(i, boiler) for i in range(80)]
    rows += [
        (100, "the catalyst optimizer rewrites logical plans before execution"),
        (101, "the catalyst optimizer rewrites logical plans before executions"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(df, "doc_id", "text", n_hashes=32, shingle_k=5)
    uncapped = lsh_candidate_pairs(sigs, "doc_id", n_bands=8, rows_per_band=4)
    assert uncapped.count() >= 80 * 79 // 2
    capped = lsh_candidate_pairs(
        sigs, "doc_id", n_bands=8, rows_per_band=4, max_bucket_rows=10
    )
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert (100, 101) in got
    assert not any(a < 100 and b < 100 for a, b in got)
    # end-to-end: the near-dup pipeline accepts and applies the cap too
    nd = minhash_near_duplicates(
        df, "doc_id", "text", threshold=0.8, n_hashes=32, n_bands=8,
        max_bucket_rows=10,
    )
    nd_pairs = {(r["id_a"], r["id_b"]) for r in nd.collect()}
    assert (100, 101) in nd_pairs
    assert not any(a < 100 and b < 100 for a, b in nd_pairs)
