"""ANN similarity, text analysis, and multimodal plumbing tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from snowy_json_spark.operators.multimodal import (
    extract_image_metadata,
    payload_stats,
    sample_frames,
)
from snowy_json_spark.operators.similarity import (
    brute_force_topk,
    lsh_topk,
    with_lsh_bucket,
)
from snowy_json_spark.operators.text import (
    detect_language,
    quality_score,
    regex_token_count,
    text_profile,
    token_count,
    winnowing_fingerprints,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_brute_force_topk(spark, embeddings):
    q = embeddings.first()["embedding"]
    top = brute_force_topk(embeddings, "embedding", list(q), k=5).collect()
    assert len(top) == 5
    # the query vector itself must rank first with cosine ≈ 1
    assert top[0]["cosine"] == pytest.approx(1.0, abs=1e-6)
    assert top[0]["cosine"] >= top[1]["cosine"] >= top[4]["cosine"]


def test_lsh_topk_recall(spark, embeddings):
    # sf embeddings are near-uniform random vectors — the hardest case
    # for cosine LSH (no cluster structure). planes=6/probes=16 gives
    # ~50% recall at ~25% candidate fraction; clustered real corpora do
    # far better at the same settings.
    dim = len(embeddings.first()["embedding"])
    bucketed = with_lsh_bucket(embeddings, "embedding", dim, n_planes=6).cache()
    hits = 0
    queries = [list(r["embedding"]) for r in embeddings.take(5)]
    for q in queries:
        exact = {r["vec_id"] for r in brute_force_topk(embeddings, "embedding", q, k=5).collect()}
        approx = {
            r["vec_id"]
            for r in lsh_topk(bucketed, "embedding", q, k=5, n_planes=6, n_probes=16).collect()
        }
        hits += len(exact & approx)
    recall = hits / 25
    assert recall >= 0.4, f"LSH recall too low: {recall}"


def test_lsh_prunes_candidates(spark, embeddings):
    dim = len(embeddings.first()["embedding"])
    bucketed = with_lsh_bucket(embeddings, "embedding", dim, n_planes=8)
    sizes = bucketed.groupBy("lsh_bucket").count().collect()
    assert len(sizes) > 10  # spread across buckets, not one giant bucket
    assert max(r["count"] for r in sizes) < 500


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


def test_token_counts(spark):
    df = spark.createDataFrame(
        [("hello world foo",), ("one",), ("",)], "t string"
    )
    got = df.select(
        token_count(F.col("t")).alias("n"), regex_token_count(F.col("t")).alias("r")
    ).collect()
    assert [r["n"] for r in got] == [3, 1, 0]
    assert got[0]["r"] == 3


def test_detect_language(spark):
    df = spark.createDataFrame(
        [
            ("the cat is on the table and it is not happy",),
            ("der hund ist in den garten und das ist auch nicht gut",),
            ("le chat est dans la maison et il est avec le chien",),
            ("el perro es un animal y la casa es de su familia",),
            ("xyzzy qwerty plugh",),
        ],
        "t string",
    )
    got = [r["lang"] for r in df.select(detect_language(F.col("t")).alias("lang")).collect()]
    assert got == ["en", "de", "fr", "es", "und"]


def test_quality_score_ordering(spark):
    good = "this is a well formed paragraph of text that has the right density " * 3
    bad = "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"
    df = spark.createDataFrame([(good,), (bad,)], "t string")
    got = [r["q"] for r in df.select(quality_score(F.col("t")).alias("q")).collect()]
    assert got[0] > got[1]
    assert 0.0 <= got[1] <= got[0] <= 1.0


def test_winnowing_fingerprints(spark):
    df = spark.createDataFrame(
        [("abcdefghijklmnop",), ("abcdefghijklmnop",), ("zzzzzzzzzzzzzzzz",), ("",)],
        "t string",
    )
    got = df.select(winnowing_fingerprints(F.col("t")).alias("fp")).collect()
    assert got[0]["fp"] == got[1]["fp"]  # deterministic
    assert got[0]["fp"] != got[2]["fp"]
    assert got[3]["fp"] == []


def test_text_profile_on_documents(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    prof = text_profile(docs, "text", "doc_id")
    row = prof.first()
    assert row["n_tokens"] > 0 and row["n_chars"] > 0
    assert prof.count() == 500


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def binary_df(spark):
    rows = [
        ("u1", b"fake image bytes 1" * 10),
        ("u2", b"fake image bytes 2" * 20),
        ("u3", b""),
        ("u4", None),
    ]
    return spark.createDataFrame(rows, "url string, html binary")


def _png(w, h):
    import struct

    return (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
            + struct.pack(">II", w, h) + b"\x08\x06\x00\x00\x00" + b"\x00" * 4)


def _gif(w, h):
    import struct

    return b"GIF89a" + struct.pack("<HH", w, h) + b"\xf7\x00\x00"


def _jpeg(w, h):
    import struct

    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    sof0 = b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", h, w) + b"\x01\x01\x11\x00"
    return b"\xff\xd8" + app0 + sof0 + b"\xff\xd9"


def _webp_vp8(w, h):
    import struct

    body = b"\x00\x00\x00" + b"\x9d\x01\x2a" + struct.pack("<HH", w, h)
    chunk = b"VP8 " + struct.pack("<I", len(body)) + body
    return b"RIFF" + struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


def test_parse_image_headers_real_bytes():
    from snowy_json_spark.operators.multimodal import parse_image_header

    assert parse_image_header(_png(640, 480)) == ("png", 640, 480)
    assert parse_image_header(_gif(37, 21)) == ("gif", 37, 21)
    assert parse_image_header(_jpeg(1920, 1080)) == ("jpeg", 1920, 1080)
    assert parse_image_header(_webp_vp8(320, 200)) == ("webp", 320, 200)
    import pytest as _pytest

    for junk in (b"", b"fake image bytes", b"\x89PNG\r\n\x1a\nIH",
                 b"\xff\xd8\xff\xd9", b"RIFF\x00\x00\x00\x00WAVE"):
        with _pytest.raises(ValueError):
            parse_image_header(junk)


def test_extract_image_metadata(spark):
    rows = [
        ("png", _png(640, 480)),
        ("gif", _gif(37, 21)),
        ("jpeg", _jpeg(1920, 1080)),
        ("webp", _webp_vp8(320, 200)),
        ("junk", b"fake image bytes " * 10),
        ("empty", b""),
        ("null", None),
    ]
    df = spark.createDataFrame(rows, "url string, html binary")
    by_url = {r["url"]: r for r in extract_image_metadata(df).collect()}
    assert (by_url["png"]["format"], by_url["png"]["width"], by_url["png"]["height"]) == ("png", 640, 480)
    assert (by_url["gif"]["format"], by_url["gif"]["width"], by_url["gif"]["height"]) == ("gif", 37, 21)
    assert (by_url["jpeg"]["format"], by_url["jpeg"]["width"], by_url["jpeg"]["height"]) == ("jpeg", 1920, 1080)
    assert (by_url["webp"]["format"], by_url["webp"]["width"], by_url["webp"]["height"]) == ("webp", 320, 200)
    # undecodable/empty/None payloads become error rows, not failures
    assert by_url["junk"]["format"] is None and by_url["junk"]["sha256"] is not None
    assert by_url["empty"]["format"] is None and by_url["empty"]["sha256"] is None
    assert by_url["null"]["format"] is None
    assert by_url["png"]["n_bytes"] == len(_png(640, 480))


def test_sample_frames_row_expansion(spark, binary_df):
    frames = sample_frames(binary_df, max_frames=4).collect()
    urls = {r["url"] for r in frames}
    assert urls == {"u1", "u2"}  # empty payloads produce no frames
    u1 = [r for r in frames if r["url"] == "u1"]
    assert 1 <= len(u1) <= 4
    assert all(len(r["frame"]) > 0 for r in u1)


def test_payload_stats(spark, binary_df):
    s = payload_stats(binary_df).collect()[0]
    assert s["n_rows"] == 4
    assert s["max_bytes"] == 360
    assert s["empty_rate"] == pytest.approx(1 / 3)  # of the 3 non-null


def test_gopher_flags_rules(spark):
    from snowy_json_spark.operators.text import gopher_filter, gopher_flags

    rows = [
        # keeps: 60 plain words incl. stopwords
        (1, "the quick brown fox jumps over the lazy dog and runs far " * 5),
        (2, "tiny doc"),  # fails word count
        (3, "the " + "pneumonoultramicroscopic supercalifragilistic " * 30),  # mean len
        (4, ("90210 12345 55555 00000 99999 " * 12) + "the be to"),  # alpha ratio
        (5, "the be to of " + "and that have with more words here now " * 5 + "wait... " * 20),  # ellipsis
        (6, "uno dos tres quatro cinco seis siete ocho nueve diez " * 6),  # no stopwords
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    g = gopher_flags(F.col("text"), min_words=20)
    got = {r["id"]: r["g"].asDict() for r in df.select("id", g.alias("g")).collect()}
    assert got[1]["keep"]
    assert not got[2]["word_count_ok"]
    assert not got[3]["mean_word_len_ok"]
    assert not got[4]["alpha_ratio_ok"]
    assert not got[5]["ellipsis_ok"]
    assert not got[6]["stopwords_ok"]
    kept = gopher_filter(df, "text", min_words=20).count()
    assert kept == 1


def test_knn_join_pruned_recall(spark, embeddings):
    """Pruned knn_join vs exact: the LSH probes must recover true
    neighbors far above the probed-fraction baseline (synthetic
    near-gaussian vectors are the adversarial case for hyperplane LSH —
    real clustered embeddings recall much higher), and emitted ranks
    never exceed k."""
    from snowy_json_spark.operators.similarity import knn_join

    n_planes = 6
    probed_fraction = (n_planes + 1) / 2**n_planes  # 7/64 of buckets
    exact = knn_join(embeddings, "vec_id", "embedding", k=3, n_planes=1)
    pruned = knn_join(embeddings, "vec_id", "embedding", k=3, n_planes=n_planes)
    t = {(r["src_id"], r["nbr_id"]) for r in exact.collect()}
    p = {(r["src_id"], r["nbr_id"]) for r in pruned.collect()}
    assert pruned.filter(F.col("rnk") > 3).count() == 0
    recall = len(t & p) / len(t)
    # random probing would land true neighbors at ~probed_fraction;
    # the sign-signature must do at least 2x better even here
    assert recall >= 2 * probed_fraction, (recall, probed_fraction)


def test_int8_quantization_roundtrip(spark, embeddings):
    from snowy_json_spark.operators.similarity import (
        cosine,
        dequantize_embedding,
        quantize_embedding,
    )

    q = quantize_embedding(F.col("embedding"))
    deq = dequantize_embedding(q)
    rows = (
        embeddings.limit(50)
        .select(
            q["scale"].alias("scale"),
            F.array_max(F.transform(q["q"], lambda x: F.abs(x))).alias("max_code"),
            cosine(F.col("embedding").cast("array<double>"), deq).alias("cos"),
        )
        .collect()
    )
    for r in rows:
        assert r["max_code"] <= 127
        assert r["cos"] > 0.999  # quantization noise, not distortion
        assert r["scale"] > 0


def test_quantization_zero_vector(spark):
    from snowy_json_spark.operators.similarity import (
        dequantize_embedding,
        quantize_embedding,
    )

    df = spark.createDataFrame([([0.0, 0.0, 0.0],)], "v array<double>")
    r = df.select(
        quantize_embedding(F.col("v")).alias("q")
    ).select(F.col("q.scale"), dequantize_embedding(F.col("q")).alias("d")).first()
    assert r["scale"] == 0.0
    assert r["d"] == [0.0, 0.0, 0.0]


def test_knn_join_empty_input(spark):
    from snowy_json_spark.operators.similarity import knn_join

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    out = knn_join(empty, "vec_id", "embedding", k=3)
    assert out.count() == 0
    assert out.columns == ["src_id", "nbr_id", "cosine", "rnk"]


def test_top_ngrams(spark):
    from snowy_json_spark.operators.text import top_ngrams

    rows = [
        (0, "the cat sat on the mat"),
        (1, "the cat ran to the mat"),
        (2, "a dog"),
        (3, "x"),  # single word: no bigrams
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = [(r["ngram"], r["n_occurrences"]) for r in
           top_ngrams(df, "text", n=2, k=3, min_count=2).collect()]
    assert got[0] == ("the cat", 2)
    assert ("the mat", 2) in got
    assert all(c >= 2 for _, c in got)


def test_contamination_flags(spark):
    from snowy_json_spark.operators.text import contamination_flags

    bench = ["the quick brown fox jumps", "paris is the capital of france"]
    rows = [
        (0, "we saw the quick brown fox jumps over things"),  # contaminated
        (1, "everyone knows paris is the capital of france obviously"),
        (2, "completely unrelated text about gardening and tools"),
        (3, "quick brown dogs"),  # shares words but no full trigram
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    g = contamination_flags(F.col("t"), bench, n=3, min_overlap=1)
    got = {r["id"]: r["g"].asDict() for r in df.select("id", g.alias("g")).collect()}
    assert got[0]["contaminated"] and got[0]["n_overlap"] == 3
    assert got[1]["contaminated"]
    assert not got[2]["contaminated"] and got[2]["n_overlap"] == 0
    assert not got[3]["contaminated"]


def test_contamination_counts_join_matches_literal(spark, monkeypatch):
    """The broadcast-join path must produce identical (n_overlap,
    contaminated) to the literal-array path on the same corpus; a
    threshold of 0 n-grams sends the same benchmark down the join."""
    import snowy_json_spark.operators.text as T
    from snowy_json_spark.operators.text import contamination_counts

    bench = ["the quick brown fox jumps", "paris is the capital of france"]
    rows = [
        (0, "we saw the quick brown fox jumps over things"),
        (1, "everyone knows paris is the capital of france obviously"),
        (2, "completely unrelated text about gardening and tools"),
        (3, "quick brown dogs"),
        (4, None),  # NULL text → overlap 0 on both paths
        (5, "the quick brown fox jumps the quick brown fox jumps"),  # dup grams
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    lit_df = contamination_counts(df, "id", "t", bench)
    monkeypatch.setattr(T, "CONTAMINATION_LITERAL_MAX", 0)
    join_df = contamination_counts(df, "id", "t", bench)
    assert "Join" not in lit_df._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" in join_df._jdf.queryExecution().optimizedPlan().toString()
    lit = {r["id"]: (r["n_overlap"], r["contaminated"]) for r in lit_df.collect()}
    join = {r["id"]: (r["n_overlap"], r["contaminated"]) for r in join_df.collect()}
    assert lit == join
    assert lit[0] == (3, True)
    assert lit[4] == (0, False)
    assert lit[5] == (3, True)  # distinct grams counted once


def test_contamination_auto_switch_bounds_plan_size(spark):
    """At 10^5 benchmark n-grams, auto must select the broadcast join
    and keep the serialized plan O(1) in the benchmark size (the
    literal path embeds every n-gram into the plan — round-3
    perf_weak)."""
    from snowy_json_spark.operators.text import (
        CONTAMINATION_LITERAL_MAX,
        contamination_counts,
    )

    big_bench = [
        " ".join(f"tok{i} tok{i+1} tok{i+2}" for i in range(j, 100_000, 1000))
        for j in range(1000)
    ]
    from snowy_json_spark.operators.text import benchmark_ngrams

    n_grams = len(benchmark_ngrams(big_bench, 3))
    assert n_grams > CONTAMINATION_LITERAL_MAX

    df = spark.createDataFrame(
        [(0, "tok5 tok6 tok7 appears here"), (1, "nothing shared at all")],
        "id long, t string",
    )
    out = contamination_counts(df, "id", "t", big_bench)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert len(plan) < 200_000, f"plan grew with the benchmark: {len(plan)} chars"
    got = {r["id"]: r["contaminated"] for r in out.collect()}
    assert got[0] and not got[1]
