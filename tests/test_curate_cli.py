"""End-to-end curation job: CLI main() == direct API composition."""

from __future__ import annotations

import glob

from pyspark.sql import functions as F

from snowy_json_spark.curate_cli import main
from snowy_json_spark.operators import pipeline
from snowy_json_spark.operators.pipeline import curate_documents
from snowy_json_spark.operators.sampling import keep_fraction
from snowy_json_spark.sources.pages import generate_pages


def test_curate_job_end_to_end(spark, tmp_path, capsys):
    src = str(tmp_path / "pages")
    out = str(tmp_path / "shards")
    generate_pages(spark, 800, 4).write.parquet(src)

    rc = main(
        [
            "--input", src, "--out", out,
            "--min-words", "30", "--min-jaccard", "0.8",
            "--sample-fraction", "0.7", "--n-shards", "8",
        ],
        spark=spark,
    )
    assert rc == 0

    # the CLI must equal the same stages composed directly (the CLI
    # defaults the dedup stage to char-5 shingles — r05 ADVICE — so the
    # direct composition passes the same)
    pages = spark.read.parquet(src)
    cur = curate_documents(
        pages, "url", "text", min_jaccard=0.8, min_words=30,
        dedup_mode="char", shingle_k=5,
    )
    expect_keep = cur.filter(
        F.col("keep") & keep_fraction(F.col("url"), 0.7, "curate")
    )
    back = spark.read.parquet(out)
    assert back.count() == expect_keep.count() > 0
    assert set(r["url"] for r in back.select("url").collect()) == set(
        r["url"] for r in expect_keep.select("url").collect()
    )
    # shard layout present; report accounts for every input row
    assert glob.glob(out + "/shard=*")
    report = {r["stage"]: r["n_docs"]
              for r in spark.read.parquet(out + "_report").collect()}
    assert sum(report.values()) == 800
    assert report.get("kept", 0) == back.count()
    assert "sampled_out" in report


def test_curate_job_minhash_impl(spark, tmp_path, monkeypatch):
    """Above EXACT_DEDUP_MAX_ROWS survivors (0 here) the CLI takes the
    LSH dedup stage: a planted url-variant exact-text duplicate drops as
    near_dup and the CLI output equals the direct API composition."""
    monkeypatch.setattr(pipeline, "EXACT_DEDUP_MAX_ROWS", 0)
    src = str(tmp_path / "pages_mh")
    out = str(tmp_path / "shards_mh")
    base = spark.range(40).select(
        F.concat(F.lit("https://h"), F.col("id"), F.lit(".example.org/p")).alias("url"),
        F.concat(
            F.lit("the quick brown fox jumps over the lazy dog and then "
                  "runs far away home with more of the usual words "),
            F.col("id").cast("string"),
        ).alias("text"),
    )
    variants = base.filter(F.col("url").endswith("3.example.org/p")).withColumn(
        "url", F.concat(F.col("url"), F.lit("?v=2"))
    )
    base.unionByName(variants).write.parquet(src)

    rc = main(
        [
            "--input", src, "--out", out,
            "--min-words", "5", "--min-jaccard", "0.8",
            "--n-shards", "4",
        ],
        spark=spark,
    )
    assert rc == 0
    report = {r["stage"]: r["n_docs"]
              for r in spark.read.parquet(out + "_report").collect()}
    assert report.get("near_dup", 0) > 0  # planted variants found

    pages = spark.read.parquet(src)
    cur = curate_documents(
        pages, "url", "text", min_jaccard=0.8, min_words=5,
        dedup_mode="char", shingle_k=5,
    )
    expect = cur.filter(F.col("keep"))
    back = spark.read.parquet(out)
    assert set(r["url"] for r in back.select("url").collect()) == set(
        r["url"] for r in expect.select("url").collect()
    )
