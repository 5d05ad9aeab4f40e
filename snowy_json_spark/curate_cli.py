"""spark-submit entry point for the curation pipeline.

The validation engine has `cli.py`; this is its curation sibling — a
user of the reference pipeline runs BOTH jobs on a cluster:

    spark-submit --py-files snowy_json_spark.zip curate_job.py \\
        --input PAGES --out SHARDS \\
        --blocked-domains ads.example.com,tracker.net \\
        --min-words 50 --min-jaccard 0.8 --n-shards 512 \\
        --sample-fraction 0.5

Flow (all stages documented in their operators): host-blocklist →
Gopher quality → near-dup keep-one (`pipeline.curate_documents`: exact
Jaccard up to `EXACT_DEDUP_MAX_ROWS` quality survivors, MinHash+LSH
above) → optional deterministic md5-bucket sampling
(`sampling.keep_fraction`) → deterministic shard layout
(`shards.write_training_shards`).  A per-stage attribution report lands
next to the output (``<out>_report`` parquet) and is printed as one
JSON line — the number a nightly crawl-ingest job watches.
"""

from __future__ import annotations

import argparse
import json

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def build_session() -> SparkSession:
    return SparkSession.builder.appName("snowy-json-spark-curate").getOrCreate()


def main(argv: list[str] | None = None, spark: SparkSession | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="pages table path")
    ap.add_argument("--out", required=True, help="output shard directory")
    ap.add_argument("--id-col", default="url")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--blocked-domains", default="",
                    help="comma-separated blocked domain suffixes")
    ap.add_argument("--min-words", type=int, default=None)
    ap.add_argument("--min-jaccard", type=float, default=0.8)
    # the survivor count picks the dedup plan (exact Jaccard up to
    # pipeline.EXACT_DEDUP_MAX_ROWS quality survivors, MinHash+LSH
    # above).  minhash knobs (r05 ADVICE): the library defaults (word
    # unigrams) collide corpus-wide on templated text, so the CLI
    # defaults the LSH path to char-5 shingles — the setting every
    # corpus-scale exhibit uses — and exposes the banding/cap so
    # operators can tune recall without editing code.  Word-unigram
    # callers pass --dedup-mode word --shingle-k 1 explicitly.
    ap.add_argument("--dedup-mode", default="char", choices=["char", "word"],
                    help="shingle unit for the dedup stage (default char)")
    ap.add_argument("--shingle-k", type=int, default=5,
                    help="shingle width (default 5; chars or words per "
                         "--dedup-mode)")
    ap.add_argument("--n-hashes", type=int, default=128,
                    help="minhash signature width (minhash plan only)")
    ap.add_argument("--n-bands", type=int, default=16,
                    help="LSH band count (minhash plan only)")
    ap.add_argument("--max-bucket-rows", type=int, default=1000,
                    help="drop LSH band buckets larger than this from "
                         "candidate generation (minhash plan only; "
                         "0 = uncapped)")
    ap.add_argument("--sample-fraction", type=float, default=1.0)
    ap.add_argument("--sample-seed", default="curate")
    ap.add_argument("--n-shards", type=int, default=64)
    args = ap.parse_args(argv)

    from snowy_json_spark.operators.pipeline import curate_documents
    from snowy_json_spark.operators.sampling import keep_fraction
    from snowy_json_spark.sources.shards import write_training_shards

    owns_session = spark is None
    spark = spark or build_session()
    pages = spark.read.parquet(args.input)

    blocked = [d for d in args.blocked_domains.split(",") if d]
    bounds = {}
    if args.min_words is not None:
        bounds["min_words"] = args.min_words
    cur = curate_documents(
        pages,
        args.id_col,
        args.text_col,
        min_jaccard=args.min_jaccard,
        dedup_mode=args.dedup_mode,
        shingle_k=args.shingle_k,
        url_col=args.id_col if blocked else None,
        blocked_domains=blocked or None,
        n_hashes=args.n_hashes,
        n_bands=args.n_bands,
        max_bucket_rows=args.max_bucket_rows or None,
        **bounds,
    )
    if args.sample_fraction < 1.0:
        cur = cur.withColumn(
            "keep",
            F.col("keep")
            & keep_fraction(
                F.col(args.id_col), args.sample_fraction, args.sample_seed
            ),
        ).withColumn(
            "drop_reason",
            F.when(F.col("keep") | F.col("drop_reason").isNotNull(),
                   F.col("drop_reason")).otherwise(F.lit("sampled_out")),
        )

    # three actions consume cur (report write, report collect, shard
    # write) — persist so the curation DAG (incl. the near-dup LSH
    # self-join) runs once, not three times
    cur = cur.persist()
    try:
        report = (
            cur.groupBy(
                F.coalesce(F.col("drop_reason"), F.lit("kept")).alias("stage")
            )
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .orderBy("stage")
        )
        report.write.mode("overwrite").parquet(args.out + "_report")
        stages = {
            r["stage"]: r["n_docs"]
            for r in spark.read.parquet(args.out + "_report").collect()
        }

        kept = cur.filter(F.col("keep")).drop("keep", "drop_reason")
        write_training_shards(kept, args.out, args.id_col, args.n_shards)
    finally:
        cur.unpersist()

    print(json.dumps({"out": args.out, "n_shards": args.n_shards,
                      "stages": stages}))
    if owns_session:
        spark.stop()
    return 0
