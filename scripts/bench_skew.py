"""Skew exhibit: hot-host per-key top-k — three plans measured.

The north rule calls out explicit skew mitigation; this measures it on
the per-key operation that genuinely skews.  A crawl's host
distribution is Zipfian — here the worst case: one host owns
``--hot-frac`` of all rows, the rest spread over 100k hosts.

Which op to measure was itself measured: a first version of this
script benchmarked ``groupBy(host).agg(count_distinct(url))`` naive vs
salted and found the naive plan NOT skewed (0.84× — i.e. salting
slightly behind), because Catalyst two-phases a lone count_distinct on
(host, url), spreading the hot host's urls in phase 1 already.  The
windowed per-host top-k (domain caps à la FineWeb) was the next
candidate — and measuring it produced the second finding this module
records: on Spark ≥ 3.5 the "naive" ``row_number() <= k`` window is
NOT naive either, because ``InferWindowGroupLimit`` plans a map-side
Partial ``WindowGroupLimit`` that forwards ≤ k rows per key per
mapper.  The truly naive plan only exists with that rule disabled
(``spark.sql.optimizer.windowGroupLimitThreshold = -1``).

So this script measures THREE plans on the same skewed input:

- ``window``      — declarative window, group-limit rewrite active
                    (what operators.topk plans for k at or under the
                    threshold);
- ``no_limit``    — the same window built inline with the rewrite
                    disabled: every hot-host row lands in ONE window
                    task (what a plain window degrades to above the
                    k-threshold or on engines without the rule);
- ``two_stage``   — the explicit bucketed stage-1 local top-k, which
                    bounds sorts structurally without the rule
                    (operators.topk plans it for k above the threshold,
                    so this leg sets the threshold to k - 1).

Use ``--payload-chars`` to attach realistic row widths: the skew pain
is proportional to the bytes the hot task must sort/spill, and domain
caps carry document rows, not bare metadata.

Protocol: same as bench.py/bench_scaling.py — min-of-reps with
cooldowns, all reps printed.  Output: ONE JSON line with all times
and speedups vs the no_limit baseline.

Usage: python scripts/bench_skew.py [--rows 16000000] [--reps 3]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F

from snowy_json_spark.operators.topk import top_k_per_key
from snowy_json_spark.session import get_spark


def timed(fn, reps: int, cooldown: float) -> tuple[float, list[float]]:
    times = []
    for i in range(reps):
        if i and cooldown:
            time.sleep(min(45.0, max(8.0, 1.5 * times[-1])))
        t0 = time.monotonic()
        fn()
        times.append(time.monotonic() - t0)
    return min(times), [round(t, 3) for t in times]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=16_000_000)
    ap.add_argument("--hot-frac", type=float, default=0.5)
    ap.add_argument("--payload-chars", type=int, default=0,
                    help="attach an incompressible-ish payload column of this "
                         "many chars and force it through the window (the "
                         "representative domain-cap workload: full document "
                         "rows, not bare metadata — this is what makes the "
                         "hot task's single-threaded sort spill)")
    ap.add_argument("--k", type=int, default=100)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--cpus", type=int, default=int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    ap.add_argument("--cooldown", type=float, default=45.0)
    args = ap.parse_args()

    spark = get_spark("snowy-json-spark-skew", cores=args.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    # deterministic skewed table: hot host owns hot_frac of rows
    hot_cut = int(args.hot_frac * 1_000_000)
    df = (
        spark.range(args.rows, numPartitions=args.cpus * 2)
        .select(
            F.when(
                F.pmod(F.xxhash64("id"), F.lit(1_000_000)) < hot_cut,
                F.lit("hot.example.com"),
            )
            .otherwise(
                F.concat(F.lit("h"), F.pmod("id", F.lit(100_000)).cast("string"),
                         F.lit(".example.com"))
            )
            .alias("host"),
            F.col("id").alias("doc_id"),
            F.pmod(F.xxhash64("id", F.lit(7)), F.lit(1_000_000)).alias("score"),
        )
    )
    if args.payload_chars:
        # pseudo-random hex payload (md5 blocks) — resists shuffle/spill
        # compression far better than a constant string would
        n_blocks = (args.payload_chars + 31) // 32
        df = df.withColumn(
            "payload",
            F.substring(
                F.concat(*[
                    F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(f":{i}")))
                    for i in range(n_blocks)
                ]),
                1,
                args.payload_chars,
            ),
        )
    path = "/tmp/bench_skew_pages"
    df.write.mode("overwrite").parquet(path)
    pages = spark.read.parquet(path)
    n = pages.count()
    time.sleep(args.cooldown)  # refill burst budget after generation

    order = [F.col("score").desc(), F.col("doc_id").asc()]

    def consume(kept):
        # sum(length(payload)) forces the payload column THROUGH the
        # window (a bare count would let Catalyst prune it and the
        # exhibit would silently measure the metadata-only plan)
        if args.payload_chars:
            return kept.agg(F.sum(F.length("payload"))).collect()
        return kept.count()

    THRESH = "spark.sql.optimizer.windowGroupLimitThreshold"

    def window():
        # declarative window; InferWindowGroupLimit prunes map-side
        return consume(top_k_per_key(pages, "host", order, args.k))

    def no_limit():
        # the TRULY naive plan: rewrite disabled, every hot-host row
        # sorts in ONE window task
        spark.conf.set(THRESH, "-1")
        try:
            w = Window.partitionBy("host").orderBy(*order)
            return consume(
                pages.withColumn("_r", F.row_number().over(w))
                .filter(F.col("_r") <= args.k)
                .drop("_r")
            )
        finally:
            spark.conf.unset(THRESH)

    def two_stage():
        # k above the threshold: top_k_per_key plans the bucketed form
        spark.conf.set(THRESH, str(args.k - 1))
        try:
            return consume(
                top_k_per_key(pages, "host", order, args.k, n_buckets=args.cpus * 2)
            )
        finally:
            spark.conf.unset(THRESH)

    t_win, reps_win = timed(window, args.reps, args.cooldown)
    time.sleep(args.cooldown)
    t_two, reps_two = timed(two_stage, args.reps, args.cooldown)
    time.sleep(args.cooldown)
    t_nol, reps_nol = timed(no_limit, args.reps, args.cooldown)

    print(
        json.dumps(
            {
                "metric": "skew_hot_host_topk",
                "rows": n,
                "hot_frac": args.hot_frac,
                "payload_chars": args.payload_chars,
                "k": args.k,
                "window_sec": round(t_win, 3),
                "two_stage_sec": round(t_two, 3),
                "no_limit_sec": round(t_nol, 3),
                "speedup_window_vs_no_limit": round(t_nol / t_win, 3),
                "speedup_two_stage_vs_no_limit": round(t_nol / t_two, 3),
                "reps_window": reps_win,
                "reps_two_stage": reps_two,
                "reps_no_limit": reps_nol,
                "cpus": args.cpus,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
