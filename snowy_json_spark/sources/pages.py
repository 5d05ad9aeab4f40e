"""Synthetic Common-Crawl-style ``pages`` table (BASELINE.json input_hint).

Schema: (url:string, warc_ts:timestamp, html:binary, text:string,
lang:string) + derived partition columns (lang, url_bucket).

Design (FIXTURES.md §1):
- **Fully distributed generation**: ``spark.range(n)`` plus pure Column
  expressions — no driver-side loops, no collect, no Python UDFs.  The
  same recipe that makes 1k rows locally makes 10^12 rows on a cluster.
- **Deterministic**: every value is a pure function of the row id via
  ``xxhash64(id, seed)``.  Re-running any partition reproduces its
  bytes exactly — the property the checkpoint-manifest resume test and
  the "byte-identical text per url" invariant rely on.
- **Planted skew & violations**: Zipf-ish host distribution (hot-key
  driver), ~0.5% duplicate urls, ~0.1% malformed urls, lang Zipf with
  en≈60% plus ~0.3% invalid codes, ~0.2% timestamps outside the 30-day
  window, ~1% empty html, ~1% null text.
- ``text`` is a deterministic function of ``url`` (hash-expanded word
  salad), so any two rows with equal url have byte-identical text —
  the per-row invariant vs the reference oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SEED = 42
N_HOSTS = 1000
WINDOW_START = "2026-07-01 00:00:00"
WINDOW_DAYS = 30

_WORDS = (
    "the data web page crawl index search query text content site news "
    "article link html title body head info list item table row cell "
    "value time date user name home about contact help terms privacy"
).split()


def _h(seed: int, *cols) -> F.Column:
    """Deterministic 64-bit hash stream keyed by (SEED, seed, cols)."""
    return F.xxhash64(F.lit(SEED), F.lit(seed), *cols)


def _u(seed: int, *cols) -> F.Column:
    """Uniform [0,1) double derived from the hash stream."""
    return (F.pmod(_h(seed, *cols), F.lit(1_000_000)).cast("double")) / 1_000_000.0


def generate_pages(
    spark: SparkSession, n_rows: int, n_partitions: int = 32
) -> DataFrame:
    df = spark.range(0, n_rows, 1, n_partitions)
    idc = F.col("id")

    # ~0.5% exact duplicates: id hashing to the dup class borrows id-1's url
    base_id = F.when(
        (F.pmod(_h(1, idc), 200) == 0) & (idc > 0), idc - 1
    ).otherwise(idc)

    # Zipf-ish hosts: u^4 concentrates mass on low ranks (hot hosts)
    host_rank = F.floor(F.pow(_u(2, base_id), 4.0) * N_HOSTS).cast("int")
    host = F.concat(F.lit("host"), host_rank.cast("string"), F.lit(".example.org"))
    path = F.concat(
        F.lit("/p/"),
        F.conv(F.pmod(_h(3, base_id), 1_000_000_000).cast("string"), 10, 16),
    )
    good_url = F.concat(F.lit("https://"), host, path)
    # ~0.1% malformed urls (bad scheme / embedded space)
    url = (
        F.when(
            F.pmod(_h(4, base_id), 1000) == 7,
            F.concat(F.lit("ht tp://bad "), base_id.cast("string")),
        )
        .otherwise(good_url)
        .alias("url")
    )

    # warc_ts: uniform inside a 30-day window; ~0.2% planted outside it
    in_window_s = (F.pmod(_h(5, idc), F.lit(WINDOW_DAYS * 86400))).cast("long")
    offset_s = F.when(
        F.pmod(_h(6, idc), 500) == 3, F.lit(-45 * 86400).cast("long")
    ).otherwise(in_window_s)
    warc_ts = (
        F.to_timestamp(F.lit(WINDOW_START)).cast("long") + offset_s
    ).cast("timestamp").alias("warc_ts")

    # text: deterministic in url; length log-normal-ish via hash powers
    n_rep = (F.floor(F.pow(_u(7, good_url), 2.0) * 40) + 3).cast("int")
    word = F.array(*[F.lit(w) for w in _WORDS])
    pick = lambda s: F.element_at(word, (F.pmod(_h(s, good_url), len(_WORDS)) + 1).cast("int"))  # noqa: E731
    sentence = F.concat_ws(" ", pick(8), pick(9), pick(10), pick(11), F.md5(good_url))
    body = F.concat(sentence, F.lit(" "), F.repeat(F.concat(pick(12), F.lit(" ")), n_rep))
    text = (
        F.when(F.pmod(_h(13, idc), 100) == 11, F.lit(None).cast("string"))  # ~1% null
        .when(F.pmod(_h(14, idc), 200) == 5, F.lit(""))  # ~0.5% empty
        .otherwise(body)
        .alias("text")
    )

    # lang: Zipf en≈60%; ~0.3% invalid codes
    lp = F.pmod(_h(15, idc), 1000)
    lang = (
        F.when(lp < 600, F.lit("en"))
        .when(lp < 750, F.lit("de"))
        .when(lp < 850, F.lit("fr"))
        .when(lp < 920, F.lit("es"))
        .when(lp < 970, F.lit("zh"))
        .when(lp < 997, F.lit("pt"))
        .when(lp < 998, F.lit("zz"))
        .when(lp < 999, F.lit(""))
        .otherwise(F.lit("EN"))
        .alias("lang")
    )

    # html: derived from text; ~1% empty binary
    html = (
        F.when(F.pmod(_h(16, idc), 100) == 42, F.lit(b""))
        .otherwise(
            F.concat(
                F.lit("<html><body>"), F.coalesce(body, F.lit("")), F.lit("</body></html>")
            ).cast("binary")
        )
        .alias("html")
    )

    return df.select(url, warc_ts, html, text, lang)


def with_partition_cols(pages: DataFrame, url_buckets: int = 16) -> DataFrame:
    """Iceberg-style partition transform stand-in: (lang, bucket(url)).

    Locally plain columns; on Iceberg these are the table's partition
    spec (`lang`, `bucket(N, url)`) and Spark prunes on them."""
    return pages.withColumn(
        "url_bucket", F.pmod(F.xxhash64(F.col("url")), F.lit(url_buckets)).cast("int")
    )


def lang_ref(spark: SparkSession) -> DataFrame:
    """Valid-language reference dim (broadcast side of the anti-join)."""
    codes = ["en", "de", "fr", "es", "zh", "pt", "it", "nl", "ru", "ja"]
    return spark.createDataFrame([(c,) for c in codes], "lang string")

