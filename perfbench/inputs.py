"""Seeded benchmark inputs, generated and written as parquet by DuckDB.

Every value is a pure function of ``(seed, row id)`` through DuckDB's
``hash``/``sha256``, so the same seed gives the same rows.  The engine
under test only ever sees the materialized parquet.  The generator is
the benchmark's own because
``snowy_json_spark.sources.pages.generate_pages`` fixes its seed, and it
runs in DuckDB so that set-up does not pay Spark's first-job start-up
twice.

Pages schema: ``doc_id bigint, url string, warc_ts timestamp (UTC),
html binary, text string, lang string, url_bucket int``.

Planted properties (the oracle recomputes each from the parquet):

- ~0.5 % rows reuse the previous row's url (duplicate urls, and
  text-identical documents since text follows the url's base id);
- ~2 % rows copy the text of the row 7 ids earlier under their own url
  (text-identical duplicates that curation must drop);
- ~0.1 % malformed urls, ~0.3 % invalid lang codes, ~0.2 % timestamps
  outside the July window, ~1 % null and ~0.5 % empty text;
- ~20 % short texts (fewer than 50 words) that fail the Gopher word
  count; the rest pass every Gopher rule but a few whose hex words are
  mostly digits;
- ``shift_lang`` documents are 40 words longer, so the drift check has
  a real distribution change to find against an unshifted reference.

Text words are 6-character slices of two hex digests, cycled to the
document's length, so two unrelated documents share no words beyond
the three leading stop words and their word-set Jaccard (about 0.07)
stays far below any near-duplicate threshold.
"""

from __future__ import annotations

import os

import duckdb

N_HOSTS = 1000
URL_BUCKETS = 16
WINDOW_START = "2026-07-01 00:00:00+00"
WINDOW_DAYS = 30
LANG_REF = ["en", "de", "fr", "es", "zh", "pt", "it", "nl", "ru", "ja"]
BLOCKED_DOMAINS = ["host1.example.org", "host2.example.org", "host3.example.org"]
#: distinct words per document: the 128 hex characters of two sha256
#: digests give 21 six-character words
_CYCLE = 21


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    return con


def _pages_sql(seed: int, n_rows: int, shift_lang: str | None) -> str:
    def h(salt: int, col: str) -> str:
        return f"hash({seed}, {salt}, {col})"

    def u(salt: int, col: str) -> str:
        """Uniform [0, 1) double from the hash stream."""
        return f"({h(salt, col)} % 1000000)::DOUBLE / 1000000.0"

    shift = f" + CASE WHEN lang = '{shift_lang}' THEN 40 ELSE 0 END" if shift_lang else ""
    words = ", ".join(f"substr(digest, {6 * i + 1}, 6)" for i in range(_CYCLE))
    return f"""
    WITH ids AS (
      SELECT range AS id,
        -- duplicate url: borrow the previous id's url (and hence its text)
        CASE WHEN {h(1, 'range')} % 200 = 0 AND range > 0 THEN range - 1 ELSE range END AS base_id
      FROM range({n_rows})
    ), r AS (
      SELECT id, base_id,
        -- text-identical copy under a fresh url
        CASE WHEN {h(2, 'id')} % 50 = 0 AND id >= 7 THEN base_id - 7 ELSE base_id END AS text_id,
        CASE WHEN {h(5, 'base_id')} % 1000 = 7 THEN 'ht tp://bad ' || base_id
             ELSE 'https://host' || floor(pow({u(3, 'base_id')}, 4.0) * {N_HOSTS})::INT
                  || '.example.org/p/' || hex({h(4, 'base_id')} % 1000000000)
        END AS url,
        TIMESTAMPTZ '{WINDOW_START}' + to_seconds(
          CASE WHEN {h(6, 'id')} % 500 = 3 THEN -45 * 86400
               ELSE ({h(7, 'id')} % {WINDOW_DAYS * 86400})::BIGINT END) AS warc_ts,
        CASE WHEN lp < 600 THEN 'en' WHEN lp < 750 THEN 'de' WHEN lp < 850 THEN 'fr'
             WHEN lp < 920 THEN 'es' WHEN lp < 970 THEN 'zh' WHEN lp < 997 THEN 'pt'
             WHEN lp < 998 THEN 'zz' WHEN lp < 999 THEN '' ELSE 'EN' END AS lang
      FROM (SELECT *, {h(8, 'id')} % 1000 AS lp FROM ids)
    ), w AS (
      SELECT *,
        -- word count: 20 % short (5..44 words), the rest 50..169
        (CASE WHEN {h(9, 'text_id')} % 5 = 0 THEN 5 + {h(10, 'text_id')} % 40
              ELSE 50 + floor(pow({u(11, 'text_id')}, 2.0) * 120) END){shift} AS n_words,
        sha256('{seed}:' || text_id || ':a') || sha256('{seed}:' || text_id || ':b') AS digest
      FROM r
    ), c AS (
      SELECT *, concat_ws(' ', {words}) AS cycle FROM w
    ), b AS (
      SELECT *,
        'the of and ' || repeat(cycle || ' ', (n_words // {_CYCLE})::INT)
          || substr(cycle, 1, greatest((n_words % {_CYCLE})::INT * 7 - 1, 0)) AS body
      FROM c
    )
    SELECT id::BIGINT AS doc_id, url, warc_ts,
      encode('<html><body>' || body || '</body></html>') AS html,
      CASE WHEN {h(12, 'id')} % 100 = 11 THEN NULL
           WHEN {h(13, 'id')} % 200 = 5 THEN ''
           ELSE body END AS text,
      lang,
      (hash(url) % {URL_BUCKETS})::INT AS url_bucket
    FROM b
    """


def write_pages(
    con: duckdb.DuckDBPyConnection,
    path: str,
    seed: int,
    n_rows: int,
    n_files: int,
    shift_lang: str | None = None,
) -> None:
    """``n_files`` parquet files of consecutive ids under ``path``, so
    Spark scans them with ``n_files`` tasks."""
    os.makedirs(path)
    con.execute(f"CREATE OR REPLACE TEMP TABLE gen AS {_pages_sql(seed, n_rows, shift_lang)}")
    step = -(-n_rows // n_files)
    for i in range(n_files):
        con.execute(
            f"COPY (SELECT * FROM gen WHERE doc_id >= {i * step} AND doc_id < {(i + 1) * step} "
            f"ORDER BY doc_id) TO '{path}/part-{i:05d}.parquet' (FORMAT parquet)"
        )
    con.execute("DROP TABLE gen")


def write_lang_ref(con: duckdb.DuckDBPyConnection, path: str) -> None:
    os.makedirs(path)
    langs = ", ".join(f"'{c}'" for c in LANG_REF)
    con.execute(f"COPY (SELECT unnest([{langs}]) AS lang) TO '{path}/part-00000.parquet' (FORMAT parquet)")
