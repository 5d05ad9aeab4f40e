"""The benchmark's workloads: inputs, one op, the output check, probes.

Each op makes the calls a ``spark-submit`` user makes (compare
``snowy_json_spark/cli.py``): read the input table, build a fresh
``ValidationEngine`` (so the spec is compiled every op), run
``run_single_pass`` and ``write_results``; or ``curate_documents`` and
a write of its ``keep``/``drop_reason`` output.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil

from pyspark.sql import functions as F

import inputs
from oracle import CurationOracle, PagesOracle
from snowy_json_spark.engine import ValidationEngine
from snowy_json_spark.operators import dedup
from snowy_json_spark.operators.pipeline import EXACT_DEDUP_MAX_ROWS, curate_documents
from snowy_json_spark.operators.referential import referential_violations
from snowy_json_spark.operators.text import gopher_flags
from snowy_json_spark.operators.uniqueness import uniqueness_violations
from snowy_json_spark.operators.urls import blocked_domain_match
from snowy_json_spark.sources.tables import read_table, write_table
from snowy_json_spark.streaming.manifest import Manifest, lineage_hash

#: bench.py's PAGES_SPEC, copied so later edits to bench.py cannot move
#: this benchmark
PAGES_SPEC = {
    "required": ["url", "warc_ts", "lang"],
    "properties": {
        "url": {"type": "string", "pattern": "^https://", "maxLength": 2048},
        "lang": {"type": "string", "pattern": "^[a-z]{2}$"},
        "text": {"type": ["string", "null"], "minLength": 1},
        "warc_ts": {
            "type": "timestamp",
            "minimum": "2026-07-01 00:00:00",
            "maximum": "2026-07-31 00:00:00",
        },
    },
    "x-table-checks": [
        {"id": "url_unique", "kind": "unique", "keys": ["url"]},
        {"id": "lang_valid", "kind": "referential", "column": "lang", "ref": "lang_ref"},
        {
            "id": "text_len_drift",
            "kind": "drift",
            "column": "text_len",
            "expr": "length(text)",
            "lo": 0,
            "hi": 1500,
            "buckets": 20,
            "group_by": "lang",
        },
    ],
}

#: ``profile_drift``: almost no row checks; the table checks are the
#: profiling kinds, every one compared against a snapshot
PROFILE_SPEC = {
    "required": ["url"],
    "properties": {},
    "x-table-checks": [
        {"id": "ts_stats", "kind": "column_stats", "column": "warc_ts", "max_null_rate": 0.0},
        {"id": "url_stats", "kind": "column_stats", "column": "url"},
        {"id": "len_quantiles", "kind": "quantile_drift", "column": "text_len", "expr": "length(text)"},
        {"id": "len_tdigest", "kind": "tdigest_drift", "column": "text_len", "expr": "length(text)"},
        PAGES_SPEC["x-table-checks"][2],
    ],
}

PARTITION_COLS = ["lang", "url_bucket"]
ID_COLS = ["url"]
SHIFTED_LANG = "fr"
PENDING_SHARE = 8  # resume re-validates one url bucket in eight


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def dir_digest(path: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirs, files in os.walk(path):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, path).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class Validate:
    """``validate_full``: the whole pages table against PAGES_SPEC with a
    drift snapshot.  ``validate_resume``: the same, after a manifest that
    marks all partitions but a seeded eighth validated is restored before
    each op.  ``profile_drift``: the whole table against PROFILE_SPEC."""

    def __init__(self, work: str, seed: int, rows: int, spec: dict, resume: bool):
        self.spark = None  # set once the session is up; generate() needs none
        self.work, self.seed, self.rows = work, seed, rows
        self.resume = resume
        self.spec = spec
        self.oracle: PagesOracle | None = None
        self.manifest_digest = None

    def generate(self) -> None:
        """Inputs and their oracle (once per run, DuckDB only)."""
        w, seed = self.work, self.seed
        parts = max(4, self.rows // 12_500)
        con = inputs.connect()
        inputs.write_pages(con, f"{w}/pages", seed, self.rows, parts, shift_lang=SHIFTED_LANG)
        inputs.write_pages(con, f"{w}/reference", seed + 1_000_003, self.rows // 4, max(2, parts // 4))
        inputs.write_lang_ref(con, f"{w}/lang_ref")
        con.close()
        self.oracle = PagesOracle(
            f"{w}/pages", self.spec, PARTITION_COLS, inputs.LANG_REF, f"{w}/reference"
        )
        if self.resume:
            # every lang in a seeded eighth of the url buckets: partition
            # sizes differ by lang a hundredfold, buckets are uniform, so
            # the pending rows are an eighth of the table for any seed
            buckets = random.Random(seed).sample(
                range(inputs.URL_BUCKETS), inputs.URL_BUCKETS // PENDING_SHARE
            )
            keys = self.oracle.keys
            self.pending = sorted(k for k in keys if int(k.rsplit("|", 1)[1]) in buckets)
            self.done = sorted(set(keys) - set(self.pending))
            self.oracle.expect_pending(self.pending)

    def build(self) -> None:
        """The program's part of set-up, repeated: the drift snapshot and,
        for resume, the manifest."""
        spark, w = self.spark, self.work
        eng = ValidationEngine(self.spec, id_cols=ID_COLS, partition_cols=PARTITION_COLS)
        eng.save_snapshot(
            eng.collect_snapshot(read_table(spark, f"{w}/reference")), f"{w}/snapshot.json"
        )
        if self.resume:
            shutil.rmtree(f"{w}/manifest.pristine", ignore_errors=True)
            Manifest(f"{w}/manifest.pristine").append(
                spark,
                [{"partition_key": k, "lineage_hash": lineage_hash(self.spec, k)} for k in self.done],
            )
            self.manifest_digest = dir_digest(f"{w}/manifest.pristine")
            self.manifest_bytes = dir_bytes(f"{w}/manifest.pristine")

    def prepare(self) -> dict:
        """Untimed, before each op: restore the manifest."""
        if not self.resume:
            return {}
        shutil.rmtree(f"{self.work}/manifest", ignore_errors=True)
        shutil.copytree(f"{self.work}/manifest.pristine", f"{self.work}/manifest")
        return {"manifest_restored": dir_digest(f"{self.work}/manifest") == self.manifest_digest}

    def op(self, out: str, span) -> None:
        spark, w = self.spark, self.work
        with span("engine"):
            df = read_table(spark, f"{w}/pages")
            dims = {"lang_ref": read_table(spark, f"{w}/lang_ref")}
            eng = ValidationEngine(self.spec, id_cols=ID_COLS, partition_cols=PARTITION_COLS)
            res = eng.run_single_pass(
                df,
                out,
                dims=dims,
                snapshot=eng.load_snapshot(f"{w}/snapshot.json"),
                manifest=Manifest(f"{w}/manifest") if self.resume else None,
            )
        with span("results"):
            eng.write_results(res, out)

    def check(self, out: str) -> tuple[list[str], dict]:
        errors, observed = self.oracle.check(out)
        if self.resume:
            skipped = observed["metrics"]["skipped_partitions"]
            if skipped != self.done:
                errors.append(f"skipped {len(skipped)} partitions, expected {len(self.done)}")
            n, keys = self.oracle.con.execute(
                f"SELECT count(*), list(DISTINCT partition_key ORDER BY partition_key) FROM "
                f"(SELECT * FROM read_parquet('{self.work}/manifest/*.parquet') "
                f"EXCEPT ALL SELECT * FROM read_parquet('{self.work}/manifest.pristine/*.parquet'))"
            ).fetchone()
            if n != len(self.pending) or sorted(keys or []) != self.pending:
                errors.append(f"manifest gained {n} rows, expected the {len(self.pending)} pending keys")
        return errors, observed

    def written_bytes(self, out: str) -> int:
        extra = dir_bytes(f"{self.work}/manifest") - self.manifest_bytes if self.resume else 0
        return dir_bytes(out) + extra

    def probes(self, out: str, span) -> dict:
        """Run the operators whose work the op defers to ``write_results``
        to completion on the op's flagged table, one span each."""
        kinds = {c["kind"] for c in self.spec["x-table-checks"]}
        if not kinds & {"unique", "referential"}:
            return {}
        spark = self.spark
        flagged = read_table(spark, f"{out}/flagged")
        lang_ref = read_table(spark, f"{self.work}/lang_ref")
        with span("uniqueness.probe"):
            uniqueness_violations(flagged, ["url"], "#/x-table-checks/url_unique").count()
        with span("uniqueness.candidates"):
            candidates = (
                flagged.groupBy(F.xxhash64("url").alias("h"))
                .count()
                .filter("count > 1")
                .count()
            )
        with span("referential.probe"):
            rows_out = referential_violations(
                flagged, "lang", lang_ref, "lang", "#/x-table-checks/lang_valid", ID_COLS
            ).count()
        dup_keys = self.oracle.expected["table"]["#/x-table-checks/url_unique"]
        return {
            "uniqueness.candidates": candidates,
            "uniqueness.useful_ratio": dup_keys / candidates if candidates else 1.0,
            "referential.rows_out": rows_out,
        }


class Curate:
    """``curate_dedup``: blocklist → Gopher quality → near-duplicate
    removal with the default ``dedup_impl="auto"``; the corpus keeps more
    than ``EXACT_DEDUP_MAX_ROWS`` quality survivors, so auto picks MinHash."""

    def __init__(self, work: str, seed: int, rows: int):
        self.spark = None  # set once the session is up; generate() needs none
        self.work, self.seed, self.rows = work, seed, rows
        self.oracle: CurationOracle | None = None

    def generate(self) -> None:
        """Inputs and their oracle (once per run)."""
        con = inputs.connect()
        inputs.write_pages(con, f"{self.work}/corpus", self.seed, self.rows, 4)
        con.close()
        self.oracle = CurationOracle(f"{self.work}/corpus", inputs.BLOCKED_DOMAINS)
        if not self.oracle.reasons.get("near_dup"):
            raise RuntimeError("the corpus has no planted duplicates among its survivors")
        if self.oracle.survivors <= EXACT_DEDUP_MAX_ROWS:
            raise RuntimeError(f"{self.oracle.survivors} survivors: auto would not pick MinHash")

    def build(self) -> None:
        """Curation has no program-side set-up."""

    def prepare(self) -> dict:
        return {}

    def op(self, out: str, span) -> None:
        with span("curate"):
            with span("curate.read"):
                df = read_table(self.spark, f"{self.work}/corpus")
            cur = curate_documents(
                df,
                "doc_id",
                "text",
                url_col="url",
                blocked_domains=inputs.BLOCKED_DOMAINS,
            )
        with span("curate.write"):
            write_table(cur.select("doc_id", "keep", "drop_reason"), out)

    def check(self, out: str) -> tuple[list[str], dict]:
        return self.oracle.check(out)

    def written_bytes(self, out: str) -> int:
        return dir_bytes(out)

    def probes(self, out: str, span) -> dict:
        """Time the public dedup functions, stage by stage, on the
        quality survivors the op deduplicated (same parameters as
        ``curate_documents``' MinHash path)."""
        df = read_table(self.spark, f"{self.work}/corpus")
        survivors = df.filter(
            blocked_domain_match(F.col("url"), inputs.BLOCKED_DOMAINS).isNull()
            & gopher_flags(F.col("text"))["keep"]
        )
        with span("curate.filter"):
            survivors.count()
        with span("dedup.prepass"):
            dedup.exact_duplicate_groups(survivors, "doc_id", "text").count()
        with span("dedup.signature"):
            sigs = dedup.minhash_signatures(survivors, "doc_id", "text", 128, 1, "word").persist()
            sigs.count()
        with span("dedup.band_join"):
            pairs = dedup.lsh_candidate_pairs(sigs, "doc_id", 16, 8, 1000).persist()
            candidates = pairs.count()
        with span("dedup.verify"):
            near = (
                dedup.estimated_jaccard(pairs, sigs, "doc_id")
                .filter(F.col("est_jaccard") >= 0.8)
                .persist()
            )
            useful = near.count()
        with span("dedup.components"):
            dedup.connected_components(near).count()
        for d in (near, pairs, sigs):
            d.unpersist()
        return {
            "dedup.candidate_pairs": candidates,
            "dedup.useful_ratio": useful / candidates if candidates else 1.0,
        }


def _validate(spec: dict, resume: bool):
    return lambda work, seed, rows: Validate(work, seed, rows, spec, resume)


#: name → (factory, input rows); README.md gives the reasons for the sizes
WORKLOADS = {
    "validate_full": (_validate(PAGES_SPEC, False), 100_000),
    "validate_resume": (_validate(PAGES_SPEC, True), 100_000),
    "profile_drift": (_validate(PROFILE_SPEC, False), 100_000),
    "curate_dedup": (Curate, 30_000),
}
