"""spark-submit entry point (north rule: "deployed via spark-submit
--py-files on multi-executor clusters").

Usage:
    spark-submit --py-files snowy_json_spark.zip validate_job.py \
        --input  /path/to/pages            \
        --spec   /path/to/spec.json        \
        --out    /path/to/results          \
        --manifest /path/to/manifest       \
        --dim lang_ref=/path/to/lang_ref   \
        --id-cols url                      \
        --partition-cols lang,url_bucket

The job scans the input once (``ValidationEngine.run_single_pass``): a
narrow flagged table is written under ``--out/flagged`` and every
verdict, violation and table check reads it back.  On a cluster the
session comes from spark-submit's conf (master, executor counts);
locally it falls back to the tuned local builder.  The job is
idempotent: re-submission consults the manifest and validates only
pending partitions.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession

from .engine import ValidationEngine
from .sources.tables import load_spec, read_table
from .spec.linter import errors as lint_errors
from .streaming.manifest import Manifest


def build_session() -> SparkSession:
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    try:
        # under spark-submit, conf (master/executors) comes from the CLI
        return SparkSession.builder.appName("snowy-json-validate").getOrCreate()
    except Exception:  # pragma: no cover - local fallback
        from .session import get_spark

        return get_spark("snowy-json-validate")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="snowy-json-validate")
    ap.add_argument("--input", required=True, help="pages table path/identifier")
    ap.add_argument("--spec", required=True, help="constraint spec (JSON/YAML)")
    ap.add_argument("--out", required=True, help="results directory")
    ap.add_argument("--manifest", default=None, help="checkpoint manifest path")
    ap.add_argument("--dim", action="append", default=[], help="name=path reference dim")
    ap.add_argument("--id-cols", default="url")
    ap.add_argument("--partition-cols", default="")
    ap.add_argument("--format", default=None, help="table format (parquet|iceberg)")
    args = ap.parse_args(argv)

    spec = load_spec(args.spec)
    diags = lint_errors(spec)
    if diags:
        for d in diags:
            print(f"SPEC ERROR {d.path}: {d.message}", file=sys.stderr)
        return 2

    spark = build_session()
    # engine-dogfooded meta-check (Validator.java:459-474 analog): the
    # spec format's own schema runs as an engine spec over the node table
    from .spec.meta import meta_validate

    meta_bad = meta_validate(spark, spec)
    if meta_bad:
        for r in meta_bad:
            print(
                f"SPEC ERROR {r['pointer']}: meta-validation failed "
                f"{r['constraint_id']} (observed {r['observed_value']})",
                file=sys.stderr,
            )
        return 2
    df = read_table(spark, args.input, args.format)
    dims = {}
    for d in args.dim:
        name, _, path = d.partition("=")
        dims[name] = read_table(spark, path, args.format)

    eng = ValidationEngine(
        spec,
        id_cols=[c for c in args.id_cols.split(",") if c],
        partition_cols=[c for c in args.partition_cols.split(",") if c],
    )
    manifest = Manifest(args.manifest) if args.manifest else None
    res = eng.run_single_pass(df, args.out, dims=dims, manifest=manifest)
    eng.write_results(res, args.out)

    # the engine's collected verdict rows: summing them runs no job
    verdicts = res.verdicts.collect()
    summary = {
        "partitions_validated": len(verdicts),
        "partitions_skipped": len(res.skipped_partitions),
        "rows": int(sum(r["row_count"] for r in verdicts)),
        "failed_rows": int(sum(r["failed_rows"] for r in verdicts)),
        "drift_failures": sum(1 for d in res.drift if d["status"] == "fail"),
        "out": args.out,
    }
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
