"""ValidationEngine: spec → compiled plans → verdicts / violations /
metrics, with resumable per-partition execution.

Lifecycle (SURVEY.md §3.1 Spark equivalent):

  spec (dict/JSON) ──compile──▶ row Column plan  +  table-check plans
       │                              │
       └──────── run(df) ────────────▶ one select for all row checks,
                                       agg/join jobs for table checks
                                       → verdicts, violations, metrics
                                       → checkpoint manifest append

Table-scope checks live under the spec's ``x-table-checks`` key (an
engine extension — Snow has no table scope):

```json
{"x-table-checks": [
  {"id": "url_unique",  "kind": "unique",      "keys": ["url"]},
  {"id": "lang_valid",  "kind": "referential", "column": "lang", "ref": "lang_ref"},
  {"id": "ts_stats",    "kind": "column_stats","column": "warc_ts",
   "max_null_rate": 0.0},
  {"id": "len_drift",   "kind": "drift",       "column": "text_len",
   "lo": 0, "hi": 4000, "buckets": 20, "group_by": "lang",
   "expr": "length(text)"}
]}
```
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.drift import (
    GRID_PROBS,
    DriftThresholds,
    HistogramSpec,
    checked_grid,
    collect_histogram,
    collect_quantiles,
    drift_verdicts,
    grid_ks,
    grid_snapshot,
    quantile_drift_verdict,
    quantiles,
)
from .operators.referential import referential_violations
from .operators.stats import ColumnStatsSpec, column_stats, stats_violations
from .operators.uniqueness import uniqueness_violations
from .plans.compiler import Compiled, Options, SpecError, compile_spec
from .plans.report import (
    VIOLATION_COLUMNS,
    checks_array,
    partition_verdicts,
    violations,
    with_verdict,
)
from .streaming.manifest import Manifest, lineage_hash, partition_key_expr


def _schema_violations(schema, chk: dict, cid: str) -> list[tuple]:
    """(constraint_id, instance_path, observed_value) rows for a
    ``kind: "schema"`` contract: expected ``columns`` is a dict of
    column name → Spark ``simpleString`` type; ``allow_extra`` (default
    True) controls whether undeclared columns violate."""
    expected: dict = chk["columns"]
    actual = {f.name: f.dataType.simpleString() for f in schema.fields}
    out: list[tuple] = []
    for name, typ in expected.items():
        if name not in actual:
            out.append((f"{cid}/{name}", f"#/{name}", "missing_column"))
        elif actual[name] != typ:
            out.append(
                (f"{cid}/{name}", f"#/{name}", f"type={actual[name]} expected={typ}")
            )
    if not chk.get("allow_extra", True):
        for name in actual:
            if name not in expected:
                out.append((f"{cid}/{name}", f"#/{name}", "unexpected_column"))
    return sorted(out)


@dataclass
class ValidationResult:
    verdicts: DataFrame  # per-partition: partition cols + row_count/failed_rows/passed
    violations: DataFrame  # row-scope: id cols + constraint_id/instance_path/observed
    table_violations: DataFrame | None  # table-scope violations (same shape)
    drift: list[dict] = field(default_factory=list)
    stats: dict = field(default_factory=dict)
    skipped_partitions: list[str] = field(default_factory=list)


class ValidationEngine:
    def __init__(
        self,
        spec: dict,
        options: Options | None = None,
        id_cols: list[str] | None = None,
        partition_cols: list[str] | None = None,
    ):
        self.spec = spec
        self.options = options or Options()
        self.id_cols = id_cols or ["url"]
        self.partition_cols = partition_cols or []
        self.table_checks = spec.get("x-table-checks", [])
        self._compile_cache: dict = {}

    # ------------------------------------------------------------------
    def compile(self, df: DataFrame) -> Compiled:
        """Compiled plan for ``df``'s schema, memoized per (session,
        schema).

        Compilation is driver-side Column-tree construction — ~0.14 s of
        py4j round trips for the flagship spec (r06 measurement), paid on
        EVERY run.  The spec and options are fixed per engine and the
        compiled Columns are unresolved expression trees reusable across
        any DataFrame with the same schema, so re-runs (resume batches,
        repeated validations, benches) hit the cache.  Keyed by session
        too, so an engine outliving a stopped session recompiles instead
        of replaying stale JVM handles."""
        key = (df.sparkSession, df.schema.json())
        plan = self._compile_cache.get(key)
        if plan is None:
            plan = compile_spec(self.spec, df.schema, self.options)
            self._compile_cache[key] = plan
        return plan

    # ------------------------------------------------------------------
    def annotations(self, df: DataFrame) -> DataFrame:
        """processAnnotations analog at the engine surface: one row per
        (row, applied annotation) — (id cols..., instance_path, name,
        constraint_id, value_json), sorted like `Results.java:107-123`."""
        from .plans.report import ANNOTATION_COLUMNS, annotations

        plan = self.compile(df)
        return annotations(df, plan, self.id_cols).orderBy(
            *self.id_cols, *ANNOTATION_COLUMNS
        )

    # ------------------------------------------------------------------
    def applications(self, df: DataFrame) -> DataFrame:
        """Pass-result recording at the engine surface: one row per
        (row, keyword application) with a ``passed`` flag and Snow's
        absolute schema location (`ValidatorContext.java:851-865`
        records every application, pass and fail).  Dense — rows ×
        leaves — by design; use ``run().violations`` for the sparse
        view."""
        from .plans.report import applications, with_abs_locations

        plan = self.compile(df)
        return with_abs_locations(applications(df, plan, self.id_cols), plan)

    # ------------------------------------------------------------------
    def _run_table_checks(
        self,
        df: DataFrame,
        dims: dict[str, DataFrame],
        snapshot: dict | None,
        table_checks: list | None = None,
    ) -> tuple[DataFrame | None, list[dict], dict]:
        spark = df.sparkSession
        tv_parts: list[DataFrame] = []
        drift_out: list[dict] = []
        stats_out: dict = {}
        empty_ids = [F.lit(None).cast("string").alias(c) for c in self.id_cols]

        for chk in table_checks if table_checks is not None else self.table_checks:
            kind = chk.get("kind")
            cid = f"#/x-table-checks/{chk.get('id', kind)}"
            if kind == "schema":
                # declarative schema contract: metadata-only (zero data
                # scan) — missing / mistyped / unexpected columns
                svs = _schema_violations(df.schema, chk, cid)
                if svs:
                    tv_parts.append(
                        spark.createDataFrame(
                            [tuple([None] * len(self.id_cols)) + s for s in svs],
                            ", ".join(
                                [f"{c} string" for c in self.id_cols]
                                + [f"{c} string" for c in VIOLATION_COLUMNS]
                            ),
                        )
                    )
            elif kind == "unique":
                keys = chk["keys"]
                src = df
                if chk.get("canonicalize_urls"):
                    # uniqueness on the CANONICAL url (operators/urls.py):
                    # trivially-different crawl variants count as dups
                    from .operators.urls import canonicalize_url

                    src = df.withColumns(
                        {
                            k: F.coalesce(canonicalize_url(F.col(k)), F.col(k))
                            for k in keys
                        }
                    )
                v = uniqueness_violations(src, keys, cid)
                # project to the standard shape: id cols unavailable for an
                # aggregated dup row → carry key repr in observed_value
                tv_parts.append(
                    v.select(*empty_ids, *[F.col(c) for c in VIOLATION_COLUMNS])
                )
            elif kind == "referential":
                colname = chk["column"]
                ref = chk["ref"]
                if ref not in dims:
                    raise SpecError(f"referential check {cid}: unknown dim {ref!r}")
                dim = dims[ref]
                dim_key = chk.get("ref_column", colname)
                v = referential_violations(
                    df,
                    colname,
                    dim,
                    dim_key,
                    cid,
                    self.id_cols,
                    broadcast_dim=chk.get("broadcast", True),
                )
                tv_parts.append(v.select(*self.id_cols, *VIOLATION_COLUMNS))
            elif kind == "column_stats":
                spec = ColumnStatsSpec(
                    column=chk["column"],
                    max_null_rate=chk.get("max_null_rate"),
                    min_value=chk.get("min_value"),
                    max_value=chk.get("max_value"),
                    min_distinct=chk.get("min_distinct"),
                    max_distinct=chk.get("max_distinct"),
                    exact_distinct=chk.get("exact_distinct", False),
                )
                row = column_stats(df, [spec]).collect()[0].asDict()
                stats_out.update(row)
                svs = stats_violations(row, [spec])
                if svs:
                    tv_parts.append(
                        spark.createDataFrame(
                            [
                                tuple([None] * len(self.id_cols))
                                + (
                                    s["constraint_id"],
                                    s["instance_path"],
                                    s["observed_value"],
                                )
                                for s in svs
                            ],
                            ", ".join(
                                [f"{c} string" for c in self.id_cols]
                                + [f"{c} string" for c in VIOLATION_COLUMNS]
                            ),
                        )
                    )
            elif kind == "drift":
                expr = chk.get("expr")
                src = df.withColumn(chk["column"], F.expr(expr)) if expr else df
                hspec = HistogramSpec(
                    chk["column"], chk["lo"], chk["hi"], chk.get("buckets", 20)
                )
                snap = (snapshot or {}).get(chk.get("id"))
                th = DriftThresholds(
                    psi_warn=chk.get("psi_warn", 0.1),
                    psi_fail=chk.get("psi_fail", 0.25),
                    ks_fail=chk.get("ks_fail", 0.2),
                )
                if snap is None:
                    # no baseline entry → explicit status, never a
                    # self-compare 'pass' (round-3 ADVICE, applied to
                    # every drift kind).  The current histogram is NOT
                    # computed: collect_histogram is an eager full-scan
                    # aggregation whose result would be discarded here
                    # (r06 — this was a wasted job per drift check on
                    # every snapshot-less run; guide §1.2 "don't compute
                    # things you throw away")
                    drift_out.append(
                        {"group": None, "psi": None, "ks": None,
                         "status": "missing_snapshot",
                         "check_id": chk.get("id")}
                    )
                else:
                    cur = collect_histogram(src, hspec, chk.get("group_by"))
                    for v in drift_verdicts(cur, snap, th):
                        v["check_id"] = chk.get("id")
                        drift_out.append(v)
            elif kind == "quantile_drift":
                expr = chk.get("expr")
                src = df.withColumn(chk["column"], F.expr(expr)) if expr else df
                probs = chk.get("probs", [0.25, 0.5, 0.75, 0.9, 0.99])
                cur_q = collect_quantiles(src, chk["column"], probs)
                snap_q = (snapshot or {}).get(chk.get("id"))
                if snap_q is None:
                    v = {"group": None, "psi": None, "ks": None,
                         "status": "missing_snapshot"}
                else:
                    v = quantile_drift_verdict(
                        cur_q, snap_q, chk.get("rel_tolerance", 0.1)
                    )
                v["check_id"] = chk.get("id")
                v["quantiles"] = cur_q
                drift_out.append(v)
            elif kind == "tdigest_drift":
                # north-star drift variant: the current quantile grid vs
                # the reference snapshot's grid, KS on the grid CDFs
                # (tail-resolving where fixed-bucket histograms are not)
                expr = chk.get("expr")
                src = df.withColumn(chk["column"], F.expr(expr)) if expr else df
                snap = (snapshot or {}).get(chk.get("id"))
                ks_fail = chk.get("ks_fail", 0.2)
                if snap is None:
                    # a typo'd check id or an absent baseline must NOT
                    # self-compare into a silent KS=0 'pass' (round-3
                    # ADVICE): report the missing baseline explicitly.
                    # The current sketch is not computed — it is an eager
                    # full-scan job whose output would be discarded (r06)
                    v = {"group": None, "psi": None, "ks": None,
                         "status": "missing_snapshot"}
                    v["check_id"] = chk.get("id")
                    drift_out.append(v)
                    continue
                snap = checked_grid(snap, chk.get("id"))
                cur = grid_snapshot(quantiles(src, chk["column"], GRID_PROBS).first())
                if cur["n"] == 0 or snap["n"] == 0:
                    v = {"group": None, "psi": None, "ks": None,
                         "status": "missing_current" if cur["n"] == 0 else "missing_snapshot"}
                else:
                    k = grid_ks(cur["grid"], snap["grid"])
                    v = {
                        "group": None,
                        "psi": None,
                        "ks": k,
                        "status": "fail" if k >= ks_fail else "pass",
                    }
                v["check_id"] = chk.get("id")
                drift_out.append(v)
            else:
                raise SpecError(f"unknown table check kind: {kind!r}")

        table_viol = None
        if tv_parts:
            table_viol = tv_parts[0]
            for p in tv_parts[1:]:
                table_viol = table_viol.unionByName(p)
        return table_viol, drift_out, stats_out

    # ------------------------------------------------------------------
    def run(
        self,
        df: DataFrame,
        dims: dict[str, DataFrame] | None = None,
        snapshot: dict | None = None,
        manifest: Manifest | None = None,
    ) -> ValidationResult:
        """Validate ``df``; with a manifest, skip validated partitions.

        Resume is **partition pruning**: pending partitions become an
        ``isin`` filter on the partition-key expression, pushed to the
        scan."""
        spark = df.sparkSession
        df, skipped, empty = self._apply_resume(df, manifest)
        if empty is not None:
            return empty

        plan = self.compile(df)
        if self.partition_cols:
            verdicts = partition_verdicts(df, plan, self.partition_cols)
        else:
            verdicts = partition_verdicts(
                df.withColumn("_all", F.lit("all")), plan, ["_all"]
            )
        viols = violations(df, plan, self.id_cols)
        table_viol, drift_out, stats_out = self._run_table_checks(
            df, dims or {}, snapshot
        )

        verdicts = self._record_manifest(spark, verdicts, manifest)

        return ValidationResult(
            verdicts=verdicts,
            violations=viols,
            table_violations=table_viol,
            drift=drift_out,
            stats=stats_out,
            skipped_partitions=skipped,
        )

    # ------------------------------------------------------------------
    def _apply_resume(
        self, df: DataFrame, manifest: Manifest | None
    ) -> tuple[DataFrame, list[str], ValidationResult | None]:
        """Resume = partition pruning: pending partitions become an
        ``isin`` filter on the partition-key expression, pushed to the
        scan.  Returns (filtered df, skipped keys, early-exit result)."""
        if manifest is None or not self.partition_cols:
            return df, [], None
        spark = df.sparkSession
        keyx = partition_key_expr(self.partition_cols)
        all_keys = [r["k"] for r in df.select(keyx.alias("k")).distinct().collect()]
        done = manifest.validated_keys(spark, self.spec)
        pending = [k for k in all_keys if k not in done]
        skipped = sorted(set(all_keys) & done)
        if not pending:
            empty = ValidationResult(
                verdicts=spark.createDataFrame([], self._verdict_schema(df)),
                violations=spark.createDataFrame([], self._violation_schema(df)),
                table_violations=None,
                skipped_partitions=skipped,
            )
            return df, skipped, empty
        return df.filter(keyx.isin(pending)), skipped, None

    def _record_manifest(
        self, spark: SparkSession, verdicts: DataFrame, manifest: Manifest | None
    ) -> DataFrame:
        """Append per-partition lineage records; returns the verdicts
        re-wrapped from the collected rows so they aren't recomputed."""
        if manifest is None or not self.partition_cols:
            return verdicts
        vrows = verdicts.collect()
        keyed = []
        for r in vrows:
            key = "|".join(
                str(r[c]) if r[c] is not None else "∅" for c in self.partition_cols
            )
            keyed.append(
                {
                    "partition_key": key,
                    "lineage_hash": lineage_hash(self.spec, key),
                    "status": "validated",
                    "row_count": r["row_count"],
                    "failed_rows": r["failed_rows"],
                    "passed": r["passed"],
                }
            )
        manifest.append(spark, keyed)
        return spark.createDataFrame(vrows, verdicts.schema)

    # ------------------------------------------------------------------
    def run_single_pass(
        self,
        df: DataFrame,
        out_dir: str,
        dims: dict[str, DataFrame] | None = None,
        snapshot: dict | None = None,
        manifest: Manifest | None = None,
    ) -> ValidationResult:
        """One scan of the source table, period.

        ``run()`` is lazy-DataFrame-shaped and re-scans the source per
        consumer — fine locally, wasteful at 100 TB.  This variant
        materializes a compact **flagged table** (partition cols + id
        cols + drift inputs + ``passed`` + the violations array) in a
        single pass, then derives verdicts, violation rows, uniqueness,
        referential and drift checks from that table: every downstream
        job reads the small projection, never the wide source (html
        stays untouched on disk)."""
        from .sources.tables import write_table

        spark = df.sparkSession
        df, skipped, empty = self._apply_resume(df, manifest)
        if empty is not None:
            return empty
        plan = self.compile(df)

        # the flagged projection is pure driver-side Column construction
        # (another ~0.2 s of py4j round trips for the flagship spec, r06)
        # and depends only on (session, schema) — memoized like compile()
        proj_key = ("single_pass_proj", df.sparkSession, df.schema.json())
        cached_proj = self._compile_cache.get(proj_key)
        if cached_proj is None:
            valid = F.coalesce(plan.valid, F.lit(False))

            # every table check re-runs against the narrow flagged table, so
            # each check's input column must be in the projection (deduped by
            # name — a column may serve several roles)
            extra: dict = {}
            drift_exprs: dict = {}
            for chk in self.table_checks:
                kind = chk.get("kind")
                if kind in ("drift", "quantile_drift", "tdigest_drift"):
                    expr = chk.get("expr")
                    if expr:
                        drift_exprs[chk["column"]] = F.expr(expr).alias(chk["column"])
                    elif chk["column"] in df.columns:
                        extra[chk["column"]] = F.col(chk["column"])
                elif kind == "referential":
                    extra[chk["column"]] = F.col(chk["column"])
                elif kind == "unique":
                    for k in chk["keys"]:
                        extra[k] = F.col(k)
                elif kind == "column_stats":
                    extra[chk["column"]] = F.col(chk["column"])

            names = list(dict.fromkeys(self.partition_cols + self.id_cols))
            projection = [F.col(c) for c in names]
            for name, col in extra.items():
                if name not in names:
                    names.append(name)
                    projection.append(col)
            for name, col in drift_exprs.items():
                if name in names:
                    raise SpecError(
                        f"drift expr output {name!r} collides with a projected "
                        "column; rename the drift check's column"
                    )
                names.append(name)
                projection.append(col)
            projection += [
                valid.alias("passed"),
                checks_array(plan).alias("violations"),
            ]
            cached_proj = projection
            self._compile_cache[proj_key] = cached_proj
        projection = cached_proj

        flagged_path = f"{out_dir}/flagged"
        write_table(df.select(*projection), flagged_path)
        back = spark.read.parquet(flagged_path)

        if self.partition_cols:
            verdicts = back.groupBy(*self.partition_cols).agg(
                F.count(F.lit(1)).alias("row_count"),
                F.sum((~F.col("passed")).cast("long")).alias("failed_rows"),
                F.min("passed").alias("passed"),
            )
        else:
            verdicts = back.agg(
                F.count(F.lit(1)).alias("row_count"),
                F.sum((~F.col("passed")).cast("long")).alias("failed_rows"),
                F.min("passed").alias("passed"),
            )
        viols = (
            back.filter(F.size("violations") > 0)
            .select(*self.id_cols, F.explode("violations").alias("_v"))
            .select(
                *self.id_cols, *[F.col(f"_v.{c}").alias(c) for c in VIOLATION_COLUMNS]
            )
        )
        # drift inputs were materialized under chk["column"] in the
        # flagged table — drop the exprs so they aren't re-applied
        # schema contracts check the ORIGINAL (wide) schema, not the
        # narrow flagged projection; everything else re-runs against it
        checks_for_back = [
            {k: v for k, v in chk.items() if k != "expr"}
            if chk.get("kind") in ("drift", "quantile_drift", "tdigest_drift")
            else chk
            for chk in self.table_checks
            if chk.get("kind") != "schema"
        ]
        schema_checks = [c for c in self.table_checks if c.get("kind") == "schema"]
        table_viol, drift_out, stats_out = self._run_table_checks(
            back, dims or {}, snapshot, table_checks=checks_for_back
        )
        if schema_checks:
            sv, _, _ = self._run_table_checks(
                df, dims or {}, snapshot, table_checks=schema_checks
            )
            if sv is not None:
                table_viol = sv if table_viol is None else table_viol.unionByName(sv)
        verdicts = self._record_manifest(spark, verdicts, manifest)
        return ValidationResult(
            verdicts=verdicts,
            violations=viols,
            table_violations=table_viol,
            drift=drift_out,
            stats=stats_out,
            skipped_partitions=skipped,
        )

    # ------------------------------------------------------------------
    def collect_snapshot(self, df: DataFrame) -> dict:
        """Materialize the drift baselines from a reference run: per
        drift check the current histogram (or quantile sketch values) —
        the 'pages_snapshot_stats' artifact of FIXTURES.md §1.  Tiny
        (KBs), JSON-serializable, broadcastable."""
        snap: dict = {}
        for chk in self.table_checks:
            kind = chk.get("kind")
            expr = chk.get("expr")
            src = df.withColumn(chk["column"], F.expr(expr)) if expr else df
            if kind == "drift":
                hspec = HistogramSpec(
                    chk["column"], chk["lo"], chk["hi"], chk.get("buckets", 20)
                )
                snap[chk["id"]] = collect_histogram(src, hspec, chk.get("group_by"))
            elif kind == "quantile_drift":
                probs = chk.get("probs", [0.25, 0.5, 0.75, 0.9, 0.99])
                snap[chk["id"]] = collect_quantiles(src, chk["column"], probs)
            elif kind == "tdigest_drift":
                snap[chk["id"]] = grid_snapshot(
                    quantiles(src, chk["column"], GRID_PROBS).first()
                )
        return snap

    @staticmethod
    def save_snapshot(snapshot: dict, path: str) -> None:
        import json as _json

        with open(path, "w") as f:
            _json.dump(snapshot, f, sort_keys=True)

    @staticmethod
    def load_snapshot(path: str) -> dict:
        import json as _json

        with open(path) as f:
            return _json.load(f)

    # ------------------------------------------------------------------
    def write_results(self, res: ValidationResult, out_dir: str) -> None:
        """Write verdicts/violations/metrics as parquet tables with
        byte-stable ordering (SURVEY.md §7 hard part d): every output is
        range-sorted on its natural key before write, so two runs over
        identical inputs produce identical files — the property the
        resume test and the oracle byte-comparison rely on."""
        import json as _json
        import os as _os

        from .sources.tables import write_table

        v_keys = (self.partition_cols or []) + ["passed"]
        write_table(res.verdicts.orderBy(*v_keys), f"{out_dir}/verdicts")
        write_table(
            res.violations.orderBy(*self.id_cols, "constraint_id", "instance_path"),
            f"{out_dir}/violations",
        )
        if res.table_violations is not None:
            write_table(
                res.table_violations.orderBy("constraint_id", "observed_value"),
                f"{out_dir}/table_violations",
            )
        _os.makedirs(out_dir, exist_ok=True)
        with open(f"{out_dir}/metrics.json", "w") as f:
            _json.dump(
                {
                    "stats": {k: str(v) for k, v in sorted(res.stats.items())},
                    "drift": res.drift,
                    "skipped_partitions": res.skipped_partitions,
                },
                f,
                indent=2,
                sort_keys=True,
            )

    # ------------------------------------------------------------------
    def _verdict_schema(self, df: DataFrame):
        cols = self.partition_cols or ["_all"]
        base = [
            f"`{c}` {df.schema[c].dataType.simpleString()}"
            if c in df.columns
            else f"`{c}` string"
            for c in cols
        ]
        return ", ".join(base + ["row_count long", "failed_rows long", "passed boolean"])

    def _violation_schema(self, df: DataFrame):
        base = [
            f"`{c}` {df.schema[c].dataType.simpleString()}" for c in self.id_cols
        ]
        return ", ".join(base + [f"{c} string" for c in VIOLATION_COLUMNS])
