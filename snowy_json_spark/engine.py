"""ValidationEngine: spec → compiled plans → verdicts / violations /
metrics, with resumable per-partition execution.

Lifecycle (SURVEY.md §3.1 Spark equivalent):

  spec (dict/JSON) ──compile──▶ row Column plan  +  table-check inputs
       │                              │
       └── run(df) / run_single_pass(df, out_dir) ──▶ one flagged
           projection: partition + id cols, check inputs, ``passed``,
           ``violations`` (written to out_dir/flagged and read back
           only by run_single_pass)
             → scalar checks (column_stats, quantile_drift,
               tdigest_drift): one global ``agg`` over the projection
             → verdicts: one groupBy by the partition columns plus any
               histogram ``group_by`` column, carrying each histogram
               drift check's bucket counts, collected once and merged
               per partition key on the driver; the rows feed the
               result, the manifest, write_results and the uniqueness
               join's size bound, the summed counts the drift verdicts
             → violations (one explode), the other table checks over
               the projection → metrics
             → checkpoint manifest append (a parquet file written on
               the driver, no job)

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

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from .operators.drift import (
    GRID_PROBS,
    DriftThresholds,
    HistogramSpec,
    checked_grid,
    collect_histogram,
    drift_verdicts,
    grid_ks,
    grid_snapshot,
    histogram_counts,
    quantile_aggs,
    quantile_drift_verdict,
)
from .operators.referential import referential_violations
from .operators.stats import ColumnStatsSpec, stats_exprs, stats_violations
from .operators.uniqueness import uniqueness_violations
from .plans.compiler import Compiled, Options, SpecError, compile_spec
from .plans.report import (
    VIOLATION_COLUMNS,
    checks_array,
    explode_violations,
    verdict_aggs,
)
from .sources.tables import local_frame
from .streaming.manifest import Manifest, lineage_hash, partition_key_expr

#: table-check kinds whose input may be a derived ``expr`` column
DRIFT_KINDS = ("drift", "quantile_drift", "tdigest_drift")

#: ``quantile_drift`` probabilities when the check names none
DEFAULT_PROBS = [0.25, 0.5, 0.75, 0.9, 0.99]

#: table-check kinds read off one global aggregate
#: (:meth:`ValidationEngine._scalar_aggs`)
SCALAR_KINDS = ("column_stats", "quantile_drift", "tdigest_drift")


def _stats_spec(chk: dict) -> ColumnStatsSpec:
    return ColumnStatsSpec(
        column=chk["column"],
        max_null_rate=chk.get("max_null_rate"),
        min_value=chk.get("min_value"),
        max_value=chk.get("max_value"),
        min_distinct=chk.get("min_distinct"),
        max_distinct=chk.get("max_distinct"),
        exact_distinct=chk.get("exact_distinct", False),
    )


def _hist_spec(chk: dict) -> HistogramSpec:
    return HistogramSpec(chk["column"], chk["lo"], chk["hi"], chk.get("buckets", 20))


def _check_values(row: dict, i: int) -> dict:
    """Table check ``i``'s values in a row of :meth:`ValidationEngine._scalar_aggs`
    aggregates, under their unprefixed names."""
    prefix = f"t{i}__"
    return {k[len(prefix):]: v for k, v in row.items() if k.startswith(prefix)}


def _quantile_values(chk: dict, values: dict) -> dict[str, float]:
    """A ``quantile_drift`` check's aggregated quantiles keyed by
    probability; empty when the column has no non-null value."""
    probs = chk.get("probs", DEFAULT_PROBS)
    return {str(p): float(v) for p, v in zip(probs, values["quantiles"] or [])}


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
    def _check_inputs(self, df: DataFrame) -> dict[str, Column]:
        """Every table check's input column under the name the check
        reads: source columns as they are, each drift ``expr``
        materialized under the check's ``column``.  An expr output may
        not shadow a partition, id or source input column, nor another
        expr of the same name."""
        keys = self.partition_cols + self.id_cols
        plain: dict[str, Column] = {}
        exprs: dict[tuple[str, str], None] = {}
        for chk in self.table_checks:
            kind = chk.get("kind")
            if kind in DRIFT_KINDS:
                expr = chk.get("expr")
                if expr:
                    exprs[(chk["column"], expr)] = None
                names = ([] if expr else [chk["column"]]) + [chk.get("group_by")]
                plain.update({n: F.col(n) for n in names if n in df.columns})
            elif kind in ("referential", "column_stats"):
                plain[chk["column"]] = F.col(chk["column"])
            elif kind == "unique":
                plain.update({k: F.col(k) for k in chk["keys"]})
        derived = [name for name, _ in exprs]
        clash = [n for n in derived if n in keys or n in plain or derived.count(n) > 1]
        if clash:
            raise SpecError(
                f"drift expr output {clash[0]!r} collides with a projected "
                "column; rename the drift check's column"
            )
        return {**plain, **{n: F.expr(e).alias(n) for n, e in exprs}}

    def _flagged_projection(self, df: DataFrame) -> list[Column]:
        """Partition and id columns, every table-check input, ``passed``
        and the ``violations`` array: all any output is derived from.
        Pure driver-side Column construction (~0.2 s of py4j round trips
        for the flagship spec, r06) that depends only on (session,
        schema), so memoized like :meth:`compile`."""
        key = ("flagged", df.sparkSession, df.schema.json())
        projection = self._compile_cache.get(key)
        if projection is None:
            plan = self.compile(df)
            keys = list(dict.fromkeys(self.partition_cols + self.id_cols))
            projection = [F.col(c) for c in keys]
            projection += [
                col for name, col in self._check_inputs(df).items() if name not in keys
            ]
            projection += [
                F.coalesce(plan.valid, F.lit(False)).alias("passed"),
                checks_array(plan).alias("violations"),
            ]
            self._compile_cache[key] = projection
        return projection

    def _scalar_aggs(
        self, df: DataFrame, kinds: tuple[str, ...], snapshot: dict | None = None
    ) -> list[Column]:
        """Global aggregates of the table checks of ``kinds``:
        ``column_stats``' stats, ``quantile_drift``'s and
        ``tdigest_drift``'s ``percentile_approx`` (the latter over
        ``GRID_PROBS``) with the non-null count.  Check ``i``'s are named
        ``t{i}__<name>``, so two checks on one column never collide
        (:func:`_check_values` reads them back).  Given a ``snapshot``, a
        ``tdigest_drift`` it has no entry for is left out: that check
        reports ``missing_snapshot`` and would discard its grid."""
        out: list[Column] = []
        for i, chk in enumerate(self.table_checks):
            kind, prefix = chk.get("kind"), f"t{i}__"
            if kind not in kinds:
                continue
            if kind == "column_stats":
                out += stats_exprs(df, _stats_spec(chk), prefix)
            elif kind == "quantile_drift":
                probs = chk.get("probs", DEFAULT_PROBS)
                out += quantile_aggs(chk["column"], probs, prefix=prefix)
            elif kind == "tdigest_drift" and (snapshot is None or chk.get("id") in snapshot):
                out += quantile_aggs(chk["column"], GRID_PROBS, prefix=prefix)
        return out

    def _run_table_checks(
        self,
        df: DataFrame,
        schema,
        dims: dict[str, DataFrame],
        snapshot: dict | None,
        n_rows: int,
        scalars: dict,
        histograms: dict[int, dict[str, list[float]]],
    ) -> tuple[DataFrame | None, list[dict], dict]:
        """Table checks over the flagged projection ``df`` of ``n_rows``
        rows; schema contracts against the source ``schema``; the scalar
        checks read their values from ``scalars``, the row of
        :meth:`_scalar_aggs` aggregated over that projection, and the
        histogram ``drift`` checks their current histograms from
        ``histograms`` (check index → group → bucket counts, summed off
        the verdict aggregate)."""
        spark = df.sparkSession
        tv_parts: list[DataFrame] = []
        drift_out: list[dict] = []
        stats_out: dict = {}
        empty_ids = [F.lit(None).cast("string").alias(c) for c in self.id_cols]
        # table-scope violation rows built on the driver: no id values
        no_ids = (None,) * len(self.id_cols)
        viol_ddl = ", ".join(f"{c} string" for c in self.id_cols + VIOLATION_COLUMNS)

        for i, chk in enumerate(self.table_checks):
            kind = chk.get("kind")
            cid = f"#/x-table-checks/{chk.get('id', kind)}"
            if kind == "schema":
                # declarative schema contract: metadata-only (zero data
                # scan) — missing / mistyped / unexpected columns
                svs = _schema_violations(schema, chk, cid)
                if svs:
                    tv_parts.append(
                        local_frame(spark, [no_ids + s for s in svs], viol_ddl)
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
                v = uniqueness_violations(src, keys, cid, n_rows)
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
                v = referential_violations(df, colname, dim, dim_key, cid, self.id_cols)
                tv_parts.append(v.select(*self.id_cols, *VIOLATION_COLUMNS))
            elif kind == "column_stats":
                row = _check_values(scalars, i)
                stats_out.update(row)
                svs = stats_violations(row, [_stats_spec(chk)], chk.get("id", kind))
                if svs:
                    tv_parts.append(
                        local_frame(
                            spark,
                            [no_ids + tuple(s[c] for c in VIOLATION_COLUMNS) for s in svs],
                            viol_ddl,
                        )
                    )
            elif kind == "drift":
                snap = (snapshot or {}).get(chk.get("id"))
                th = DriftThresholds(
                    psi_warn=chk.get("psi_warn", 0.1),
                    psi_fail=chk.get("psi_fail", 0.25),
                    ks_fail=chk.get("ks_fail", 0.2),
                )
                if snap is None:
                    # no baseline entry → explicit status, never a
                    # self-compare 'pass' (round-3 ADVICE, applied to
                    # every drift kind); the verdict aggregate left this
                    # check's histogram out
                    drift_out.append(
                        {"group": None, "psi": None, "ks": None,
                         "status": "missing_snapshot",
                         "check_id": chk.get("id")}
                    )
                else:
                    for v in drift_verdicts(histograms[i], snap, th):
                        v["check_id"] = chk.get("id")
                        drift_out.append(v)
            elif kind == "quantile_drift":
                cur_q = _quantile_values(chk, _check_values(scalars, i))
                snap_q = (snapshot or {}).get(chk.get("id"))
                if snap_q is None or not cur_q:
                    # no baseline, or no non-null current value: an
                    # emptied column must not pass with max_rel_diff 0
                    v = {"group": None, "psi": None, "ks": None,
                         "status": "missing_snapshot" if snap_q is None else "missing_current"}
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
                snap = (snapshot or {}).get(chk.get("id"))
                ks_fail = chk.get("ks_fail", 0.2)
                if snap is None:
                    # a typo'd check id or an absent baseline must NOT
                    # self-compare into a silent KS=0 'pass' (round-3
                    # ADVICE): report the missing baseline explicitly.
                    # The current grid is not aggregated: it would be
                    # discarded (r06)
                    v = {"group": None, "psi": None, "ks": None,
                         "status": "missing_snapshot"}
                    v["check_id"] = chk.get("id")
                    drift_out.append(v)
                    continue
                snap = checked_grid(snap, chk.get("id"))
                cur = grid_snapshot(_check_values(scalars, i))
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

        The verdicts are aggregated at call time and held on the driver,
        and the table checks run eagerly as in :meth:`run_single_pass`.
        Violations stay a lazy plan over the flagged projection of
        ``df``, so writing them re-scans the source.  Results equal
        :meth:`run_single_pass`'s, which scans once.

        Resume is **partition pruning**: pending partitions become an
        ``isin`` filter on the partition-key expression, pushed to the
        scan."""
        return self._validate(df, None, dims, snapshot, manifest)

    def run_single_pass(
        self,
        df: DataFrame,
        out_dir: str,
        dims: dict[str, DataFrame] | None = None,
        snapshot: dict | None = None,
        manifest: Manifest | None = None,
    ) -> ValidationResult:
        """One scan of the source table, period; results equal
        :meth:`run`'s.

        The compact **flagged table** (partition cols + id cols + table
        check inputs + ``passed`` + the violations array) is written to
        ``out_dir/flagged`` in a single pass and read back under the
        schema it was written with.  Verdicts (collected once, one row
        per partition key), violation rows and every table check read
        it: downstream jobs read the small projection, never the wide
        source (html stays untouched on disk)."""
        return self._validate(df, out_dir, dims, snapshot, manifest)

    def _validate(
        self,
        df: DataFrame,
        out_dir: str | None,
        dims: dict[str, DataFrame] | None,
        snapshot: dict | None,
        manifest: Manifest | None,
    ) -> ValidationResult:
        spark = df.sparkSession
        df, skipped, empty = self._apply_resume(df, manifest)
        if empty is not None:
            return empty
        flagged = df.select(*self._flagged_projection(df))
        if out_dir is not None:
            from .sources.tables import write_table

            write_table(flagged, f"{out_dir}/flagged")
            # read back under the schema just written: no inference job
            flagged = spark.read.schema(flagged.schema).parquet(f"{out_dir}/flagged")

        # every scalar table check's values, in one aggregate job
        aggs = self._scalar_aggs(flagged, SCALAR_KINDS, snapshot or {})
        scalars = flagged.agg(*aggs).first().asDict() if aggs else {}

        # the verdict table, aggregated once and held on the driver, with
        # the bucket counts of every histogram drift check alongside
        hists = self._histogram_checks(snapshot)
        group_cols = dict.fromkeys(self.partition_cols + [g for _, g in hists.values() if g])
        grouped = flagged.groupBy(*group_cols).agg(
            *verdict_aggs(F.col("passed")),
            *[histogram_counts(h).alias(f"_hist{i}") for i, (h, _) in hists.items()],
        )
        rows = grouped.select(
            "*", partition_key_expr(self.partition_cols).alias("_partition_key")
        ).collect()
        verdicts, histograms = self._merge_verdicts(rows, hists)
        viols = explode_violations(
            flagged.filter(F.size("violations") > 0), F.col("violations"), self.id_cols
        )
        table_viol, drift_out, stats_out = self._run_table_checks(
            flagged,
            df.schema,
            dims or {},
            snapshot,
            sum(v[-3] for v in verdicts.values()),
            scalars,
            histograms,
        )
        if manifest is not None and self.partition_cols:
            self._record_manifest(spark, verdicts, manifest)
        names = self.partition_cols + ["row_count", "failed_rows", "passed"]
        return ValidationResult(
            verdicts=local_frame(
                spark,
                [tuple(v) for v in verdicts.values()],
                StructType([grouped.schema[c] for c in names]),
            ),
            violations=viols,
            table_violations=table_viol,
            drift=drift_out,
            stats=stats_out,
            skipped_partitions=skipped,
        )

    def _histogram_checks(
        self, snapshot: dict | None
    ) -> dict[int, tuple[HistogramSpec, str | None]]:
        """(histogram, ``group_by``) of each histogram ``drift`` check
        with a snapshot entry, by check index; a check without one
        reports ``missing_snapshot`` and would discard its histogram."""
        return {
            i: (_hist_spec(chk), chk.get("group_by"))
            for i, chk in enumerate(self.table_checks)
            if chk.get("kind") == "drift"
            and (snapshot or {}).get(chk.get("id")) is not None
        }

    def _merge_verdicts(
        self, rows: list, hists: dict[int, tuple[HistogramSpec, str | None]]
    ) -> tuple[dict[str, list], dict[int, dict[str, list[float]]]]:
        """Merge the verdict aggregate's rows, grouped by the partition
        columns plus any histogram ``group_by`` column, into one verdict
        per partition key (partition values, ``row_count``,
        ``failed_rows`` and ``passed``: summed, summed, ANDed) and each
        histogram check's bucket counts per ``str(group)`` (``"_all"``
        without ``group_by``), dropping all-zero groups as
        :func:`collect_histogram` never sees them.  No partition columns
        → one global verdict, also on an empty input."""
        verdicts: dict[str, list] = {}
        sums: dict[int, dict[str, list[int]]] = {i: {} for i in hists}
        for r in rows:
            v = verdicts.get(r["_partition_key"])
            if v is None:
                verdicts[r["_partition_key"]] = [
                    *(r[c] for c in self.partition_cols),
                    r["row_count"],
                    r["failed_rows"],
                    r["passed"],
                ]
            else:
                v[-3] += r["row_count"]
                v[-2] += r["failed_rows"]
                v[-1] = v[-1] and r["passed"]
            for i, (h, g) in hists.items():
                acc = sums[i].setdefault(str(r[g]) if g else "_all", [0] * h.n_buckets)
                for j, n in enumerate(r[f"_hist{i}"]):
                    acc[j] += n
        if not verdicts and not self.partition_cols:
            # a global aggregate's row on an empty input
            verdicts[""] = [0, None, None]
        histograms = {
            i: {k: [float(n) for n in c] for k, c in s.items() if any(c)}
            for i, s in sums.items()
        }
        return verdicts, histograms

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
                verdicts=local_frame(spark, [], self._verdict_schema(df)),
                violations=local_frame(spark, [], self._violation_schema(df)),
                table_violations=None,
                skipped_partitions=skipped,
            )
            return df, skipped, empty
        return df.filter(keyx.isin(pending)), skipped, None

    def _record_manifest(
        self, spark: SparkSession, verdicts: dict[str, list], manifest: Manifest
    ) -> None:
        """Append a lineage record per merged verdict.

        Each key was collected as a Spark column: ``_apply_resume``
        matches manifest keys against the same ``partition_key_expr``, so
        both sides share one string form (``true``, ``1.0E20``, ``…00.5``)."""
        manifest.append(
            spark,
            [
                {
                    "partition_key": key,
                    "lineage_hash": lineage_hash(self.spec, key),
                    "status": "validated",
                    "row_count": v[-3],
                    "failed_rows": v[-2],
                    "passed": v[-1],
                }
                for key, v in verdicts.items()
            ],
        )

    # ------------------------------------------------------------------
    def collect_snapshot(self, df: DataFrame) -> dict:
        """Materialize the drift baselines from a reference run: per
        drift check the current histogram (or quantile sketch values) —
        the 'pages_snapshot_stats' artifact of FIXTURES.md §1.  Tiny
        (KBs), JSON-serializable, broadcastable.  Drift inputs come
        from the same projection the validation runs read; the
        ``quantile_drift`` and ``tdigest_drift`` entries share one
        aggregate (:meth:`_scalar_aggs`)."""
        snap: dict = {}
        src = df.select(*self._check_inputs(df).values())
        aggs = self._scalar_aggs(src, ("quantile_drift", "tdigest_drift"))
        row = src.agg(*aggs).first().asDict() if aggs else {}
        for i, chk in enumerate(self.table_checks):
            kind = chk.get("kind")
            if kind == "drift":
                snap[chk["id"]] = collect_histogram(src, _hist_spec(chk), chk.get("group_by"))
            elif kind == "quantile_drift":
                snap[chk["id"]] = _quantile_values(chk, _check_values(row, i))
            elif kind == "tdigest_drift":
                snap[chk["id"]] = grid_snapshot(_check_values(row, i))
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
        """Write verdicts/violations/metrics as parquet tables with stable
        ordering (SURVEY.md §7 hard part d): every output is sorted on its
        natural key before write, so two runs over identical inputs write
        equal rows, schema and key-value metadata, which the resume test
        and the oracle comparison rely on.  Bytes can differ between JVM
        processes: parquet-mr orders each footer's encoding list by hash
        set.  The verdicts are driver rows, one per partition key, so they
        are sorted within one partition (one job) instead of range-sorted."""
        import json as _json
        import os as _os

        from .sources.tables import write_table

        v_keys = self.partition_cols + ["passed"]
        write_table(
            res.verdicts.coalesce(1).sortWithinPartitions(*v_keys), f"{out_dir}/verdicts"
        )
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
        base = [
            f"`{c}` {df.schema[c].dataType.simpleString()}" for c in self.partition_cols
        ]
        return ", ".join(base + ["row_count long", "failed_rows long", "passed boolean"])

    def _violation_schema(self, df: DataFrame):
        base = [
            f"`{c}` {df.schema[c].dataType.simpleString()}" for c in self.id_cols
        ]
        return ", ".join(base + [f"{c} string" for c in VIOLATION_COLUMNS])
