"""DuckDB oracle: expected outputs recomputed from the input parquet.

The oracle never calls the package under test. It reads the same
parquet files the engine reads, evaluates the benchmark's specs in SQL
and compares each op's written outputs (parquet + ``metrics.json``)
against that. ``check_*`` functions return ``(errors, observed)``:
a list of mismatch descriptions (empty when the op is correct) and a
JSON-able summary of what the op wrote, whose digest must repeat
across ops of one run.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

from inputs import connect

#: rank tolerance for approximate quantiles (the tdigest_events oracle's)
RANK_TOL = 0.01
#: relative tolerance for HyperLogLog distinct counts: Spark's default
#: rsd 0.05 gives 512 registers, a standard error of 4.6 %; 0.25 is over
#: five of them (0.1 failed about one seed in fifty)
HLL_TOL = 0.25
#: absolute tolerance between the t-digest KS and the exact two-sample KS
TDIGEST_KS_TOL = 0.02
FLOAT_TOL = 1e-9


def digest(observed) -> str:
    return hashlib.sha256(json.dumps(observed, sort_keys=True, default=str).encode()).hexdigest()


def _parquet(path: str) -> str:
    return f"read_parquet('{path}/**/*.parquet')"


def pkey_sql(cols: list[str]) -> str:
    """SQL twin of the engine's partition key: ``a|b`` with ∅ for null."""
    return "concat_ws('|', " + ", ".join(f"coalesce(CAST({c} AS VARCHAR), '∅')" for c in cols) + ")"


def _row_rules(spec: dict) -> list[tuple[str, str]]:
    """(constraint_id, SQL failure condition) per row keyword the
    benchmark specs use. Keywords on a null value do not apply."""
    rules = []
    for col in spec.get("required", []):
        rules.append((f"#/required/{col}", f"{col} IS NULL"))
    for col, p in spec.get("properties", {}).items():
        cid = f"#/properties/{col}"
        if "pattern" in p:
            pat = p["pattern"].replace("'", "''")
            rules.append((f"{cid}/pattern", f"NOT regexp_matches({col}, '{pat}')"))
        if "minLength" in p:
            rules.append((f"{cid}/minLength", f"length({col}) < {int(p['minLength'])}"))
        if "maxLength" in p:
            rules.append((f"{cid}/maxLength", f"length({col}) > {int(p['maxLength'])}"))
        if "minimum" in p:
            rules.append((f"{cid}/minimum", f"{col} < TIMESTAMP '{p['minimum']}'"))
        if "maximum" in p:
            rules.append((f"{cid}/maximum", f"{col} > TIMESTAMP '{p['maximum']}'"))
    return [(cid, f"coalesce({cond}, false)") for cid, cond in rules]


def _psi(expected: list[float], actual: list[float], eps: float = 1e-6) -> float:
    te, ta = sum(expected), sum(actual)
    if te <= 0 or ta <= 0:
        return 0.0
    return sum(
        (max(a / ta, eps) - max(e / te, eps)) * math.log(max(a / ta, eps) / max(e / te, eps))
        for e, a in zip(expected, actual)
    )


def _binned_ks(expected: list[float], actual: list[float]) -> float:
    te, ta = sum(expected), sum(actual)
    if te <= 0 or ta <= 0:
        return 0.0
    ce = ca = best = 0.0
    for e, a in zip(expected, actual):
        ce += e / te
        ca += a / ta
        best = max(best, abs(ce - ca))
    return best


def _close(a, b, tol: float = FLOAT_TOL) -> bool:
    return a is not None and b is not None and abs(float(a) - float(b)) <= tol


class PagesOracle:
    """Expected validation outputs for one pages table and spec.

    ``pending`` restricts every expectation to the rows of those
    partition keys (the resumed run validates only them)."""

    def __init__(
        self,
        pages_path: str,
        spec: dict,
        partition_cols: list[str],
        lang_ref: list[str],
        reference_path: str | None = None,
    ):
        self.spec = spec
        self.partition_cols = partition_cols
        self.con = connect()
        self.con.execute(
            f"CREATE TABLE pages AS SELECT *, {pkey_sql(partition_cols)} AS pkey "
            f"FROM {_parquet(pages_path)}"
        )
        if reference_path is not None:
            self.con.execute(f"CREATE TABLE reference AS SELECT * FROM {_parquet(reference_path)}")
        self.lang_ref = lang_ref
        self.rules = _row_rules(spec)
        self.n_rows = self.con.execute("SELECT count(*) FROM pages").fetchone()[0]
        self.keys = [r[0] for r in self.con.execute("SELECT DISTINCT pkey FROM pages ORDER BY 1").fetchall()]
        self.expected = self._expect(None)

    def close(self) -> None:
        self.con.close()

    # ------------------------------------------------------------------
    def expect_pending(self, pending: list[str]) -> None:
        self.expected = self._expect(sorted(pending))

    def _expect(self, pending: list[str] | None) -> dict:
        con = self.con
        where = ""
        if pending is not None:
            con.execute("CREATE OR REPLACE TABLE pending_keys AS SELECT unnest(?) AS pkey", [pending])
            where = "WHERE pkey IN (SELECT pkey FROM pending_keys)"
        fails = ", ".join(f"({cond})::INT AS f{i}" for i, (_, cond) in enumerate(self.rules))
        con.execute(f"CREATE OR REPLACE TABLE cur AS SELECT *, {fails} FROM pages {where}")
        any_fail = " OR ".join(f"f{i} = 1" for i in range(len(self.rules)))
        verdicts = con.execute(
            f"SELECT pkey, count(*), sum(CASE WHEN {any_fail} THEN 1 ELSE 0 END) "
            f"FROM cur GROUP BY pkey ORDER BY pkey"
        ).fetchall()
        sums = con.execute(
            "SELECT " + ", ".join(f"sum(f{i})" for i in range(len(self.rules))) + " FROM cur"
        ).fetchone()
        exp = {
            "verdicts": {k: [int(n), int(f)] for k, n, f in verdicts},
            "violations": {
                cid: int(s) for (cid, _), s in zip(self.rules, sums) if s
            },
            "table": {},
            "drift": {},
            "stats": {},
        }
        for chk in self.spec.get("x-table-checks", []):
            cid = f"#/x-table-checks/{chk['id']}"
            kind = chk["kind"]
            if kind == "unique":
                keys = ", ".join(chk["keys"])
                exp["table"][cid] = con.execute(
                    f"SELECT count(*) FROM (SELECT {keys} FROM cur GROUP BY ALL HAVING count(*) > 1)"
                ).fetchone()[0]
            elif kind == "referential":
                exp["table"][cid] = con.execute(
                    f"SELECT count(*) FROM cur WHERE {chk['column']} IS NOT NULL "
                    f"AND {chk['column']} NOT IN (SELECT unnest(?))",
                    [self.lang_ref],
                ).fetchone()[0]
            elif kind == "drift":
                exp["drift"][chk["id"]] = self._histogram_drift(chk)
            elif kind == "column_stats":
                exp["stats"].update(self._stats(chk["column"]))
            elif kind == "quantile_drift":
                exp["drift"][chk["id"]] = {"values": self._values(chk["expr"], "cur")}
            elif kind == "tdigest_drift":
                exp["drift"][chk["id"]] = {"ks": self._exact_ks(chk["expr"])}
        return exp

    def _histogram(self, table: str, chk: dict) -> dict[str, list[float]]:
        width = (chk["hi"] - chk["lo"]) / chk.get("buckets", 20)
        n = chk.get("buckets", 20)
        rows = self.con.execute(
            f"SELECT CAST({chk['group_by']} AS VARCHAR) g, "
            f"least(greatest(floor(({chk['expr']} - {chk['lo']}) / {width}), 0), {n - 1}) b, count(*) "
            f"FROM {table} WHERE {chk['expr']} IS NOT NULL GROUP BY ALL"
        ).fetchall()
        out: dict[str, list[float]] = {}
        for g, b, c in rows:
            out.setdefault(g, [0.0] * n)[int(b)] = float(c)
        return out

    def _histogram_drift(self, chk: dict) -> dict:
        cur, ref = self._histogram("cur", chk), self._histogram("reference", chk)
        out = {}
        for g in sorted(set(cur) | set(ref)):
            if g not in cur or g not in ref:
                out[g] = {"status": "missing_current" if g not in cur else "missing_snapshot"}
                continue
            p, k = _psi(ref[g], cur[g]), _binned_ks(ref[g], cur[g])
            status = "fail" if p >= chk.get("psi_fail", 0.25) or k >= chk.get("ks_fail", 0.2) else (
                "warn" if p >= chk.get("psi_warn", 0.1) else "pass"
            )
            out[g] = {"psi": p, "ks": k, "status": status}
        return out

    def _stats(self, col: str) -> dict:
        fmt = (
            f"strftime({{}}({col}), '%Y-%m-%d %H:%M:%S')"
            if col == "warc_ts"
            else f"{{}}({col})"
        )
        row = self.con.execute(
            f"SELECT count(*), avg(CASE WHEN {col} IS NULL THEN 1.0 ELSE 0.0 END), "
            f"{fmt.format('min')}, {fmt.format('max')}, count(DISTINCT {col}) FROM cur"
        ).fetchone()
        return {
            f"{col}__count": str(row[0]),
            f"{col}__null_rate": float(row[1]),
            f"{col}__min": str(row[2]),
            f"{col}__max": str(row[3]),
            f"{col}__distinct": int(row[4]),
        }

    def _values(self, expr: str, table: str) -> list[float]:
        return [
            r[0]
            for r in self.con.execute(
                f"SELECT CAST({expr} AS DOUBLE) v FROM {table} WHERE v IS NOT NULL ORDER BY v"
            ).fetchall()
        ]

    def _exact_ks(self, expr: str) -> float:
        import numpy as np

        a = np.asarray(self._values(expr, "cur"))
        b = np.asarray(self._values(expr, "reference"))
        xs = np.union1d(a, b)
        fa = np.searchsorted(a, xs, side="right") / len(a)
        fb = np.searchsorted(b, xs, side="right") / len(b)
        return float(np.max(np.abs(fa - fb)))

    # ------------------------------------------------------------------
    def check(self, out_dir: str) -> tuple[list[str], dict]:
        """Compare one validation op's outputs with the expectation."""
        con, exp, errors = self.con, self.expected, []
        verdicts = {
            k: [int(n), int(f)]
            for k, n, f in con.execute(
                f"SELECT {pkey_sql(self.partition_cols)}, row_count, failed_rows "
                f"FROM {_parquet(out_dir + '/verdicts')}"
            ).fetchall()
        }
        if verdicts != exp["verdicts"]:
            bad = sorted(k for k in set(verdicts) | set(exp["verdicts"]) if verdicts.get(k) != exp["verdicts"].get(k))
            errors.append(f"verdicts differ on {len(bad)} partitions, e.g. {bad[:3]}")
        violations = dict(
            con.execute(
                f"SELECT constraint_id, count(*) FROM {_parquet(out_dir + '/violations')} GROUP BY 1"
            ).fetchall()
        )
        if violations != exp["violations"]:
            errors.append(f"violation counts {violations} != {exp['violations']}")
        table = {}
        if os.path.isdir(out_dir + "/table_violations"):
            table = dict(
                con.execute(
                    f"SELECT constraint_id, count(*) FROM {_parquet(out_dir + '/table_violations')} GROUP BY 1"
                ).fetchall()
            )
        for cid, n in exp["table"].items():
            if table.get(cid, 0) != n:
                errors.append(f"{cid}: {table.get(cid, 0)} table violations, expected {n}")
        with open(out_dir + "/metrics.json") as f:
            metrics = json.load(f)
        errors += self._check_drift(metrics["drift"])
        errors += self._check_stats(metrics["stats"])
        observed = {
            "verdicts": verdicts,
            "violations": violations,
            "table": table,
            "metrics": metrics,
        }
        return errors, observed

    def _check_drift(self, drift: list[dict]) -> list[str]:
        errors = []
        by_check: dict[str, list[dict]] = {}
        for d in drift:
            by_check.setdefault(d["check_id"], []).append(d)
        for cid, want in self.expected["drift"].items():
            got = by_check.get(cid, [])
            if "values" in want:  # quantile_drift: rank bound on each reported quantile
                vals = want["values"]
                n = len(vals)
                import bisect

                quants = got[0].get("quantiles", {}) if got else {}
                if not quants:
                    errors.append(f"{cid}: no quantiles reported")
                for p, v in quants.items():
                    lo = bisect.bisect_left(vals, v) / n
                    hi = bisect.bisect_right(vals, v) / n
                    if not (lo - RANK_TOL <= float(p) <= hi + RANK_TOL):
                        errors.append(f"{cid}: q{p}={v} has rank [{lo:.4f}, {hi:.4f}]")
            elif "ks" in want:  # tdigest_drift: KS near the exact two-sample KS
                ks = got[0].get("ks") if got else None
                if not _close(ks, want["ks"], TDIGEST_KS_TOL):
                    errors.append(f"{cid}: t-digest KS {ks} vs exact {want['ks']:.4f}")
            else:  # histogram drift per group
                got_g = {d["group"]: d for d in got}
                if set(got_g) != set(want):
                    errors.append(f"{cid}: groups {sorted(got_g)} != {sorted(want)}")
                    continue
                for g, w in want.items():
                    d = got_g[g]
                    if d["status"] != w["status"] or (
                        "psi" in w and not (_close(d["psi"], w["psi"]) and _close(d["ks"], w["ks"]))
                    ):
                        errors.append(f"{cid}[{g}]: {d} != {w}")
        return errors

    def _check_stats(self, stats: dict) -> list[str]:
        errors = []
        for k, want in self.expected["stats"].items():
            got = stats.get(k)
            if k.endswith("__distinct"):
                ok = got is not None and abs(int(got) - want) <= HLL_TOL * want
            elif k.endswith("__null_rate"):
                ok = _close(got, want)
            else:
                ok = got == want
            if not ok:
                errors.append(f"stats {k}: {got} != {want}")
        return errors


class CurationOracle:
    """Expected ``keep``/``drop_reason`` per document: blocked host, then
    the Gopher quality rules, then every text-identical survivor except
    the lowest id is a near duplicate."""

    STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]

    def __init__(self, corpus_path: str, blocked_domains: list[str]):
        self.con = connect()
        host = "regexp_extract(url, '^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#:@]+)', 1)"
        is_blocked = " OR ".join(
            f"(lower({host}) = '{d}' OR ends_with(lower({host}), '.{d}'))" for d in blocked_domains
        )
        norm = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"
        ws = f"list_filter(string_split({norm}, ' '), w -> w <> '')"
        stop = "[" + ", ".join(f"'{w}'" for w in self.STOPWORDS) + "]"
        self.con.execute(
            f"""
            CREATE TABLE docs AS
            WITH w AS (
              SELECT doc_id, url, text, {norm} AS norm, {ws} AS ws FROM {_parquet(corpus_path)}
            ), q AS (
              SELECT doc_id, norm, coalesce({is_blocked}, false) AS blocked,
                coalesce(
                  len(ws) BETWEEN 50 AND 100000
                  AND list_sum(list_transform(ws, w -> length(w))) / len(ws) BETWEEN 3 AND 10
                  AND len(list_filter(ws, w -> regexp_matches(w, '[a-z]'))) / len(ws) >= 0.8
                  AND len(list_filter(ws, w -> contains(w, '...'))) / len(ws) <= 0.1
                  AND len(list_filter(ws, w -> list_contains({stop}, w))) >= 2,
                  false) AS quality_ok
              FROM w
            )
            SELECT doc_id,
              CASE WHEN blocked THEN 'blocked_url'
                   WHEN NOT quality_ok THEN 'quality'
                   WHEN doc_id <> min(doc_id) OVER (PARTITION BY norm, blocked OR NOT quality_ok)
                   THEN 'near_dup'
              END AS drop_reason
            FROM q
            """
        )
        self.n_rows = self.con.execute("SELECT count(*) FROM docs").fetchone()[0]
        self.survivors = self.con.execute(
            "SELECT count(*) FROM docs WHERE drop_reason IS NULL OR drop_reason = 'near_dup'"
        ).fetchone()[0]
        self.reasons = dict(
            self.con.execute("SELECT coalesce(drop_reason, 'keep'), count(*) FROM docs GROUP BY 1").fetchall()
        )

    def close(self) -> None:
        self.con.close()

    def check(self, out_dir: str) -> tuple[list[str], dict]:
        got = f"{_parquet(out_dir)}"
        bad = self.con.execute(
            f"""
            SELECT count(*) FROM docs d FULL OUTER JOIN {got} g USING (doc_id)
            WHERE d.doc_id IS NULL OR g.doc_id IS NULL
               OR d.drop_reason IS DISTINCT FROM g.drop_reason
               OR g.keep IS DISTINCT FROM (d.drop_reason IS NULL)
            """
        ).fetchone()[0]
        reasons = dict(
            self.con.execute(f"SELECT coalesce(drop_reason, 'keep'), count(*) FROM {got} GROUP BY 1").fetchall()
        )
        errors = [] if bad == 0 else [f"{bad} documents with a wrong keep/drop_reason; got {reasons}, expected {self.reasons}"]
        return errors, {"reasons": reasons}
