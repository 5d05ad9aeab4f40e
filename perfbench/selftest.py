"""Self-tests of the benchmark: that its counts repeat, that its trace
routes every table check to a layer, and that its correctness checks
can fail.

Run from the root of a checkout (about six minutes on 4 cores; add
``--with-curate`` for the slow curation workload):

    python3 perfbench/selftest.py

Each test runs in a child process of its own (so each gets a fresh
JVM), drives ``run.main`` there with a short ``--seconds`` and reads the
printed report and, for traced runs, the trace file.
"""

from __future__ import annotations

import argparse
import contextlib
import glob
import io
import json
import os
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(BENCH_DIR), BENCH_DIR]

import run  # noqa: E402
import workloads  # noqa: E402

#: table-check kind → the trace layer its jobs are attributed to
KIND_LAYER = {
    "unique": "uniqueness.probe",
    "referential": "referential.probe",
    "drift": "drift",
    "quantile_drift": "quantiles",
    "tdigest_drift": "tdigest",
    "column_stats": "stats",
}
VALIDATION = {
    "validate_full": workloads.PAGES_SPEC,
    "validate_resume": workloads.PAGES_SPEC,
    "profile_drift": workloads.PROFILE_SPEC,
}
SEED = 11


def bench(workload: str, trace: int) -> tuple[dict, dict]:
    """(context line, final JSON) of one short run."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        code = run.main(
            ["--workload", workload, "--seed", str(SEED), "--seconds", "1", "--trace", str(trace)]
        )
    lines = buf.getvalue().splitlines()
    assert code == 0, f"{workload}: exit {code}"
    context = json.loads(next(x for x in lines if x.startswith("perfbench "))[len("perfbench "):])
    return context, json.loads(lines[-1])


def test_trace(workload: str) -> None:
    """Job counts repeat across ops, per op and per layer; every table
    check of the spec has jobs on its layer; layers route as documented."""
    context, result = bench(workload, 1)
    assert result["correct"], context["errors"]
    assert context["jobs_repeat"] and len(context["jobs_per_op"]) >= 2, context["jobs_per_op"]
    assert result["metrics"]["trace.layer_jobs_repeat"]["value"] == 1.0
    with open(os.path.join(run.ROOT, ".perfbench", "traces", f"{workload}-seed{SEED}.json")) as f:
        trace = json.load(f)
    jobs: dict[str, int] = {}
    for j in trace["jobs"]:
        jobs[j["layer"]] = jobs.get(j["layer"], 0) + 1
    n_traced = sum(o["traced"] for o in trace["ops"])
    for chk in VALIDATION.get(workload, {}).get("x-table-checks", []):
        layer = KIND_LAYER[chk["kind"]]
        assert jobs.get(layer, 0) >= 1, f"{workload}: check {chk['id']} has no jobs on {layer}"
    layers = set(trace["layers"])
    assert ("resume" in layers) == (workload == "validate_resume"), layers
    assert ("tdigest" in layers) == (workload == "profile_drift"), layers
    assert any(L.startswith("dedup.") for L in layers) == (workload == "curate_dedup"), layers
    print(f"ok trace {workload}: {context['jobs_per_op'][0]} jobs/op over {n_traced} traced ops")


def _corrupt_verdicts(out: str) -> None:
    """Add one failed row to the first partition's verdict."""
    con = workloads.inputs.connect()
    files = sorted(glob.glob(f"{out}/verdicts/*.parquet"))
    con.execute(
        f"CREATE TABLE v AS SELECT * FROM read_parquet({files!r})"
    )
    con.execute("UPDATE v SET failed_rows = failed_rows + 1 WHERE rowid = 0")
    for p in files:
        os.remove(p)
    con.execute(f"COPY v TO '{out}/verdicts/part-00000.parquet' (FORMAT parquet)")
    con.close()


def test_corrupted_output_fails() -> None:
    """A wrong verdict in one op's output is counted in ``failed``."""
    orig = workloads.Validate.op

    def op(self, out, span):
        orig(self, out, span)
        if out.endswith("/op2"):
            _corrupt_verdicts(out)

    workloads.Validate.op = op
    try:
        context, result = bench("validate_full", 0)
    finally:
        workloads.Validate.op = orig
    assert result["failed"] == 1 and not result["correct"], result
    assert any("verdicts differ" in e for e in context["errors"]), context["errors"]
    print(f"ok corrupted verdicts counted: {result['failed']}/{result['attempted']} failed")


def test_manifest_restored() -> None:
    """The resume manifest is restored byte-identically before each op:
    the run compares its digest with the pristine copy's every time."""
    context, result = bench("validate_resume", 0)
    assert result["correct"] and result["failed"] == 0, context["errors"]
    print(f"ok manifest restored before each of {result['attempted']} ops")


def test_manifest_not_restored_fails() -> None:
    """An op run on a manifest that was not restored counts as failed."""
    orig = workloads.Validate.prepare
    calls = []

    def prepare(self):
        calls.append(1)
        if len(calls) == run.WARMUP_OPS + 2:  # op2: keep the manifest op1 appended to
            return {"manifest_restored": workloads.dir_digest(f"{self.work}/manifest") == self.manifest_digest}
        return orig(self)

    workloads.Validate.prepare = prepare
    try:
        context, result = bench("validate_resume", 0)
    finally:
        workloads.Validate.prepare = orig
    assert result["failed"] >= 1 and not result["correct"], result
    assert any("manifest not restored" in e for e in context["errors"]), context["errors"]
    print(f"ok skipped restore counted: {result['failed']}/{result['attempted']} failed")


CASES = {
    **{f"trace-{w}": (lambda w=w: test_trace(w)) for w in [*VALIDATION, "curate_dedup"]},
    "corrupted-output": test_corrupted_output_fails,
    "manifest-restored": test_manifest_restored,
    "manifest-not-restored": test_manifest_not_restored_fails,
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--with-curate", action="store_true")
    ap.add_argument("--case", choices=sorted(CASES), help="run one test in this process")
    args = ap.parse_args()
    if args.case:
        CASES[args.case]()
        return 0
    failed = []
    for name in CASES:
        if name == "trace-curate_dedup" and not args.with_curate:
            continue
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--case", name],
            stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        )
        ok = [x for x in proc.stdout.splitlines() if x.startswith("ok ")]
        print(ok[-1] if proc.returncode == 0 and ok else f"FAIL {name}:\n{proc.stdout[-3000:]}")
        if proc.returncode != 0:
            failed.append(name)
    print("all self-tests passed" if not failed else f"failed: {', '.join(failed)}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
