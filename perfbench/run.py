"""Benchmark of the snowy-json-spark engine through its spark-submit path.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload validate_resume --seed 1 --seconds 12 --trace 0

Workloads: ``validate_full``, ``validate_resume``, ``profile_drift``,
``curate_dedup`` (see perfbench/README.md; BENCHMARK.json gates two of
them).  One driver process, ``local[nproc]``, one client running ops
back to back (closed loop).  Inputs are generated from ``--seed``
during set-up; every op is checked against a DuckDB oracle and against
the first op's output digest.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` enables the
Spark UI REST endpoint, alternates traced and plain ops, and prints the
per-layer metrics beside the end-to-end ones of its plain ops.  The
last line of standard output is one JSON object ``{"correct",
"attempted", "failed", "metrics"}`` whose metrics are the ones
BENCHMARK.json lists for the mode (``end_to_end`` or ``per_layer``);
the lines before it are a readable report with every metric.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
#: repetitions of the program's set-up calls (snapshot, manifest);
#: ``setup_s`` takes their median
SETUP_REPS = 3
#: untimed ops before the timed ones: op times fall over the first ops
#: of a run (JIT, code generation, Python workers); after two warm-up
#: ops the first timed op can take a third more CPU than the fourth
WARMUP_OPS = 2
#: timed ops at least; their median leaves that first op out when it
#: is the slowest
MIN_OPS = 4
MAX_OPS = 200
DRIVER_MEM = "2g"
#: name prefixes (``comm`` is cut at 15 characters) of the JVM's JIT
#: compiler threads, whose CPU ``op_cpu_s`` leaves out
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def host_probe() -> float:
    """Fixed single-thread CPU work (BLAS pinned to one thread before
    numpy loads): seconds, best of three."""
    import numpy as np

    a = np.random.RandomState(0).rand(256, 256)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        for _ in range(40):
            (a @ a).sum()
        best = min(best, time.perf_counter() - t0)
    return best


def proc_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _proc_stat(pid: int | str) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None once
    the process (or thread, as ``"<pid>/task/<tid>"``) is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    return stat[stat.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit() and (fields := _proc_stat(int(name))) is not None:
            parent[int(name)] = int(fields[1])
    out, frontier = [], [root]
    while frontier:
        kids = [c for c, p in parent.items() if p == frontier[-1]]
        frontier.pop()
        out += kids
        frontier += kids
    return out


def end_jvm(proc: subprocess.Popen, timeout_s: float = 60.0) -> None:
    """End the session's JVM, which exits when its stdin closes, and wait
    until it and every process under it (the Python workers) ended."""
    pids = descendants(proc.pid)
    proc.stdin.close()
    try:
        proc.wait(timeout_s)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.time() + timeout_s
    for pid in pids:
        # a reparented worker may linger as a zombie nobody reaps: count
        # that as ended
        while (f := _proc_stat(pid)) is not None and f[0] != "Z":
            if time.time() > deadline:
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)
                deadline += timeout_s
            time.sleep(0.05)


def jit_ticks(jvm_pid: int) -> int:
    """CPU ticks of the JVM's JIT compiler threads (a fixed set: the JVM
    runs with ``-XX:-UseDynamicNumberOfCompilerThreads``)."""
    ticks = 0
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            with open(f"/proc/{jvm_pid}/task/{tid}/comm") as f:
                if not f.read().startswith(JIT_THREADS):
                    continue
        except OSError:
            continue
        if (fields := _proc_stat(f"{jvm_pid}/task/{tid}")) is not None:
            ticks += int(fields[11]) + int(fields[12])
    return ticks


def cpu_ticks() -> tuple[int, int, int]:
    """(busy, all, steal) CPU ticks of the machine so far, from
    /proc/stat; busy is user + nice + system + irq + softirq.  Busy time
    includes processes that already exited (the PySpark daemon ignores
    SIGCHLD, so its Python workers' time reaches no parent) and excludes
    what the hypervisor stole."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[0] + v[1] + v[2] + v[5] + v[6], sum(v), v[7]


def reset_hwm(pid: int) -> None:
    """Restart the peak-RSS counter (Linux ``clear_refs`` code 5)."""
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def wait_jobs(sc, group: str, timeout_s: float = 10.0) -> int:
    """Jobs of ``group`` once the status listener has caught up."""
    tracker = sc.statusTracker()
    deadline = time.time() + timeout_s
    last = None
    while time.time() < deadline:
        ids = sorted(tracker.getJobIdsForGroup(group))
        done = all(
            (info := tracker.getJobInfo(i)) is not None and info.status != "RUNNING" for i in ids
        )
        if done and ids == last:
            return len(ids)
        last = ids
        time.sleep(0.05)
    return len(last or [])


def q(values: list[float]) -> dict:
    if len(values) < 2:
        v = values[0] if values else 0.0
        return {"p25": v, "p50": v, "p75": v}
    p25, p50, p75 = statistics.quantiles(values, n=4, method="inclusive")
    return {"p25": p25, "p50": p50, "p75": p75}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "snowy_json_spark", "engine.py")):
        print("perfbench: snowy_json_spark/ not found beside perfbench/", file=sys.stderr)
        return 2

    work_root = os.path.join(ROOT, ".perfbench")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["OPENBLAS_NUM_THREADS"] = "1"
    # PySpark turns collected timestamps into local datetimes; the oracle
    # compares them in UTC
    os.environ["TZ"] = "UTC"
    time.tzset()
    sys.path[:0] = [ROOT, BENCH_DIR]
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str) -> int:
    probe_before = host_probe()

    import pyspark

    import workloads
    from snowy_json_spark.session import get_spark
    from layertrace import Tracer, median, union_seconds
    from oracle import digest

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    factory, rows = workloads.WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    traced = bool(args.trace)

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # a fixed-size heap keeps the JVM's resident size from depending
        # on when G1 chose to grow the heap; a fixed set of JIT compiler
        # threads lets op_cpu_s subtract their CPU time, which is still
        # 1.5-6 s per op a minute into a run
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={work}/tmp -XX:-UseDynamicNumberOfCompilerThreads"
        ),
    }
    if traced:
        conf.update(
            {
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
            }
        )
    wl = factory(work, args.seed, rows)
    gen: dict = {}

    def generate() -> None:
        t = time.perf_counter()
        try:
            wl.generate()
        except Exception as e:  # re-raised on the main thread
            gen["error"] = e
        gen["s"] = time.perf_counter() - t

    # DuckDB makes the inputs and the oracle while the JVM starts
    t0 = time.perf_counter()
    gen_thread = threading.Thread(target=generate)
    gen_thread.start()
    try:
        spark = get_spark(f"perfbench-{args.workload}", cores=nproc, extra_conf=conf)
    except BaseException:
        gen_thread.join()
        raise
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t0
    sc = spark.sparkContext
    jvm_pid = sc._gateway.proc.pid

    try:
        gen_thread.join()
        start_s = time.perf_counter() - t0
        if "error" in gen:
            raise gen["error"]
        wl.spark = spark
        build_s = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.build()
            build_s.append(time.perf_counter() - t0)

        tracer = Tracer(spark)
        ops: list[dict] = []

        def one_op(k: int, trace_this: bool) -> dict:
            out = f"{work}/out/op{k}"
            shutil.rmtree(out, ignore_errors=True)
            rec = {"op": k, "traced": trace_this, **wl.prepare()}
            name = f"op{k}"
            before = len(sc._jsc.getPersistentRDDs())
            if trace_this:
                tracer.op = name
                missing = tracer.patch()
                rec["unpatched"] = missing
                ctx = tracer.span
            else:
                sc.setJobGroup(name, name)

                def ctx(layer):
                    return contextlib.nullcontext()

            busy0, jit0 = cpu_ticks()[0], jit_ticks(jvm_pid)
            t0 = time.perf_counter()
            t0_epoch = time.time()
            try:
                wl.op(out, ctx)
                rec["error"] = None
            except Exception as e:  # a failed op is counted, the run goes on
                rec["error"] = f"{type(e).__name__}: {e}"
            rec["wall_s"] = time.perf_counter() - t0
            busy1, jit1 = cpu_ticks()[0], jit_ticks(jvm_pid)
            hz = os.sysconf("SC_CLK_TCK")
            rec["jit_cpu_s"] = (jit1 - jit0) / hz
            rec["cpu_s"] = (busy1 - busy0) / hz - rec["jit_cpu_s"]
            rec["start"] = t0_epoch
            if trace_this:
                tracer.unpatch()
                tracer.op = None
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                rec["jobs"] = wait_jobs(sc, name)
            rec["leaked"] = len(sc._jsc.getPersistentRDDs()) - before
            if rec["error"] is None:
                errors, observed = wl.check(out)
                rec["errors"] = errors
                rec["digest"] = digest(observed)
                rec["observed"] = observed
                rec["written_bytes"] = wl.written_bytes(out)
            else:
                rec["errors"] = [rec["error"]]
            if not rec.get("manifest_restored", True):
                rec["errors"].append("manifest not restored byte-identically")
            return rec

        # warm-up (untimed, part of set-up)
        t0 = time.perf_counter()
        warm = [one_op(-i, False) for i in range(WARMUP_OPS, 0, -1)]
        warmup_s = time.perf_counter() - t0
        setup_s = start_s + statistics.median(build_s) + warmup_s
        for pid in (os.getpid(), jvm_pid):
            reset_hwm(pid)

        ticks0 = cpu_ticks()[1:]
        k = 1
        measured = 0.0
        while k <= MAX_OPS:
            trace_this = traced and k % 2 == 1
            rec = one_op(k, trace_this)
            ops.append(rec)
            measured += rec["wall_s"]
            if k > 1:
                shutil.rmtree(f"{work}/out/op{k - 1}", ignore_errors=True)
            k += 1
            n_traced = sum(o["traced"] for o in ops)
            if measured >= args.seconds and len(ops) >= MIN_OPS and (not traced or n_traced >= 2):
                break
        rss_mb = (proc_hwm_kb(os.getpid()) + proc_hwm_kb(jvm_pid)) / 1024.0
        ticks1 = cpu_ticks()[1:]
        # share of CPU time the hypervisor gave to other guests while the
        # timed ops ran: a high value marks a run taken under contention
        steal = (ticks1[1] - ticks0[1]) / max(1, ticks1[0] - ticks0[0])

        # correctness: oracle errors, plus digest agreement with the first op
        ref = next((o["digest"] for o in warm + ops if "digest" in o), None)
        for o in ops:
            if "digest" in o and o["digest"] != ref:
                o["errors"].append("output digest differs from the first op")
        failed = sum(1 for o in ops if o["errors"])
        attempted = len(ops)

        layer_metrics: dict = {}
        if traced:
            last_out = f"{work}/out/op{ops[-1]['op']}"
            tracer.op = "probe"
            probe_values = wl.probes(last_out, tracer.span) if not ops[-1]["errors"] else {}
            tracer.op = None
            tracer.fetch()
            layer_metrics = layer_report(tracer, ops, probe_values, union_seconds, median)
            for o in ops:
                if o["traced"]:
                    o["jobs"] = layer_metrics["_jobs_by_op"][f"op{o['op']}"]
        probe_after = host_probe()
    finally:
        spark.stop()
        end_jvm(sc._gateway.proc)

    walls = [o["wall_s"] for o in ops]
    plain = [o for o in ops if not o["traced"]] or ops
    plain_walls = [o["wall_s"] for o in plain]
    op_p50 = statistics.median(plain_walls)
    bytes_row = statistics.median([o.get("written_bytes", 0) for o in ops]) / rows
    e2e = {
        "setup_s": (setup_s, "s"),
        "op_cpu_s": (statistics.median([o["cpu_s"] for o in plain]), "s"),
        "op_jobs": (statistics.median([o["jobs"] for o in plain]), "count"),
        "op_s_p50": (op_p50, "s"),
        "rows_per_s": (rows / op_p50, "rows/s"),
        "written_bytes_per_row": (bytes_row, "B/row"),
        "peak_rss_mb": (rss_mb, "MB"),
    }
    jobs = [o["jobs"] for o in ops if "jobs" in o]
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": nproc,
        "input_rows": rows,
        "pyspark": pyspark.__version__,
        "driver_memory": DRIVER_MEM,
        "session_s": round(session_s, 4),
        "generate_s": round(gen["s"], 4),
        "start_s": round(start_s, 4),
        "build_s": [round(x, 4) for x in build_s],
        "warmup_s": round(warmup_s, 4),
        "host_probe_s": {"before": round(probe_before, 4), "after": round(probe_after, 4)},
        "host_steal_frac": round(steal, 4),
        "ops": attempted,
        "op_s": [round(w, 4) for w in walls],
        "op_cpu_s": [round(o["cpu_s"], 2) for o in ops],
        "op_jit_cpu_s": [round(o["jit_cpu_s"], 2) for o in ops],
        "op_s_quartiles": {k2: round(v, 4) for k2, v in q(plain_walls).items()},
        "jobs_per_op": jobs,
        "jobs_repeat": len(set(jobs)) <= 1,
        "persisted_leaked_per_op": [o["leaked"] for o in ops],
        "fail_frac": failed / attempted,
        "errors": [e for o in warm + ops for e in o["errors"]][:10],
    }
    print("perfbench " + json.dumps(context))
    for name, (v, unit) in e2e.items():
        print(f"  {name:<24} {v:14.4f} {unit}")
    print(f"  {'fail_frac':<24} {failed / attempted:14.4f} ratio  ({failed}/{attempted} ops)")
    if traced:
        print("  layers with jobs: " + ", ".join(layer_metrics["layers"]))
        for name, (v, unit) in sorted(layer_metrics["metrics"].items()):
            print(f"  {name:<32} {v:14.4f} {unit}")
        trace_dir = os.path.join(ROOT, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.write(
            os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"),
            {
                "context": context,
                "layers": layer_metrics["layers"],
                "ops": [{k2: v for k2, v in o.items() if k2 != "observed"} for o in ops],
            },
        )
    # the result line carries the metrics BENCHMARK.json lists for the
    # mode; the report above has them all
    report = {**e2e, **layer_metrics.get("metrics", {})}
    names = listed_metrics(traced)
    metrics = report if names is None else {n: report[n] for n in names}
    print(
        json.dumps(
            {
                "correct": failed == 0 and not any(o["errors"] for o in warm),
                "attempted": attempted,
                "failed": failed,
                "metrics": {k2: {"value": v, "unit": u} for k2, (v, u) in metrics.items()},
            }
        )
    )
    return 0


def listed_metrics(traced: bool) -> list[str] | None:
    """The ``per_layer`` (traced) or ``end_to_end`` metric names of
    BENCHMARK.json, or None when the checkout has no such file."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(path):
        return None
    with open(path) as f:
        spec = json.load(f)
    return [m["name"] for m in spec["per_layer" if traced else "end_to_end"]]


def layer_report(tracer, ops, probe_values, union_seconds, median) -> dict:
    """Per-layer metrics: medians over the traced ops (counts from the
    first traced op, which the others must repeat), plus the probes."""
    traced = [o for o in ops if o["traced"]]
    per_op = {f"op{o['op']}": tracer.layer_stats(f"op{o['op']}") for o in traced}
    probe = tracer.layer_stats("probe")
    jobs_by_op = {op: sum(d["jobs"] for d in st.values()) for op, st in per_op.items()}
    layer_jobs = [{k: d["jobs"] for k, d in st.items()} for st in per_op.values()]

    def med(layer: str, field: str) -> float:
        return median([st.get(layer, {}).get(field, 0) for st in per_op.values()])

    def med_sum(layers: list[str], field: str) -> float:
        return median([sum(st.get(L, {}).get(field, 0) for L in layers) for st in per_op.values()])

    engine_layers = [
        "engine", "compiler", "resume", "manifest.read", "manifest.append", "flagged_write",
        "drift", "quantiles", "stats", "tdigest",
    ]
    gaps = []
    for o in traced:
        iv = tracer.op_job_intervals(f"op{o['op']}")
        gaps.append(o["wall_s"] - union_seconds(iv))
    plain = [o["wall_s"] for o in ops if not o["traced"]]
    traced_walls = [o["wall_s"] for o in traced]
    v = med  # shorthand
    m = {
        "op.jobs": (median(list(jobs_by_op.values())), "count"),
        "trace.overhead_frac": (
            (median(traced_walls) / median(plain) - 1.0) if plain else 0.0,
            "ratio",
        ),
        "trace.layer_jobs_repeat": (float(all(x == layer_jobs[0] for x in layer_jobs)), "bool"),
        "compiler.compile_s": (v("compiler", "wall_s"), "s"),
        "engine.jobs": (med_sum(engine_layers, "jobs"), "count"),
        "engine.driver_gap_s": (median(gaps), "s"),
        "engine.persisted_leaked": (median([o["leaked"] for o in ops]), "count"),
        "flagged_write.wall_s": (v("flagged_write", "wall_s"), "s"),
        "flagged_write.jobs": (v("flagged_write", "jobs"), "count"),
        "flagged_write.input_bytes": (v("flagged_write", "inputBytes"), "B"),
        "flagged_write.output_bytes": (v("flagged_write", "outputBytes"), "B"),
        "flagged_write.executor_s": (v("flagged_write", "executorRunTime") / 1000.0, "s"),
        "drift.wall_s": (v("drift", "wall_s"), "s"),
        "drift.jobs": (v("drift", "jobs"), "count"),
        "quantiles.wall_s": (v("quantiles", "wall_s"), "s"),
        "quantiles.jobs": (v("quantiles", "jobs"), "count"),
        "stats.wall_s": (v("stats", "wall_s"), "s"),
        "stats.jobs": (v("stats", "jobs"), "count"),
        "tdigest.wall_s": (v("tdigest", "wall_s"), "s"),
        "tdigest.jobs": (v("tdigest", "jobs"), "count"),
        "results.wall_s": (v("results", "wall_s"), "s"),
        "results.jobs": (v("results", "jobs"), "count"),
        "results.output_bytes": (v("results", "outputBytes"), "B"),
        "violations.rows_out": (
            median([sum(o["observed"]["violations"].values()) for o in traced if "violations" in o.get("observed", {})]),
            "count",
        ),
        # the resume span minus its nested manifest read: the distinct-key
        # scan of the source (0 when the op had no manifest, so no scan)
        "resume.discover_s": (median([
            st["resume"]["wall_s"] - st.get("manifest.read", {}).get("wall_s", 0)
            if st.get("resume", {}).get("jobs") else 0.0
            for st in per_op.values()
        ]), "s"),
        "resume.discover_input_bytes": (v("resume", "inputBytes"), "B"),
        "resume.pending_fraction": (_pending_fraction(traced), "ratio"),
        "manifest.read_s": (v("manifest.read", "wall_s"), "s"),
        "manifest.append_s": (v("manifest.append", "wall_s"), "s"),
        # inside curate_documents every eager call but the survivor count
        # runs under a child span, so the curate span's own jobs are that
        # count
        "curate.survivor_count_s": (v("curate", "job_s"), "s"),
        "curate.survivor_count_jobs": (v("curate", "jobs"), "count"),
        "curate.impl": (float(v("curate.minhash", "spans") > 0), "flag"),
        "curate.write_s": (v("curate.write", "wall_s"), "s"),
    }
    m["curate.filter_s"] = (probe.get("curate.filter", {}).get("wall_s", 0.0), "s")
    # operators whose work the op defers: measured by the probes
    for layer in ("uniqueness", "referential"):
        p = probe.get(f"{layer}.probe", {})
        m[f"{layer}.wall_s"] = (p.get("wall_s", 0.0), "s")
        m[f"{layer}.jobs"] = (p.get("jobs", 0), "count")
    m["uniqueness.shuffle_bytes"] = (
        probe.get("uniqueness.probe", {}).get("shuffleWriteBytes", 0), "B"
    )
    dedup_stages = ["prepass", "signature", "band_join", "verify", "components"]
    for s in dedup_stages:
        m[f"dedup.{s}_s"] = (probe.get(f"dedup.{s}", {}).get("wall_s", 0.0), "s")
    m["dedup.shuffle_bytes"] = (sum(probe.get(f"dedup.{s}", {}).get("shuffleWriteBytes", 0) for s in dedup_stages), "B")
    m["dedup.spill_bytes"] = (
        sum(
            probe.get(f"dedup.{s}", {}).get("memoryBytesSpilled", 0)
            + probe.get(f"dedup.{s}", {}).get("diskBytesSpilled", 0)
            for s in dedup_stages
        ),
        "B",
    )
    for name in ("uniqueness.candidates", "uniqueness.useful_ratio", "referential.rows_out",
                 "dedup.candidate_pairs", "dedup.useful_ratio"):
        unit = "ratio" if name.endswith("ratio") else "count"
        m[name] = (float(probe_values.get(name, 0)), unit)
    groups = {
        "engine": ["engine", "compiler"],
        "flagged_write": ["flagged_write"],
        "uniqueness": ["uniqueness.probe", "uniqueness.candidates"],
        "referential": ["referential.probe"],
        "drift": ["drift"],
        "quantiles": ["quantiles"],
        "stats": ["stats"],
        "tdigest": ["tdigest"],
        "results": ["results"],
        "resume": ["resume"],
        "manifest": ["manifest.read", "manifest.append"],
        "curate": ["curate", "curate.read", "curate.write", "curate.minhash", "curate.exact", "curate.components", "curate.filter"],
        "dedup": [f"dedup.{s}" for s in dedup_stages],
    }
    for g, layers in groups.items():
        failed = sum(st.get(L, {}).get("numFailedTasks", 0) for st in per_op.values() for L in layers)
        failed += sum(probe.get(L, {}).get("numFailedTasks", 0) for L in layers)
        m[f"{g}.failed_tasks"] = (float(failed), "count")
    # layers that ran at least one Spark job, in the op or in the probes
    present = sorted({L for st in [*per_op.values(), probe] for L, d in st.items() if d["jobs"]})
    return {"metrics": m, "_jobs_by_op": jobs_by_op, "layers": present}


def _pending_fraction(traced_ops) -> float:
    for o in traced_ops:
        obs = o.get("observed") or {}
        if "metrics" in obs:
            skipped = len(obs["metrics"].get("skipped_partitions", []))
            validated = len(obs.get("verdicts", {}))
            return validated / (validated + skipped) if validated + skipped else 0.0
    return 0.0


if __name__ == "__main__":
    sys.exit(main())
