"""Per-layer trace for ``--trace 1`` runs, measured from outside the package.

Spans
    ``Tracer.span(layer)`` records wall time and the parent span, and
    sets a Spark job group ``span:<id>`` so every job started inside it
    (including the ones adaptive query execution submits from its own
    threads, which inherit the group) is attributed to that span.  The
    benchmark opens spans around the public calls it makes; ``patch()``
    wraps a fixed list of package functions (see ``LAYER_FUNCTIONS``) in
    spans for the duration of a traced op and restores them afterwards.
    Only functions that run Spark jobs themselves are wrapped; operators
    that return lazy plans (uniqueness, referential, the dedup stages)
    are timed by the benchmark's probes instead.  The package source is
    never changed.

Jobs and stages
    At the end of the run one pass over the driver's own UI REST
    endpoint (``sc.uiWebUrl``, localhost) returns every job with its
    group, call site and interval, and every stage with executor time,
    bytes read, written and shuffled, spill and failed tasks.  A job
    left on the ``engine`` span whose call site is a ``collect``/``first``
    inside one of the engine's ``kind == "..."`` table-check branches is
    moved to that check's layer; its adaptive sub-jobs (same
    ``execution-root-id`` tag) move with it.

Spans and jobs stay in memory until ``write()`` dumps them at the end.
"""

from __future__ import annotations

import ast
import datetime
import functools
import importlib
import json
import re
import statistics
import time
import urllib.request
from contextlib import contextmanager

#: (module, attribute, layer, only inside this parent layer or None)
LAYER_FUNCTIONS = [
    ("snowy_json_spark.engine", "compile_spec", "compiler", None),
    ("snowy_json_spark.engine", "ValidationEngine._apply_resume", "resume", None),
    ("snowy_json_spark.engine", "collect_histogram", "drift", None),
    ("snowy_json_spark.engine", "collect_quantiles", "quantiles", None),
    ("snowy_json_spark.sources.tables", "write_table", "flagged_write", "engine"),
    ("snowy_json_spark.streaming.manifest", "Manifest.validated_keys", "manifest.read", None),
    ("snowy_json_spark.streaming.manifest", "Manifest.append", "manifest.append", None),
    ("snowy_json_spark.operators.pipeline", "minhash_near_duplicates_prepass", "curate.minhash", None),
    ("snowy_json_spark.operators.pipeline", "near_dup_clusters", "curate.exact", None),
    ("snowy_json_spark.operators.pipeline", "connected_components", "curate.components", None),
]

#: engine table-check branch kind → layer, for jobs found by call site:
#: the kinds whose eager collect sits in the engine itself (histogram and
#: quantile drift collect inside the wrapped ``collect_*`` functions;
#: uniqueness and referential only build plans there)
KIND_LAYERS = {
    "tdigest_drift": "tdigest",
    "column_stats": "stats",
}

_CALL_SITE = re.compile(r"^(?:collect|first|head|take) at (?P<file>\S+\.py):(?P<line>\d+)$")
_ROOT_TAG = re.compile(r"execution-root-id-\d+$")


@functools.lru_cache(maxsize=None)
def _kind_branches(path: str) -> tuple[tuple[int, int, str], ...]:
    """(first line, last line, kind) of every ``if kind == "<k>"`` body."""
    with open(path) as f:
        tree = ast.parse(f.read())
    out = []
    for node in ast.walk(tree):
        t = getattr(node, "test", None)
        if (
            isinstance(node, ast.If)
            and isinstance(t, ast.Compare)
            and isinstance(t.left, ast.Name)
            and t.left.id == "kind"
            and len(t.comparators) == 1
            and isinstance(t.comparators[0], ast.Constant)
        ):
            out.append((node.body[0].lineno, node.body[-1].end_lineno, t.comparators[0].value))
    return tuple(out)


def call_site_layer(job_name: str) -> str | None:
    """Layer of an engine job from its Python call site, if it has one."""
    m = _CALL_SITE.match(job_name)
    if not m or not m.group("file").endswith("snowy_json_spark/engine.py"):
        return None
    line = int(m.group("line"))
    try:
        branches = _kind_branches(m.group("file"))
    except OSError:
        return None
    hits = [b for b in branches if b[0] <= line <= b[1]]
    if not hits:
        return None
    kind = min(hits, key=lambda b: b[1] - b[0])[2]
    return KIND_LAYERS.get(kind)


def _epoch(ts: str | None) -> float | None:
    if not ts:
        return None
    return datetime.datetime.strptime(ts.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self.jobs: list[dict] = []
        self.stages: dict[int, dict] = {}
        self.op: str | None = None
        self._stack: list[dict] = []
        self._saved: list[tuple[object, str, object]] = []

    # -- spans ------------------------------------------------------------
    @contextmanager
    def span(self, layer: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "parent": parent["id"] if parent else None,
            "op": self.op,
            "layer": layer,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(f"span:{rec['id']}", layer)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(f"span:{self._stack[-1]['id']}", self._stack[-1]["layer"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)

    def patch(self) -> list[str]:
        """Wrap ``LAYER_FUNCTIONS`` in spans; returns the ones not found
        (a renamed or deleted function simply loses its span)."""
        missing = []
        for module, attr, layer, under in LAYER_FUNCTIONS:
            owner = importlib.import_module(module)
            *path, name = attr.split(".")
            for p in path:
                owner = getattr(owner, p, None)
            orig = getattr(owner, name, None) if owner is not None else None
            if orig is None:
                missing.append(f"{module}.{attr}")
                continue
            self._saved.append((owner, name, orig))
            setattr(owner, name, self._wrap(orig, layer, under))
        return missing

    def unpatch(self) -> None:
        while self._saved:
            owner, name, orig = self._saved.pop()
            setattr(owner, name, orig)

    def _wrap(self, fn, layer: str, under: str | None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self.op is None or (under and (not self._stack or self._stack[-1]["layer"] != under)):
                return fn(*args, **kwargs)
            with self.span(layer):
                return fn(*args, **kwargs)

        return traced

    # -- jobs and stages ----------------------------------------------------
    def fetch(self, timeout_s: float = 30.0) -> None:
        """Read all jobs and stages from the UI REST endpoint once the
        listener has caught up (no job left running)."""
        base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"
        deadline = time.time() + timeout_s
        while True:
            with urllib.request.urlopen(base + "/jobs") as r:
                jobs = json.load(r)
            if all(j["status"] != "RUNNING" for j in jobs) or time.time() > deadline:
                break
            time.sleep(0.2)
        with urllib.request.urlopen(base + "/stages") as r:
            stages = json.load(r)
        self.stages = {}
        for s in stages:
            if s["status"] == "SKIPPED":
                continue
            agg = self.stages.setdefault(s["stageId"], {k: 0 for k in _STAGE_FIELDS})
            for k in _STAGE_FIELDS:
                agg[k] += s.get(k, 0)
        span_by_id = {s["id"]: s for s in self.spans}
        self.jobs = []
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            group = j.get("jobGroup") or ""
            if not group.startswith("span:"):
                continue
            span = span_by_id[int(group.split(":", 1)[1])]
            root = next((t for t in j.get("jobTags", []) if _ROOT_TAG.search(t)), None)
            self.jobs.append(
                {
                    "job": j["jobId"],
                    "span": span["id"],
                    "op": span["op"],
                    "layer": span["layer"],
                    "name": j["name"],
                    "root": root,
                    "start": _epoch(j.get("submissionTime")),
                    "end": _epoch(j.get("completionTime")),
                    "stages": j["stageIds"],
                    "status": j["status"],
                }
            )
        # call-site refinement of jobs left on the engine span, per SQL execution
        by_root: dict[str, str] = {}
        for j in self.jobs:
            if j["layer"] == "engine" and j["root"]:
                layer = call_site_layer(j["name"])
                if layer:
                    by_root[j["root"]] = layer
        for j in self.jobs:
            if j["layer"] == "engine" and j["root"] in by_root:
                j["layer"] = by_root[j["root"]]
        # a stage belongs to the first job that ran it
        seen: set[int] = set()
        for j in self.jobs:
            j["own_stages"] = [s for s in j["stages"] if s in self.stages and s not in seen]
            seen.update(j["own_stages"])

    def layer_stats(self, op: str) -> dict[str, dict]:
        """Per-layer figures of one op: wall (span time, or job time for
        call-site layers), time covered by the layer's own jobs, jobs,
        stage sums and failed tasks."""
        out: dict[str, dict] = {}
        for s in self.spans:
            if s["op"] == op:
                d = out.setdefault(s["layer"], _empty())
                d["wall_s"] += s["end"] - s["start"]
                d["spans"] += 1
        job_iv: dict[str, list[tuple[float, float]]] = {}
        for j in self.jobs:
            if j["op"] != op:
                continue
            d = out.setdefault(j["layer"], _empty())
            d["jobs"] += 1
            if j["start"] and j["end"]:
                job_iv.setdefault(j["layer"], []).append((j["start"], j["end"]))
            for sid in j["own_stages"]:
                for k, v in self.stages[sid].items():
                    d[k] += v
        for layer, iv in job_iv.items():
            out[layer]["job_s"] = union_seconds(iv)
            if out[layer]["spans"] == 0:
                out[layer]["wall_s"] = out[layer]["job_s"]
        return out

    def op_job_intervals(self, op: str) -> list[tuple[float, float]]:
        return [(j["start"], j["end"]) for j in self.jobs if j["op"] == op and j["start"] and j["end"]]

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "jobs": self.jobs, "stages": self.stages, **extra}, f)


_STAGE_FIELDS = [
    "executorRunTime",
    "inputBytes",
    "outputBytes",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
    "numFailedTasks",
]


def _empty() -> dict:
    return {"wall_s": 0.0, "job_s": 0.0, "spans": 0, "jobs": 0, **{k: 0 for k in _STAGE_FIELDS}}


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0
