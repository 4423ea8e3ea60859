"""Spans around calls into the package's modules, and the Spark job, stage
and SQL metrics of each span, read back from the local UI REST API.

Spans are recorded from the benchmark's own code: explicitly around each
operation and module call the workload makes, and — in a traced run — by
wrapping the public functions of the measured modules, so calls one module
makes into another get their own span. Every span sets its own Spark job
group, so each job is owned by the innermost span that was open when it
was submitted. Spans stay in memory and are written out once, at the end.
"""

from __future__ import annotations

import importlib
import inspect
import json
import os
import re
import statistics
import sys
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager

PKG = "pwhl_data_engineering_pipeline_spark"

# the layers the benchmark measures, named after the package modules
MODULES = [
    "sources.readers", "sources.writers", "sources.snapshots",
    "functions.scalars", "functions.text",
    "plans.pipeline", "plans.weather", "plans.sales", "plans.capacity",
    "plans.integrate", "plans.star", "plans.corpus",
    "operators.relational", "operators.aggregates", "operators.windows",
    "operators.asof", "operators.dedup", "operators.graph", "operators.lm",
    "operators.dsir", "operators.sampling", "operators.search",
    "operators.similarity", "operators.pq", "operators.sync",
]
MODULE_METRICS = (("call_s", "s"), ("jobs", "count"), ("task_s", "s"), ("shuffle_mb", "MB"))
SESSION_METRICS = (
    ("session.driver_gap_s", "s"), ("session.tasks", "count"), ("session.gc_s", "s"),
    ("session.spill_mb", "MB"), ("session.python_mb", "MB"),
)
SPECIFIC_METRICS = (
    ("operators.search.jobs_per_probe", "count", "lower"),
    ("operators.search.build_df_ms", "ms", "lower"),
    ("operators.search.buckets_read_ratio", "ratio", "lower"),
    ("operators.similarity.jobs_per_probe", "count", "lower"),
    ("operators.pq.jobs_per_probe", "count", "lower"),
    ("sources.snapshots.jobs_per_commit", "count", "lower"),
    ("sources.snapshots.commit_s", "s", "lower"),
    ("operators.sync.sync_s", "s", "lower"),
    ("operators.dedup.candidate_pairs", "count", "lower"),
    ("operators.dedup.pair_precision", "ratio", "higher"),
    ("operators.graph.rounds", "count", "lower"),
    ("sources.writers.files", "count", "lower"),
    ("sources.writers.written_mb", "MB", "lower"),
)


def per_layer_spec() -> list[dict]:
    """Every per-layer metric, with unit and direction."""
    out = [
        {"name": f"{m}.{k}", "unit": u, "better": "lower"}
        for m in MODULES for k, u in MODULE_METRICS
    ]
    out += [{"name": n, "unit": u, "better": "lower"} for n, u in SESSION_METRICS]
    out += [{"name": n, "unit": u, "better": b} for n, u, b in SPECIFIC_METRICS]
    return out


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class _Traced:
    """A traced stand-in for one public module function. Pickles as the
    original function, so a Spark worker that unpickles a closure
    referring to it gets the untraced function."""

    def __init__(self, tracer: "Tracer", module: str, fn):
        self._tracer, self._module, self._fn = tracer, module, fn
        self.__name__ = fn.__name__
        self.__qualname__ = fn.__qualname__
        self.__doc__ = fn.__doc__
        self.__wrapped__ = fn

    def __call__(self, *args, **kwargs):
        with self._tracer.span(self._module, fn=self._fn.__name__):
            return self._fn(*args, **kwargs)

    def __reduce__(self):
        return getattr, (sys.modules[self._fn.__module__], self._fn.__name__)


class Tracer:
    """Span recorder. With ``enabled=False`` every method is a no-op except
    that explicit ``span`` contexts still cost one attribute check."""

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.counters: dict[str, float] = defaultdict(float)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.op_id = None

    # -- recording ---------------------------------------------------------

    @contextmanager
    def span(self, name: str, fn: str | None = None):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "fn": fn, "op": self.op_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        sc.setLocalProperty("spark.jobGroup.id", f"pbspan{sid}")
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            parent = self._stack[-1] if self._stack else None
            sc.setLocalProperty(
                "spark.jobGroup.id", None if parent is None else f"pbspan{parent}"
            )

    @contextmanager
    def operation(self, op_id: str):
        """One benchmark operation: the root span its module calls hang off."""
        self.op_id = op_id
        try:
            with self.span("op", fn=op_id) as rec:
                yield rec
        finally:
            self.op_id = None

    @contextmanager
    def paused(self):
        """Untraced stretch inside a traced run (untimed checks, set-up)."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def count(self, name: str, value: float = 1.0) -> None:
        if self.enabled:
            self.counters[name] += value

    def wrap_modules(self) -> None:
        """Replace each measured module's public functions with traced
        stand-ins (traced runs only)."""
        for short in [*MODULES, "session"]:
            mod = importlib.import_module(f"{PKG}.{short}")
            for name, obj in list(vars(mod).items()):
                if (
                    not name.startswith("_")
                    and inspect.isfunction(obj)
                    and obj.__module__ == mod.__name__
                ):
                    setattr(mod, name, _Traced(self, short, obj))

    # -- read-back ---------------------------------------------------------

    def _rest(self, path: str):
        sc = self.spark.sparkContext
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=60) as r:
            return json.loads(r.read())

    def _settled_jobs(self) -> list[dict]:
        """All jobs, once the UI store has recorded every job the tracked
        groups submitted as finished (the listener bus is asynchronous)."""
        tracker = self.spark.sparkContext.statusTracker()
        want = set()
        for s in self.spans:
            want.update(tracker.getJobIdsForGroup(f"pbspan{s['id']}"))
        deadline = time.time() + 30
        while True:
            jobs = self._rest("jobs")
            done = {j["jobId"] for j in jobs if j.get("completionTime")}
            if want <= done or time.time() > deadline:
                return jobs
            time.sleep(0.2)

    def collect(self, rounds: int) -> dict:
        """Per-layer metrics of the traced spans, normalised per round."""
        jobs = self._settled_jobs()
        stages = defaultdict(list)  # stage id -> its completed attempts
        for s in self._rest("stages"):
            if s.get("status") == "COMPLETE":
                stages[s["stageId"]].append(s)
        executions = self._rest("sql?details=true&planDescription=false&offset=0&length=1000000")

        span_of_job: dict[int, int] = {}
        for j in jobs:
            g = j.get("jobGroup") or ""
            if g.startswith("pbspan"):
                span_of_job[j["jobId"]] = int(g[6:])

        per_span = defaultdict(lambda: defaultdict(float))
        seen_stages = set()
        for j in jobs:
            sid = span_of_job.get(j["jobId"])
            if sid is None:
                continue
            acc = per_span[sid]
            acc["jobs"] += 1
            for st in j.get("stageIds", []):
                if st in seen_stages:
                    continue  # a stage shared by two jobs is counted once
                seen_stages.add(st)
                for s in stages.get(st, []):
                    acc["task_s"] += s.get("executorRunTime", 0) / 1000.0
                    acc["shuffle_mb"] += s.get("shuffleWriteBytes", 0) / 1e6
                    acc["tasks"] += s.get("numCompleteTasks", 0)
                    acc["gc_s"] += s.get("jvmGcTime", 0) / 1000.0
                    acc["spill_mb"] += (s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)) / 1e6
        for ex in executions:
            ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
            sids = {span_of_job[i] for i in ids if i in span_of_job}
            if not sids:
                continue
            sid = min(sids)
            for node in ex.get("nodes", []):
                for m in node.get("metrics", []):
                    if m.get("name") == "data sent to Python workers":
                        per_span[sid]["python_mb"] += _parse_size(m.get("value", "")) / 1e6
                    elif m.get("name") == "number of partitions read" and node.get("nodeName", "").startswith("Scan"):
                        per_span[sid]["partitions_read"] += _parse_number(m.get("value", ""))

        spans = self.spans
        out: dict[str, float] = {}
        for short in MODULES:
            mine = [s for s in spans if s["name"] == short]
            top = [s for s in mine if s["parent"] is None or spans[s["parent"]]["name"] != short]
            out[f"{short}.call_s"] = sum(s["end"] - s["start"] for s in top) / rounds
            for k in ("jobs", "task_s", "shuffle_mb"):
                out[f"{short}.{k}"] = sum(per_span[s["id"]][k] for s in mine) / rounds

        totals = defaultdict(float)
        for acc in per_span.values():
            for k, v in acc.items():
                totals[k] += v
        out["session.tasks"] = totals["tasks"] / rounds
        out["session.gc_s"] = totals["gc_s"] / rounds
        out["session.spill_mb"] = totals["spill_mb"] / rounds
        out["session.python_mb"] = totals["python_mb"] / rounds
        out["session.driver_gap_s"] = self._driver_gap(jobs) / rounds

        def subtree_jobs(pred) -> float:
            return sum(per_span[s["id"]]["jobs"] for s in spans if pred(s))

        def ops_of(prefix):
            return {s["op"] for s in spans if s["name"] == "op" and (s["fn"] or "").startswith(prefix)}

        def per_op_jobs(prefix):
            ops = ops_of(prefix)
            return subtree_jobs(lambda s: s["op"] in ops) / len(ops) if ops else 0.0

        out["operators.search.jobs_per_probe"] = per_op_jobs("probe.bm25")
        out["operators.similarity.jobs_per_probe"] = per_op_jobs("probe.ivf")
        out["operators.pq.jobs_per_probe"] = per_op_jobs("probe.pq")
        bm25_ops = ops_of("probe.bm25")
        read = sum(per_span[s["id"]]["partitions_read"] for s in spans if s["op"] in bm25_ops)
        present = self.counters.get("bm25_partitions_present", 0.0)
        out["operators.search.buckets_read_ratio"] = read / present if present else 0.0
        out["operators.search.build_df_ms"] = 1000 * median(
            [s["end"] - s["start"] for s in spans if s["name"] == "operators.search" and s["fn"] == "bm25_search_index"]
        )
        commits = [s for s in spans if s["name"] == "sources.snapshots"
                   and s["fn"] in ("snapshot_merge", "snapshot_delete")
                   and (s["parent"] is None or spans[s["parent"]]["name"] != "sources.snapshots")]
        if commits:
            ids = {c["id"] for c in commits}

            def under(s):
                while s is not None:
                    if s["id"] in ids:
                        return True
                    s = spans[s["parent"]] if s["parent"] is not None else None
                return False

            out["sources.snapshots.jobs_per_commit"] = subtree_jobs(under) / len(commits)
            out["sources.snapshots.commit_s"] = median([c["end"] - c["start"] for c in commits])
        else:
            out["sources.snapshots.jobs_per_commit"] = 0.0
            out["sources.snapshots.commit_s"] = 0.0
        out["operators.sync.sync_s"] = median(
            [s["end"] - s["start"] for s in spans if s["name"] == "operators.sync" and s["fn"] == "sync_indexes"]
        )
        out["operators.dedup.candidate_pairs"] = self.counters.get("dedup.candidate_pairs", 0.0) / rounds
        out["operators.dedup.pair_precision"] = median(self.samples.get("dedup.pair_precision", []))
        out["operators.graph.rounds"] = self.counters.get("graph.rounds", 0.0) / rounds
        out["sources.writers.files"] = self.counters.get("writers.files", 0.0) / rounds
        out["sources.writers.written_mb"] = self.counters.get("writers.written_mb", 0.0) / rounds
        return out

    def _driver_gap(self, jobs: list[dict]) -> float:
        """Operation wall time not covered by any running job."""
        ivs = []
        for j in jobs:
            if j.get("submissionTime") and j.get("completionTime"):
                ivs.append((_ts(j["submissionTime"]), _ts(j["completionTime"])))
        ivs.sort()
        gap = 0.0
        for s in self.spans:
            if s["name"] != "op":
                continue
            a, b = s["start"], s["end"]
            covered, cur = 0.0, a
            for lo, hi in ivs:
                if hi <= cur or lo >= b:
                    continue
                lo = max(lo, cur)
                hi = min(hi, b)
                covered += hi - lo
                cur = hi
            gap += (b - a) - covered
        return gap

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "counters": self.counters, "samples": self.samples}, fh)


def _ts(s: str) -> float:
    """Spark UI timestamps: '2026-01-01T12:00:00.123GMT'."""
    import calendar

    base, ms = s.replace("GMT", "").split(".")
    return calendar.timegm(time.strptime(base, "%Y-%m-%dT%H:%M:%S")) + int(ms) / 1000.0


_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}


def _parse_size(v: str) -> float:
    """First size in a SQL metric string ('12.0 MiB' or
    'total (min, med, max ...)\\n12.0 MiB (...)')."""
    m = re.search(r"([0-9][0-9.,]*)\s*(B|KiB|MiB|GiB|TiB)\b", v)
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


def _parse_number(v: str) -> float:
    m = re.search(r"([0-9][0-9,]*)", v)
    return float(m.group(1).replace(",", "")) if m else 0.0
