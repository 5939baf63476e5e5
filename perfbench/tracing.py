"""Span tracing from outside the package, plus Spark-side attribution.

``Tracer.install`` wraps the public functions of the traced modules (and
a few class methods) at import time; the package itself is not edited.
Every span records (id, parent, op, name, start, end) in memory and
tags the Spark jobs it starts with its own job group, so the stage and
SQL-node metrics that Spark's status REST API serves on loopback can be
attributed back to the span, and from there to the module and the op.

Operators build lazy DataFrames: an operator span covers plan building
plus any job the operator runs eagerly (collect, localCheckpoint,
estimator fit). The work of the final action lands on the op span.
"""

from __future__ import annotations

import calendar
import contextlib
import functools
import inspect
import json
import re
import sys
import time
import urllib.request
from dataclasses import dataclass, field

PKG = "big_data_ml_pipeline_spark"

#: Traced layers: the reported module name and the modules it covers.
LAYERS = {
    "operators.aggregates": ["operators.aggregates"],
    "operators.joins": ["operators.joins"],
    "operators.windows": ["operators.windows"],
    "operators.projection": ["operators.projection"],
    "operators.setops": ["operators.setops"],
    "operators.text": ["operators.text"],
    "operators.dedup": ["operators.dedup"],
    "operators.similarity": ["operators.similarity"],
    "features": [
        "features.engineering", "features.pipeline",
        "features.text_features", "features.transformers",
    ],
    "ml": ["ml.evaluate", "ml.models", "ml.quality", "ml.train", "ml.tuning"],
    "serving": ["serving"],
}
#: Similarity calls whose second argument is the query frame; their
#: candidate joins give ``operators.similarity.candidates_per_query``.
KNN_CALLS = {"ivf_topk", "ivf_knn_join", "ivf_pq_knn_join", "knn_join",
             "brute_force_topk", "quantized_topk"}
DEDUP_PAIR_CALLS = {"minhash_dedup_pairs", "simhash_dedup_pairs"}
JOIN_NODES = ("BroadcastHashJoin", "ShuffledHashJoin", "SortMergeJoin",
              "BroadcastNestedLoopJoin", "CartesianProduct")
PYTHON_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython",
                "BatchEvalPython", "FlatMapGroupsInPandas",
                "FlatMapCoGroupsInPandas", "AggregateInPandas",
                "WindowInPandas")


@dataclass
class Span:
    id: int
    parent: int | None
    op: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    arg: object = None  # query frame of a knn call


@dataclass
class Tracer:
    sc: object
    enabled: bool = False
    spans: list = field(default_factory=list)
    _stack: list = field(default_factory=list)
    _op: int = -1

    # -- spans ----------------------------------------------------------
    def _enter(self, name: str, layer: str) -> Span:
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), parent, self._op, name, layer, time.time())
        self.spans.append(s)
        self._stack.append(s)
        self.sc.setLocalProperty("spark.jobGroup.id", f"pb{s.id}")
        return s

    def _exit(self, s: Span) -> None:
        s.end = time.time()
        self._stack.pop()
        self.sc.setLocalProperty(
            "spark.jobGroup.id", f"pb{self._stack[-1].id}" if self._stack else None
        )

    @contextlib.contextmanager
    def op(self, op_id: int, name: str):
        """One timed op: the root span of everything it calls."""
        if not self.enabled:
            yield
            return
        self._op = op_id
        s = self._enter(name, "op")
        try:
            yield
        finally:
            self._exit(s)

    def dump(self, path: str) -> None:
        """Write the spans out as JSON lines."""
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"id": s.id, "parent": s.parent, "op": s.op,
                                    "name": s.name, "start": s.start,
                                    "end": s.end}) + "\n")

    def _wrap(self, fn, name: str, layer: str):
        from pyspark.sql import DataFrame

        tracer = self
        knn = name.rsplit(".", 1)[-1] in KNN_CALLS

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled or not tracer._stack:
                return fn(*args, **kwargs)
            s = tracer._enter(name, layer)
            if knn and len(args) > 1 and isinstance(args[1], DataFrame):
                s.arg = args[1]
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._exit(s)

        return wrapper

    # -- installation ---------------------------------------------------
    def install(self) -> None:
        """Wrap every traced module's public functions, then rebind the
        names other modules imported with ``from x import f``."""
        import importlib

        from pyspark.ml import PipelineModel

        swaps = {}
        for layer, mods in LAYERS.items():
            for short in mods:
                mod = importlib.import_module(f"{PKG}.{short}")
                for attr, obj in list(vars(mod).items()):
                    if attr.startswith("_") or not inspect.isfunction(obj):
                        continue
                    if obj.__module__ != mod.__name__:
                        continue
                    w = self._wrap(obj, f"{short}.{attr}", layer)
                    setattr(mod, attr, w)
                    swaps[obj] = w
        from big_data_ml_pipeline_spark.serving import ServingService

        for attr in ("predict_rows", "predict_batch"):
            setattr(ServingService, attr, self._wrap(
                getattr(ServingService, attr), f"serving.{attr}", "serving"))
        PipelineModel.transform = self._wrap(
            PipelineModel.transform, "ml.transform", "ml")
        for name, mod in list(sys.modules.items()):
            if mod is None or not (name.startswith(PKG) or name == "__spark_entry__"):
                continue
            for attr, obj in list(vars(mod).items()):
                if inspect.isfunction(obj) and obj in swaps:
                    setattr(mod, attr, swaps[obj])


# ---------------------------------------------------------------------------
# Spark status REST API
# ---------------------------------------------------------------------------

_UNITS = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3,
          "ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0, "ns": 1e-9}


def _metric_value(text: str) -> float:
    """'8.1 s', '5,000', 'total (min, med, max ...)\\n5.3 MiB (...)' →
    a number in base units (bytes, seconds, rows)."""
    line = text.split("\n", 1)[1] if "\n" in text else text
    m = re.match(r"\s*([0-9.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


def _gmt_ms(stamp: str | None) -> float | None:
    """'2026-10-16T20:19:40.273GMT' → epoch seconds."""
    if not stamp:
        return None
    head, frac = stamp.rstrip("GMT").split(".")
    return calendar.timegm(time.strptime(head, "%Y-%m-%dT%H:%M:%S")) + int(frac) / 1000


def fetch_status(sc) -> dict:
    """Jobs, stages and SQL executions of this application."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(path):
        with urllib.request.urlopen(base + path, timeout=30) as r:
            return json.load(r)

    return {
        "jobs": get("/jobs"),
        "stages": get("/stages"),
        "sql": get("/sql?details=true&planDescription=false&offset=0&length=100000"),
    }


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_metrics(tracer: Tracer, status: dict, n_ops: int) -> dict[str, float]:
    """Per-op layer metrics of the traced window (see LAYERS.md)."""
    spans = {s.id: s for s in tracer.spans}
    children: dict[int, list[Span]] = {}
    for s in tracer.spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    ops = [s for s in tracer.spans if s.parent is None]

    jobs = {}
    for j in status["jobs"]:
        g = j.get("jobGroup") or ""
        if g.startswith("pb") and int(g[2:]) in spans:
            jobs[j["jobId"]] = (spans[int(g[2:])], j)
    stage_job = {sid: jid for jid, (_, j) in jobs.items() for sid in j["stageIds"]}
    stages = [st for st in status["stages"]
              if st["stageId"] in stage_job and st["status"] == "COMPLETE"]

    out: dict[str, float] = {}
    per_op = 1.0 / max(n_ops, 1)

    # spark runtime, attributed per op
    def ssum(key, scale=1.0):
        return sum(st.get(key, 0) or 0 for st in stages) * scale * per_op

    out["spark.task_run_s"] = ssum("executorRunTime", 1e-3)
    out["spark.task_cpu_s"] = ssum("executorCpuTime", 1e-9)
    out["spark.gc_s"] = ssum("jvmGcTime", 1e-3)
    out["spark.shuffle_read_bytes"] = ssum("shuffleReadBytes")
    out["spark.shuffle_write_bytes"] = ssum("shuffleWriteBytes")
    out["spark.spill_bytes"] = ssum("memoryBytesSpilled") + ssum("diskBytesSpilled")
    out["spark.tasks"] = ssum("numCompleteTasks")
    out["spark.failed_tasks"] = ssum("numFailedTasks")
    out["spark.scheduler_delay_s"] = per_op * sum(
        max(0.0, (_gmt_ms(st.get("firstTaskLaunchedTime")) or 0)
            - (_gmt_ms(st.get("submissionTime")) or 0))
        for st in stages if st.get("firstTaskLaunchedTime")
    )
    out["sources.scan_rows"] = ssum("inputRecords")

    # SQL-node metrics: scan time, Python workers, candidate joins
    scan_s = scan_bytes = python_s = 0.0
    knn_ops = {s.op for s in tracer.spans if s.arg is not None}
    dedup_ops = {s.op for s in tracer.spans
                 if s.name.rsplit(".", 1)[-1] in DEDUP_PAIR_CALLS}
    knn_join_rows = dedup_join_rows = 0.0
    for ex in status["sql"]:
        ids = [j for j in ex.get("successJobIds", []) + ex.get("failedJobIds", [])
               if j in jobs]
        if not ids:
            continue
        op = jobs[ids[0]][0].op
        join_rows = 0.0
        for node in ex.get("nodes", []):
            name = node.get("nodeName", "")
            for m in node.get("metrics", []):
                if name.startswith("Scan") and m["name"] == "scan time":
                    scan_s += _metric_value(m["value"])
                elif name.startswith("Scan") and m["name"] == "size of files read":
                    scan_bytes += _metric_value(m["value"])
                elif name in PYTHON_NODES and m["name"] == "time to run Python workers":
                    python_s += _metric_value(m["value"])
                elif name in JOIN_NODES and m["name"] == "number of output rows":
                    join_rows += _metric_value(m["value"])
        if op in knn_ops:
            knn_join_rows += join_rows
        if op in dedup_ops:
            dedup_join_rows += join_rows
    out["sources.scan_s"] = scan_s * per_op
    out["sources.scan_bytes"] = scan_bytes * per_op
    out["spark.python_s"] = python_s * per_op

    # session: jobs per op, and op wall time no Spark job covers
    op_jobs: dict[int, list] = {}
    for span, j in jobs.values():
        op_jobs.setdefault(span.op, []).append(j)
    gaps = []
    for o in ops:
        iv = []
        for j in op_jobs.get(o.op, []):
            s, e = _gmt_ms(j.get("submissionTime")), _gmt_ms(j.get("completionTime"))
            if s is not None and e is not None:
                iv.append((max(s, o.start), min(e, o.end)))
        iv = [(s, e) for s, e in iv if e > s]
        gaps.append(max(0.0, (o.end - o.start) - _union_s(iv)))
    out["session.jobs_per_op"] = len(jobs) * per_op
    out["session.driver_gap_s"] = sum(gaps) * per_op

    # per module: calls, self time, jobs
    def self_time(s: Span) -> float:
        iv = [(c.start, c.end) for c in children.get(s.id, [])]
        return (s.end - s.start) - _union_s(iv)

    for layer in LAYERS:
        mine = [s for s in tracer.spans if s.layer == layer]
        out[f"{layer}.calls"] = len(mine) * per_op
        out[f"{layer}.self_s"] = sum(self_time(s) for s in mine) * per_op
        out[f"{layer}.jobs"] = sum(
            1 for span, _ in jobs.values() if span.layer == layer) * per_op

    # useful work
    knn = [s for s in tracer.spans if s.arg is not None]
    n_queries = sum(s.arg.count() for s in knn)
    out["operators.similarity.candidates_per_query"] = (
        knn_join_rows / n_queries if n_queries else 0.0)
    n_pair_calls = sum(1 for s in tracer.spans
                       if s.name.rsplit(".", 1)[-1] in DEDUP_PAIR_CALLS)
    out["operators.dedup.candidate_pairs"] = (
        dedup_join_rows / n_pair_calls if n_pair_calls else 0.0)

    # serving
    preds = [s for s in tracer.spans if s.name == "serving.predict_rows"]
    out["serving.predict_s"] = (
        sum(s.end - s.start for s in preds) / len(preds) if preds else 0.0)
    pred_ops = {s.op for s in preds}
    out["serving.jobs_per_request"] = (
        sum(len(op_jobs.get(o, [])) for o in pred_ops) / len(pred_ops)
        if pred_ops else 0.0)
    tr = [s for s in tracer.spans if s.name == "ml.transform"]
    out["ml.transform_s"] = sum(s.end - s.start for s in tr) * per_op
    return out
