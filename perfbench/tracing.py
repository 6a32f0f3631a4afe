"""Outside-in tracing for the benchmark's traced run.

Nothing here is imported into the engine. :class:`Tracer` replaces the
public functions of each layer module, and the public methods of
``datalake.Lake``, at their module or class attribute with a wrapper that
records a span (name, layer, start, end, parent, query) and restores the
originals on :meth:`Tracer.uninstall`. A call made through a name bound
before patching (``from x import y``) is not seen; :meth:`Tracer.install`
lists every such binding it finds.

:class:`StreamListener` keeps per-micro-batch progress, and
:class:`StatusStore` reads jobs, stages and SQL node metrics from the
session's status store REST API. :func:`pass_metrics` turns one traced
pass into the per-layer numbers.
"""

from __future__ import annotations

import datetime as dt
import functools
import importlib
import inspect
import itertools
import json
import re
import sys
import threading
import time
import urllib.parse
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql.streaming import StreamingQueryListener

import stats

PKG = "dataengineeringpipeline_spark"
LAYERS = {
    "cleaning": f"{PKG}.cleaning",
    "quality": f"{PKG}.quality",
    "rules": f"{PKG}.rules",
    "gold": f"{PKG}.gold",
    "features": f"{PKG}.features",
    "datalake": f"{PKG}.datalake",
    "ivm": f"{PKG}.ivm",
    "streaming": f"{PKG}.streaming",
    "dedup": f"{PKG}.operators.dedup",
    "similarity": f"{PKG}.operators.similarity",
    "corpus": f"{PKG}.operators.corpus",
}
#: Spans the harness itself opens around each pass, query and sink.
HARNESS_LAYERS = ("pass", "query", "sink")
#: ``Lake`` methods reported one by one.
LAKE_METHODS = (
    "merge_changes", "merge_scd2", "write", "write_clustered",
    "build_file_index", "point_lookup", "read_version",
)
#: Layers whose public functions are reported one by one.
PER_FUNCTION = ("ivm", "dedup", "similarity", "corpus")
MB = 1e6
#: :func:`pass_metrics` keys reported as per-layer metrics; the rest is
#: printed as detail. Per-method and per-function keys are those the
#: workloads call.
REPORTED = (
    *(f"spark.{k}" for k in (
        "jobs", "stages", "tasks", "job_s", "driver_gap_s", "executor_cpu_s", "gc_s",
        "input_mb", "output_mb", "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
    )),
    "arrow.to_python_mb", "arrow.rows_from_python",
    *(f"{layer}.{k}" for layer in LAYERS for k in ("calls", "self_s", "jobs")),
    "query.self_s", "sink.self_s", "sink.jobs", "pass.self_s",
    *(f"datalake.{m}.{k}" for m in ("write", "write_clustered", "merge_scd2") for k in ("calls", "s", "jobs")),
    "datalake.files_rewritten", "datalake.key_path_distributed",
    "ivm.incremental_daily_sales.s", "ivm.incremental_daily_sales.jobs",
    "dedup.exact_dedup.s", "dedup.exact_dedup.jobs", "dedup.exact_dedup.shuffle_write_mb",
    "similarity.ann_bruteforce_topk.s", "corpus.shard_balance_report.s",
    *(f"streaming.{k}" for k in (
        "drains", "batches", "input_rows", "jobs_per_batch",
        "add_batch_ms", "query_planning_ms", "wal_commit_ms", "lifecycle_s",
    )),
)


def unit(key: str) -> str:
    """Unit of a :func:`pass_metrics` key, from its suffix."""
    for suffix, u in (("_ms", "ms"), ("_mb", "MB"), ("_pct", "%"), ("_ratio", "ratio"), ("_s", "s"), (".s", "s")):
        if key.endswith(suffix):
            return u
    return "count"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    start: float
    end: float
    parent: int | None
    query: str | None
    thread: int
    attrs: dict = field(default_factory=dict)


def _note_result(span: Span, out) -> None:
    """Keep the lake audit and lookup report a traced call returned."""
    if isinstance(out, dict) and "files_rewritten" in out:
        span.attrs["files_rewritten"] = out["files_rewritten"]
        span.attrs["key_path"] = out.get("key_path")
    elif isinstance(out, tuple) and len(out) == 2 and isinstance(out[1], dict) and "files_read" in out[1]:
        span.attrs["files_read"] = out[1]["files_read"]
        span.attrs["files_total"] = out[1]["files_total"]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.query: str | None = None
        self.unseen: list[str] = []
        self._ids = itertools.count()
        self._stacks: dict[int, list[int]] = {}
        self._main = threading.get_ident()
        self._patched: list[tuple[object, str, object]] = []

    def _parent(self, stack: list[int]) -> int | None:
        if stack:
            return stack[-1]
        try:  # a pool thread: charge it to what the main thread has open
            return self._stacks.get(self._main, [])[-1]
        except IndexError:
            return None

    @contextmanager
    def span(self, name: str, layer: str):
        tid = threading.get_ident()
        stack = self._stacks.setdefault(tid, [])
        sp = Span(next(self._ids), name, layer, time.time(), 0.0, self._parent(stack), self.query, tid)
        self.spans.append(sp)
        stack.append(sp.id)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()

    def _wrap(self, fn, name: str, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, layer) as sp:
                out = fn(*args, **kwargs)
                _note_result(sp, out)
                return out

        return traced

    def install(self) -> None:
        """Patch every layer; record the bindings the patches cannot reach."""
        originals: dict[int, str] = {}
        # import every layer first, so no module imported later binds a wrapper
        modules = {layer: importlib.import_module(modname) for layer, modname in LAYERS.items()}
        for layer, mod in modules.items():
            modname = mod.__name__
            for attr, fn in list(vars(mod).items()):
                if not attr.startswith("_") and inspect.isfunction(fn) and fn.__module__ == modname:
                    self._patch(mod, attr, self._wrap(fn, f"{layer}.{attr}", layer))
                    originals[id(fn)] = f"{modname}.{attr}"
        lake = importlib.import_module(LAYERS["datalake"]).Lake
        for attr, fn in list(vars(lake).items()):
            if not attr.startswith("_") and inspect.isfunction(fn):
                self._patch(lake, attr, self._wrap(fn, f"datalake.{attr}", "datalake"))
        self.unseen = sorted(
            f"{mname}.{attr} -> {originals[id(val)]}"
            for mname, mod in list(sys.modules.items())
            if mod is not None and (mname.startswith(PKG) or mname == "__spark_entry__")
            for attr, val in list(vars(mod).items())
            if id(val) in originals and originals[id(val)] != f"{mname}.{attr}"
        )

    def _patch(self, owner, attr: str, new) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    def uninstall(self) -> None:
        while self._patched:
            owner, attr, old = self._patched.pop()
            setattr(owner, attr, old)


def _epoch(stamp: str) -> float:
    """Seconds since the epoch for the REST API's ``...GMT`` and the
    listener's ISO ``...Z`` timestamps (both UTC)."""
    stamp = stamp.replace("GMT", "").replace("Z", "")
    return dt.datetime.fromisoformat(stamp).replace(tzinfo=dt.timezone.utc).timestamp()


class StreamListener(StreamingQueryListener):
    """Keeps every streaming query's start, per-batch progress and end."""

    def __init__(self) -> None:
        self.started: dict[str, float] = {}
        self.ended: dict[str, float] = {}
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        self.started[str(event.id)] = _epoch(event.timestamp)

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.batches.append({
            "query": str(p.id),
            "start": _epoch(p.timestamp),
            "rows": p.numInputRows,
            "ms": dict(p.durationMs),
        })

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        self.ended[str(event.id)] = time.time()


_SIZE = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def metric_value(text: str) -> float:
    """Total of a SQL node metric as the REST API prints it: a plain count
    (``1,234``), a size (``1.5 MiB``), or a ``total (min, med, max ...)``
    header followed by the figures, of which the first is the total."""
    body = text.split("\n")[-1]
    m = re.match(r"\s*([\d,.]+)\s*([KMGT]?i?B)?", body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _SIZE.get(m.group(2) or "B", 1)


class StatusStore:
    """The session's status store, read through its local REST API."""

    def __init__(self, spark) -> None:
        self._spark = spark
        port = urllib.parse.urlparse(spark.sparkContext.uiWebUrl).port
        self._base = f"http://127.0.0.1:{port}/api/v1/applications/{spark.sparkContext.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self._base}/{path}", timeout=60) as r:
            return json.load(r)

    def window(self, lo: float, hi: float) -> tuple[list[dict], dict[int, dict], list[dict]]:
        """Jobs submitted in ``[lo, hi]``, their stages' metrics by stage id,
        and the SQL executions submitted in the window."""
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = []
        for j in self._get("jobs"):
            t = _epoch(j["submissionTime"])
            if lo <= t <= hi:
                end = _epoch(j["completionTime"]) if "completionTime" in j else hi
                jobs.append({"id": j["jobId"], "start": t, "end": end, "stages": j["stageIds"]})
        stages: dict[int, dict] = {}
        for s in self._get("stages"):
            if s["status"] != "COMPLETE":
                continue
            agg = stages.setdefault(s["stageId"], {})
            for k in ("numCompleteTasks", "executorCpuTime", "jvmGcTime", "inputBytes", "outputBytes",
                      "shuffleReadBytes", "shuffleWriteBytes", "diskBytesSpilled", "memoryBytesSpilled"):
                agg[k] = agg.get(k, 0) + s.get(k, 0)
        sql = [
            e for e in self._get("sql?details=true&planDescription=false&offset=0&length=1000000")
            if lo <= _epoch(e["submissionTime"]) <= hi
        ]
        return jobs, stages, sql


def _stage_sum(jobs: list[dict], stages: dict[int, dict], key: str) -> float:
    ids = {sid for j in jobs for sid in j["stages"]}
    return sum(stages.get(sid, {}).get(key, 0) for sid in ids)


def pass_metrics(
    tracer: Tracer, listener: StreamListener, window: tuple[float, float],
    jobs: list[dict], stages: dict[int, dict], sql: list[dict],
) -> dict[str, float]:
    """Per-layer numbers of one traced pass over ``window``.

    ``<layer>.self_s`` and ``<layer>.jobs`` are exclusive: a span's own
    time, and the jobs whose innermost open span it was at submission, so
    they add up over layers (with ``pass``, ``query`` and ``sink``) to the
    pass. Per-method and per-function ``.s`` and ``.jobs`` are inclusive:
    the call's duration and the jobs submitted while it was open.
    """
    lo, hi = window
    spans = [s for s in tracer.spans if lo <= s.start and s.end <= hi]
    own = stats.self_times([(s.id, s.parent, s.start, s.end) for s in spans])
    owner = stats.attribute([(s.id, s.start, s.end) for s in spans], {j["id"]: j["start"] for j in jobs})
    by_id = {s.id: s for s in spans}
    m: dict[str, float] = {}

    def add(key: str, v: float) -> None:
        m[key] = m.get(key, 0) + v

    for layer in (*LAYERS, *HARNESS_LAYERS):
        m[f"{layer}.calls"] = 0
        m[f"{layer}.self_s"] = 0.0
        m[f"{layer}.jobs"] = 0
    for s in spans:
        add(f"{s.layer}.calls", 1)
        add(f"{s.layer}.self_s", own[s.id])
    for job, sid in owner.items():
        add(f"{by_id[sid].layer if sid is not None else 'pass'}.jobs", 1)

    for s in spans:
        method = s.name.split(".", 1)[1] if "." in s.name else ""
        if (s.layer == "datalake" and method in LAKE_METHODS) or s.layer in PER_FUNCTION:
            inside = [j for j in jobs if s.start <= j["start"] <= s.end]
            add(f"{s.name}.calls", 1)
            add(f"{s.name}.s", s.end - s.start)
            add(f"{s.name}.jobs", len(inside))
            if s.layer == "dedup":
                add(f"{s.name}.shuffle_write_mb", _stage_sum(inside, stages, "shuffleWriteBytes") / MB)
    audits = [s.attrs for s in spans if "files_rewritten" in s.attrs]
    lookups = [s.attrs for s in spans if "files_read" in s.attrs]
    m["datalake.files_rewritten"] = sum(a["files_rewritten"] for a in audits)
    m["datalake.key_path_distributed"] = sum(a["key_path"] == "distributed" for a in audits)
    total = sum(a["files_total"] for a in lookups)
    m["datalake.lookup_files_read_ratio"] = sum(a["files_read"] for a in lookups) / total if total else 0.0

    intervals = [(j["start"], j["end"]) for j in jobs]
    m["spark.jobs"] = len(jobs)
    m["spark.stages"] = len({sid for j in jobs for sid in j["stages"] if sid in stages})
    m["spark.tasks"] = _stage_sum(jobs, stages, "numCompleteTasks")
    m["spark.job_s"] = stats.covered(intervals, window)
    m["spark.driver_gap_s"] = stats.driver_gap(window, intervals)
    m["spark.executor_cpu_s"] = _stage_sum(jobs, stages, "executorCpuTime") / 1e9
    m["spark.gc_s"] = _stage_sum(jobs, stages, "jvmGcTime") / 1e3
    for name, key in (("input_mb", "inputBytes"), ("output_mb", "outputBytes"),
                      ("shuffle_read_mb", "shuffleReadBytes"), ("shuffle_write_mb", "shuffleWriteBytes")):
        m[f"spark.{name}"] = _stage_sum(jobs, stages, key) / MB
    m["spark.spill_mb"] = (_stage_sum(jobs, stages, "diskBytesSpilled")
                           + _stage_sum(jobs, stages, "memoryBytesSpilled")) / MB

    sent = rows = 0.0
    for e in sql:
        for node in e.get("nodes", []):
            values = {x["name"]: x["value"] for x in node.get("metrics", [])}
            if "data sent to Python workers" in values:
                sent += metric_value(values["data sent to Python workers"])
                rows += metric_value(values.get("number of output rows", "0"))
    m["arrow.to_python_mb"] = sent / MB
    m["arrow.rows_from_python"] = rows

    batches = [b for b in listener.batches if lo <= b["start"] <= hi]
    trigger = [b["ms"].get("triggerExecution", 0) for b in batches]
    drains = [q for q, t in listener.started.items() if lo <= t <= hi]
    in_batch = sum(
        1 for j in jobs for b in batches
        if b["start"] <= j["start"] <= b["start"] + b["ms"].get("triggerExecution", 0) / 1e3
    )
    m["streaming.drains"] = len(drains)
    m["streaming.batches"] = len(batches)
    m["streaming.input_rows"] = sum(b["rows"] for b in batches)
    m["streaming.jobs_per_batch"] = in_batch / len(batches) if batches else 0.0
    for name, key in (("add_batch_ms", "addBatch"), ("query_planning_ms", "queryPlanning"),
                      ("wal_commit_ms", "walCommit")):
        m[f"streaming.{name}"] = float(sum(b["ms"].get(key, 0) for b in batches))
    m["streaming.lifecycle_s"] = sum(
        listener.ended.get(q, hi) - listener.started[q] for q in drains
    ) - sum(trigger) / 1e3
    return m
