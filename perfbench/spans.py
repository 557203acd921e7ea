"""Spans around the program's layers, and the Spark event log folded
per span.

`Tracer.span` records name, start, end, parent and the operation it
belongs to, and tags the Spark jobs started inside it with
``setJobGroup(span id)``, so the event log can charge each job to the
span that ran it.  `install` wraps the program's public functions at
the module attributes its callers actually go through; a DataFrame
returned by a wrapped plan function gets its ``collect`` wrapped too,
so the caller's action is charged to the layer that built the plan.
Spans stay in memory until the run writes them out once.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import re
import threading
import time
from contextlib import contextmanager

from measure import cpu_split

# spans that only wrap other layers: their self time is time no layer
# span accounts for (run_etl's own work; the request handler's own work)
WRAPPERS = ("op.refresh", "serve.handler")


class Tracer:
    def __init__(self, spark_context=None, prefix: str = "s"):
        self.sc = spark_context
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._prefix = f"{prefix}{os.getpid()}-"

    def _stack(self) -> list[str]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        rec = {"id": f"{self._prefix}{next(self._ids)}", "name": name,
               "parent": stack[-1] if stack else None, **attrs}
        stack.append(rec["id"])
        if self.sc is not None:
            self.sc.setJobGroup(rec["id"], name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if self.sc is not None:
                if stack:
                    self.sc.setJobGroup(stack[-1], "")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(rec)


def _charge_collect(tracer: Tracer, df, name: str, measure_pyworker: bool):
    """Run `df.collect()` (the only action the program's callers take
    on these frames) inside a span named for the layer that built it."""
    collect = type(df).collect

    def traced(*a, **k):
        with tracer.span(name) as rec:
            before = cpu_split(os.getpid())["pyworker"] if measure_pyworker else 0.0
            out = collect(df, *a, **k)
            if measure_pyworker:
                rec["pyworker_cpu_s"] = cpu_split(os.getpid())["pyworker"] - before
            return out

    df.collect = traced
    return df


def _wrap(tracer: Tracer, owner, attr: str, name, charge=False, pyworker=False):
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def wrapper(*a, **k):
        span_name = name(*a, **k) if callable(name) else name
        with tracer.span(span_name):
            out = fn(*a, **k)
        return _charge_collect(tracer, out, span_name, pyworker) if charge else out

    setattr(owner, attr, wrapper)


class TracedLock:
    """Stands in for the app's lock and records the wait to acquire it."""

    def __init__(self, tracer: Tracer, inner):
        self.tracer, self.inner = tracer, inner

    def __enter__(self):
        with self.tracer.span("serve.lock_wait"):
            self.inner.acquire()
        return self

    def __exit__(self, *exc):
        self.inner.release()


def install(tracer: Tracer) -> None:
    """Wrap the ETL and dashboard layers (module-attribute patches)."""
    from world_vaccination_coverage_etl_spark import serve
    from world_vaccination_coverage_etl_spark.plans import pipeline
    from world_vaccination_coverage_etl_spark.schemas import TABLE_CLEAN

    def write_name(df, warehouse_dir, table, *a, **k):
        return "warehouse.write_clean" if table == TABLE_CLEAN else "warehouse.write_raw"

    _wrap(tracer, pipeline, "read_wide_csv", "csv_source.read")
    _wrap(tracer, pipeline, "melt_wide_to_tidy", "pipeline.plan")
    _wrap(tracer, pipeline, "clean_immunization", "pipeline.plan")
    _wrap(tracer, pipeline, "assert_unique_key", "pipeline.unique_check")
    _wrap(tracer, pipeline, "write_warehouse_table", write_name)
    _wrap(tracer, serve, "coverage_series", "analytics.series", charge=True)
    _wrap(tracer, serve, "window_compare", "analytics.compare", charge=True, pyworker=True)
    _wrap(tracer, serve, "cached_dimension_index", "analytics.index", charge=True)
    _wrap(tracer, serve, "render_dashboard_html", "dashboard.render")


def trace_app(tracer: Tracer, app, server) -> None:
    """Trace one served app: its lock, and each request handler as the
    server-side root span, tagged with the ``rid`` the client sent."""
    app._lock = TracedLock(tracer, app._lock)
    handler = server.RequestHandlerClass
    do_get = handler.do_GET

    def traced_get(self):
        rid = re.search(r"[?&]rid=([^&]+)", self.path)
        with tracer.span("serve.handler", rid=rid.group(1) if rid else None):
            do_get(self)

    handler.do_GET = traced_get


# ---------------------------------------------------------------- event log


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, tasks, stage intervals (epoch s), executor
    CPU seconds and shuffle bytes (read and written).
    Reads every file of a non-rolling, uncompressed event log dir."""
    files = sorted(os.path.join(log_dir, f) for f in os.listdir(log_dir)
                   if not f.startswith(".") and os.path.isfile(os.path.join(log_dir, f)))
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}

    def g(group):
        return groups.setdefault(group, {"jobs": 0, "tasks": 0, "stages": [], "cpu_s": 0.0,
                                        "shuffle_bytes": 0})

    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    g(group)["jobs"] += 1
                    for sid in ev["Stage IDs"]:
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group = stage_group.get(info["Stage ID"])
                    if group and "Submission Time" in info and "Completion Time" in info:
                        g(group)["stages"].append(
                            (info["Submission Time"] / 1000, info["Completion Time"] / 1000))
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev["Stage ID"])
                    if group is None:
                        continue
                    rec = g(group)
                    rec["tasks"] += 1
                    m = ev.get("Task Metrics") or {}
                    rec["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    rd, wr = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
                    rec["shuffle_bytes"] += (rd.get("Remote Bytes Read", 0)
                                             + rd.get("Local Bytes Read", 0)
                                             + wr.get("Shuffle Bytes Written", 0))
    return groups


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of `intervals`, clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# ------------------------------------------------------------ layer metrics


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(spans: list[dict], groups: dict[str, dict], main_op: str) -> dict[str, float]:
    """Per-operation layer figures from the spans and the folded log.

    Operations are ``op.refresh`` and ``op.request`` root spans.  Layer
    figures use the timed operations where the run has any, else those
    of its set-up or output check.  The Spark figures and the span
    coverage use the timed operations named `main_op`; coverage is the
    share of their wall time that is not self time of a `WRAPPERS` span,
    i.e. that some layer span accounts for.  A server-side
    ``serve.handler`` span is re-parented under the client request
    that sent its ``rid``.
    """
    requests = {s["rid"]: s for s in spans if s["name"] == "op.request"}
    for s in spans:
        if s["name"] == "serve.handler" and s["parent"] is None and s.get("rid") in requests:
            s["parent"] = requests[s["rid"]]["id"]
    children: dict[str, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append(s)

    def subtree(root):
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(children.get(s["id"], ()))
        return out

    def ops(name, phases=("timed", "check", "setup")):
        for phase in phases:
            picked = [s for s in spans if s["name"] == name and s.get("phase") == phase]
            if picked:
                return picked
        return []

    def dur(s):
        return s["end"] - s["start"]

    def per_op(op_list, layer, value=dur, only_present=True):
        """Mean over ops of the summed `value` of spans named `layer`."""
        sums = []
        for op in op_list:
            hit = [value(s) for s in subtree(op) if s["name"] == layer]
            if hit or not only_present:
                sums.append(sum(hit))
        return _mean(sums)

    def layer_jobs(op_list, prefix, include_root=False):
        return _mean(sum(groups.get(s["id"], {}).get("jobs", 0) for s in subtree(op)
                         if s["name"].startswith(prefix) or (include_root and s is op))
                     for op in op_list)

    refreshes, reqs = ops("op.refresh"), ops("op.request")
    m = {
        "csv_source.read_s": per_op(refreshes, "csv_source.read"),
        "csv_source.jobs": layer_jobs(refreshes, "csv_source."),
        "pipeline.plan_ms": 1e3 * per_op(refreshes, "pipeline.plan"),
        "pipeline.unique_check_s": per_op(refreshes, "pipeline.unique_check"),
        "pipeline.jobs": layer_jobs(refreshes, "pipeline.", include_root=True),
        "warehouse.write_raw_s": per_op(refreshes, "warehouse.write_raw"),
        "warehouse.write_clean_s": per_op(refreshes, "warehouse.write_clean"),
        "analytics.series_ms": 1e3 * per_op(reqs, "analytics.series"),
        "analytics.compare_ms": 1e3 * per_op(reqs, "analytics.compare"),
        "analytics.index_ms": 1e3 * per_op(reqs, "analytics.index"),
        "analytics.jobs_per_req": layer_jobs(reqs, "analytics."),
        "stats.pyworker_cpu_ms": 1e3 * per_op(
            reqs, "analytics.compare", value=lambda s: s.get("pyworker_cpu_s", 0.0)),
        "dashboard.render_ms": 1e3 * per_op(reqs, "dashboard.render"),
        "serve.lock_wait_ms": 1e3 * per_op(reqs, "serve.lock_wait", only_present=False),
        "serve.http_ms": 1e3 * _mean(dur(op) - per_op([op], "serve.handler") for op in reqs),
    }

    def self_time(s):
        kids = [(c["start"], c["end"]) for c in children.get(s["id"], ())]
        return dur(s) - union_length(kids, s["start"], s["end"])

    rows, gaps, total = [], 0.0, 0.0
    for op in ops(main_op, phases=("timed",)):
        sub = subtree(op)
        gs = [groups[s["id"]] for s in sub if s["id"] in groups]
        busy = union_length([iv for g in gs for iv in g["stages"]], op["start"], op["end"])
        rows.append((busy, dur(op) - busy, sum(g["tasks"] for g in gs),
                     sum(g["cpu_s"] for g in gs), sum(g["shuffle_bytes"] for g in gs)))
        gaps += sum(self_time(s) for s in sub if s["name"] in WRAPPERS)
        total += dur(op)
    names = ("spark.stage_busy_s", "spark.outside_stage_s", "spark.tasks",
             "spark.executor_cpu_s", "spark.shuffle_bytes")
    m.update({n: _mean(r[i] for r in rows) for i, n in enumerate(names)})
    m["trace.coverage"] = 1.0 - gaps / total if total else 0.0
    return m
