"""Traced-run mode: spans around the calls into each layer, and Spark's
own accounting of the jobs those calls launched.

``Tracer.install`` wraps each layer's public functions where their
caller looks them up (``enumerate_rows`` is imported by name into
``frame``, so it is wrapped there). A wrapped call records a span —
layer, name, start, end, parent, thread — and makes the span's id the
thread's Spark job group for its duration, so every job Spark runs is
tied to the innermost span open on the thread that submitted it.
Spans stay in memory; ``collect`` reads Spark's status store once at
the end and ``per_layer_metrics`` turns both into the per-layer
figures, every one of them present even when zero.
"""

from __future__ import annotations

import functools
import itertools
import json
import re
import statistics
import threading
import time
from contextlib import contextmanager

import lazy_frame_spark.frame as lf_frame
import lazy_frame_spark.session as lf_session
from lazy_frame_spark.metadata import ColumnAttrs
from lazy_frame_spark.sources import csv as lf_csv
from lazy_frame_spark.sources import filestats, versioned

#: (layer, owner, attribute) — owner is where the caller looks it up
TRACE_POINTS = [
    ("session", lf_session, "get_spark"),
    ("sources.csv", lf_csv, "open_csv"),
    ("functions.compare", lf_frame, "typed_compare"),
    *[("frame", lf_frame.LazyFrame, m) for m in (
        "open", "filter", "select", "rows", "row_range", "head", "tail",
        "which", "to_pandas", "close")],
    ("rowid", lf_frame, "enumerate_rows"),
    ("metadata", ColumnAttrs, "apply_to_pandas"),
    *[("sources.versioned", versioned, f) for f in (
        "write_versioned", "append_versioned", "merge_versioned",
        "compact_versioned", "read_versioned")],
    ("sources.filestats", filestats, "prune_files"),
    ("sources.filestats", filestats, "prune_manifest_spark"),
]
LAYERS = ["session", "sources.csv", "functions.compare", "frame", "rowid",
          "metadata", "sources.versioned", "sources.filestats"]
#: layers whose calls launch Spark jobs get executor figures
JOB_LAYERS = ["sources.csv", "frame", "rowid", "sources.versioned",
              "sources.filestats"]
EXECUTOR_FIGURES = ["executor_run_s", "executor_cpu_s", "gc_s",
                    "shuffle_bytes", "spill_bytes"]
COMMITS = ("append_versioned", "merge_versioned", "compact_versioned")
_SCAN_NODE = re.compile(r"^(Scan |InMemoryTableScan|FileScan )")


def _spark_context():
    from pyspark import SparkContext

    return SparkContext._active_spark_context


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._saved: list[tuple] = []
        self.overhead_s = 0.0

    # -- spans ---------------------------------------------------------- #

    def _stack(self) -> list[dict]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @staticmethod
    def _set_group(group: str | None) -> None:
        sc = _spark_context()
        if sc is not None:
            sc.setLocalProperty("spark.jobGroup.id", group)

    @contextmanager
    def span(self, layer: str, name: str, **attrs):
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        sp = {"id": f"s{next(self._ids)}", "layer": layer, "name": name,
              "parent": parent["id"] if parent else None,
              "thread": threading.get_ident(), **attrs}
        stack.append(sp)
        self._set_group(sp["id"])
        sp["start"] = time.time()
        t1 = time.perf_counter()
        try:
            yield sp
        finally:
            t2 = time.perf_counter()
            sp["end"] = time.time()
            stack.pop()
            self._set_group(stack[-1]["id"] if stack else None)
            with self._lock:
                self.spans.append(sp)
                self.overhead_s += (t1 - t0) + (time.perf_counter() - t2)

    def _wrap(self, layer: str, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer, name):
                return fn(*args, **kwargs)
        return traced

    def install(self) -> None:
        for layer, owner, attr in TRACE_POINTS:
            raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
            self._saved.append((owner, attr, raw))
            if isinstance(raw, classmethod):
                wrapped = classmethod(self._wrap(layer, attr, raw.__func__))
            else:
                wrapped = self._wrap(layer, attr, raw)
            setattr(owner, attr, wrapped)

    def uninstall(self) -> None:
        for owner, attr, raw in reversed(self._saved):
            setattr(owner, attr, raw)
        self._saved.clear()

    # -- Spark's accounting --------------------------------------------- #

    def collect(self, spark) -> dict:
        """Jobs, stages, SQL scan rows and cached RDD sizes of the live
        context, read once."""
        t0 = time.perf_counter()
        jvm = spark._jvm
        sc = spark.sparkContext
        store = sc._jsc.sc().statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala,
                               "DefaultScalaModule$").__getattr__("MODULE$")
        mapper.registerModule(scala_module)
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        stages = json.loads(mapper.writeValueAsString(
            store.stageList(None, False, False, no_quantiles, None)))
        sql = spark._jsparkSession.sharedState().statusStore()
        execs = sql.executionsList()
        scans = {}  # job id -> {"scan_rows": n, "scans_csv": bool}
        for i in range(execs.size()):
            e = execs.apply(i)
            eid = e.executionId()
            values = sql.executionMetrics(eid)
            nodes = sql.planGraph(eid).allNodes()
            csv_rows = scan_rows = 0
            for k in range(nodes.size()):
                node = nodes.apply(k)
                nname = node.name()
                if not _SCAN_NODE.match(nname):
                    continue
                metrics = node.metrics()
                for q in range(metrics.size()):
                    m = metrics.apply(q)
                    if m.name() != "number of output rows":
                        continue
                    v = values.get(m.accumulatorId())
                    n = _first_int(v.get()) if v.isDefined() else 0
                    scan_rows += n
                    if "csv" in nname:
                        csv_rows += n
            job_ids = e.jobs().keys().toSeq()
            for k in range(job_ids.size()):
                # the plan's scan rows count once, on its first job
                scans[int(job_ids.apply(k))] = {
                    "scan_rows": scan_rows if k == 0 else 0,
                    "scans_csv": csv_rows > 0}
        storage = sc._jsc.sc().getRDDStorageInfo()
        cache_mem = sum(int(r.memSize()) for r in storage)
        cache_disk = sum(int(r.diskSize()) for r in storage)
        return {"jobs": jobs, "stages": stages, "scans": scans,
                "cache_mem_bytes": cache_mem, "cache_disk_bytes": cache_disk,
                "collect_s": time.perf_counter() - t0}


def unit_of(name: str) -> str:
    """The unit of a per-layer metric, read from its name."""
    leaf = name.rsplit(".", 1)[-1]
    if name.startswith("rowid.") and leaf in EXECUTOR_FIGURES:
        return "bytes" if leaf.endswith("_bytes") else "s"
    rules = [
        ("mb_per_task_s", "MB/s"), ("_per_user_byte", "ratio"),
        ("_per_row_returned", "ratio"), ("_ratio", "ratio"),
        ("bytes_read_per_op", "bytes/op"), ("_bytes", "bytes/op"),
        ("_s_per_op", "s/op"), ("_per_op", "count/op"),
        ("_per_commit", "count/commit"), ("_s", "s"),
    ]
    if leaf in ("cache_mem_bytes", "cache_disk_bytes"):
        return "bytes"
    if leaf in ("executor_run_s", "executor_cpu_s", "gc_s", "typed_compare_s"):
        return "s/op"
    for suffix, unit in rules:
        if leaf.endswith(suffix):
            return unit
    return "count"


def _first_int(text: str) -> int:
    m = re.search(r"[\d,]+", text or "")
    return int(m.group(0).replace(",", "")) if m else 0


def _union_s(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def per_layer_metrics(tracer: Tracer, spark_data: dict, extras: dict) -> dict:
    """Every per-layer figure, zero where a layer did no work.

    ``extras`` carries the figures a workload measured around its ops
    (``Workload.trace_figures``); the timed ops are the ``op`` spans."""
    spans = {s["id"]: s for s in tracer.spans}
    children: dict[str, list[dict]] = {}
    for s in tracer.spans:
        if s["parent"]:
            children.setdefault(s["parent"], []).append(s)

    def root(s):
        while s["parent"]:
            s = spans[s["parent"]]
        return s

    def dur(s):
        return s["end"] - s["start"]

    ops = [s for s in tracer.spans if s["layer"] == "op"]
    n_ops = max(len(ops), 1)
    op_ids = {s["id"] for s in ops}
    # spans inside a timed op, grouped by op
    in_op: dict[str, list[dict]] = {o: [] for o in op_ids}
    for s in tracer.spans:
        r = root(s)
        if r["id"] in op_ids and s is not r:
            in_op[r["id"]].append(s)

    stages = {(st["stageId"]): st for st in spark_data["stages"]
              if st.get("attemptId", 0) == 0}
    scans = spark_data["scans"]

    def job_stats(job):
        sts = [stages[i] for i in job["stageIds"] if i in stages]
        return {
            "run_s": sum(s["executorRunTime"] for s in sts) / 1e3,
            "cpu_s": sum(s["executorCpuTime"] for s in sts) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in sts) / 1e3,
            "shuffle": sum(s["shuffleReadBytes"] + s["shuffleWriteBytes"]
                           for s in sts),
            "spill": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                         for s in sts),
            "input": sum(s["inputBytes"] for s in sts),
            "tasks": sum(s["numTasks"] for s in sts),
        }

    jobs_by_span: dict[str, list[dict]] = {}
    for j in spark_data["jobs"]:
        g = j.get("jobGroup")
        if g in spans:
            j["stats"] = job_stats(j)
            jobs_by_span.setdefault(g, []).append(j)

    def jobs_under(span_ids):
        return [j for sid in span_ids for j in jobs_by_span.get(sid, [])]

    # index builds: the call that first ran enumerate_rows on a frame
    builds = [spans[s["parent"]] for s in tracer.spans
              if s["layer"] == "rowid" and s["parent"]]

    def subtree(sid):
        out, todo = [], [sid]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(c["id"] for c in children.get(x, []))
        return out

    # jobs per layer: the innermost span's layer, except that a
    # CSV-scanning job is sources.csv's (an index build's jobs are
    # rowid's, counted per build below)
    layer_jobs: dict[str, list[dict]] = {layer: [] for layer in JOB_LAYERS}
    op_jobs: dict[str, list[dict]] = {}
    for o in op_ids:
        js = jobs_under([o] + [s["id"] for s in in_op[o]])
        op_jobs[o] = js
        for j in js:
            sp = spans[j["jobGroup"]]
            if scans.get(j["jobId"], {}).get("scans_csv"):
                layer_jobs["sources.csv"].append(j)
            elif sp["layer"] in layer_jobs:
                layer_jobs[sp["layer"]].append(j)

    m: dict[str, float] = {}
    opened = [dur(s) for s in tracer.spans if s["name"] == "get_spark"]
    m["session.start_s"] = statistics.median(opened) if opened else 0.0

    def layer_spans(layer, timed=True):
        return [s for o in op_ids for s in in_op[o] if s["layer"] == layer] \
            if timed else [s for s in tracer.spans if s["layer"] == layer]

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    # sources.csv
    opens = [dur(s) for s in layer_spans("sources.csv", timed=False)]
    m["sources.csv.open_s"] = statistics.median(opens) if opens else 0.0
    csv_jobs = layer_jobs["sources.csv"]
    csv_run = sum(j["stats"]["run_s"] for j in csv_jobs)
    csv_bytes = sum(j["stats"]["input"] for j in csv_jobs)
    m["sources.csv.scans_per_op"] = len(csv_jobs) / n_ops
    m["sources.csv.bytes_read_per_op"] = csv_bytes / n_ops
    m["sources.csv.task_s_per_op"] = csv_run / n_ops
    m["sources.csv.cpu_s_per_op"] = sum(j["stats"]["cpu_s"] for j in csv_jobs) / n_ops
    m["sources.csv.mb_per_task_s"] = csv_bytes / 1e6 / csv_run if csv_run else 0.0

    m["functions.compare.typed_compare_s"] = sum(
        dur(s) for s in layer_spans("functions.compare")) / n_ops

    # frame: over the ops that went through the facade
    frame_ops = [o for o in op_ids if any(s["layer"] == "frame" for s in in_op[o])]
    driver = []
    for o in frame_ops:
        ivs = [(j["submissionTime"] / 1e3, j["completionTime"] / 1e3)
               for j in op_jobs[o] if j.get("completionTime")]
        driver.append(dur(spans[o]) - _union_s(ivs))
    m["frame.driver_s_per_op"] = mean(driver)
    nf = max(len(frame_ops), 1)
    m["frame.jobs_per_op"] = sum(len(op_jobs[o]) for o in frame_ops) / nf
    m["frame.tasks_per_op"] = sum(j["stats"]["tasks"] for o in frame_ops
                                  for j in op_jobs[o]) / nf

    def scanned_per_returned(op_list):
        scanned = sum(scans.get(j["jobId"], {}).get("scan_rows", 0)
                      for o in op_list for j in op_jobs[o])
        returned = sum(spans[o].get("rows", 0) for o in op_list)
        return scanned / returned if returned else 0.0

    m["frame.rows_scanned_per_row_returned"] = scanned_per_returned(frame_ops)

    # rowid
    m["rowid.enumerate_calls"] = float(len(layer_spans("rowid", timed=False)))
    m["rowid.build_s"] = statistics.median([dur(b) for b in builds]) if builds else 0.0
    last_build = builds[-1]["id"] if builds else None
    m["rowid.build_jobs"] = float(len(jobs_under(subtree(last_build)))) if last_build else 0.0
    m["rowid.cache_mem_bytes"] = float(spark_data["cache_mem_bytes"])
    m["rowid.cache_disk_bytes"] = float(spark_data["cache_disk_bytes"])

    m["metadata.apply_s_per_op"] = sum(
        dur(s) for s in layer_spans("metadata")) / nf if frame_ops else 0.0

    # sources.versioned / sources.filestats
    vspans = layer_spans("sources.versioned")
    for name, key in (("append_versioned", "append_s"),
                      ("merge_versioned", "merge_s"),
                      ("compact_versioned", "compact_s"),
                      ("read_versioned", "read_plan_s")):
        m[f"sources.versioned.{key}"] = mean(
            [dur(s) for s in vspans if s["name"] == name])
    commit_ops = [o for o in op_ids
                  if any(s["name"] in COMMITS for s in in_op[o])]
    m["sources.versioned.jobs_per_commit"] = (
        sum(len(op_jobs[o]) for o in commit_ops) / len(commit_ops)
        if commit_ops else 0.0)
    for key in ("files_written_per_commit", "bytes_written_per_user_byte",
                "live_files", "bytes_stored_per_user_byte"):
        m[f"sources.versioned.{key}"] = float(extras.get(key, 0.0))
    read_ops = [o for o in op_ids
                if any(s["name"] == "read_versioned" for s in in_op[o])]
    m["sources.filestats.prune_s"] = (
        sum(dur(s) for o in read_ops for s in in_op[o]
            if s["layer"] == "sources.filestats") / len(read_ops)
        if read_ops else 0.0)
    m["sources.filestats.files_scanned_ratio"] = float(
        extras.get("files_scanned_ratio", 0.0))
    m["sources.filestats.rows_scanned_per_row_returned"] = scanned_per_returned(read_ops)

    # executor figures per job-launching layer: for the last index
    # build for rowid, per timed op for the rest
    for layer in JOB_LAYERS:
        if layer == "rowid":
            js, per = (jobs_under(subtree(last_build)) if last_build else []), 1
        else:
            js, per = layer_jobs[layer], n_ops
        m[f"{layer}.executor_run_s"] = sum(j["stats"]["run_s"] for j in js) / per
        m[f"{layer}.executor_cpu_s"] = sum(j["stats"]["cpu_s"] for j in js) / per
        m[f"{layer}.gc_s"] = sum(j["stats"]["gc_s"] for j in js) / per
        m[f"{layer}.shuffle_bytes"] = sum(j["stats"]["shuffle"] for j in js) / per
        m[f"{layer}.spill_bytes"] = sum(j["stats"]["spill"] for j in js) / per

    # self time and calls per timed op, for every layer
    for layer in LAYERS:
        own = layer_spans(layer)
        self_s = sum(dur(s) - sum(dur(c) for c in children.get(s["id"], []))
                     for s in own)
        m[f"{layer}.self_s_per_op"] = self_s / n_ops
        m[f"{layer}.calls_per_op"] = len(own) / n_ops

    m["trace.overhead_s_per_op"] = tracer.overhead_s / n_ops
    m["trace.collect_s"] = spark_data["collect_s"]
    return m
