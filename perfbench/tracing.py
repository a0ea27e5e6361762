"""Spans, Spark event-log aggregates and process-tree memory for the
traced benchmark run.

Spans are recorded from the benchmark's own files: ``patch_crawl``
wraps the layer entry points as ``crawl.pipeline`` calls them
(``load_frontier``, ``pop_batch``, ``gate_new_urls``,
``merge_filters``, ``Warehouse.save``, ``Warehouse.commit_round``,
``init_state`` and ``run_round`` itself), so the program is unchanged.
Spans live in memory and are written out once, when the run ends.
Stage, job and shuffle figures come from the Spark event log the traced
session writes.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time

# Spark plan nodes that run Python workers (the Arrow/pandas crossing)
PYTHON_SCOPES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
                 "MapInArrow", "PythonMapInArrow", "FlatMapGroupsInPandas",
                 "FlatMapCoGroupsInPandas", "AggregateInPandas",
                 "WindowInPandas", "FlatMapGroupsInArrow",
                 "FlatMapCoGroupsInArrow")


class Tracer:
    """In-memory span recorder. A span's parent is the innermost open
    span on its thread; spans opened on a thread with no open span (the
    pipeline's side-write threads) hang off the current root span."""

    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.root: int | None = None

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str, layer: str, **attrs) -> dict:
        st = self._stack()
        sp = {"id": next(self._ids), "name": name, "layer": layer,
              "parent": st[-1] if st else self.root,
              "thread": threading.current_thread().name,
              "start": time.time(), "end": None, **attrs}
        st.append(sp["id"])
        with self._lock:
            self.spans.append(sp)
        return sp

    def close(self, sp: dict):
        sp["end"] = time.time()
        st = self._stack()
        if st and st[-1] == sp["id"]:
            st.pop()

    def wrap(self, fn, name: str, layer: str, attrs=None):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sp = self.open(name, layer, **(attrs(*args, **kwargs)
                                           if attrs else {}))
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(sp)
        return traced


def patch_crawl(tracer: Tracer, on_round=None):
    """Wrap the crawl layers' entry points as the pipeline module calls
    them. ``on_round(wh)`` runs after each round. Returns
    a function that restores the originals."""
    from jsonextract_spark.crawl import pipeline, seen
    from jsonextract_spark.crawl.tables import Warehouse

    saved = []

    def put(owner, attr, new):
        saved.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, new)

    run_round = pipeline.run_round

    def traced_round(spark, wh, round_no, *args, **kwargs):
        sp = tracer.open("run_round", "pipeline", round=round_no)
        prev_root, tracer.root = tracer.root, sp["id"]
        try:
            return run_round(spark, wh, round_no, *args, **kwargs)
        finally:
            tracer.close(sp)
            tracer.root = prev_root
            if on_round is not None:
                on_round(wh)

    put(pipeline, "run_round", traced_round)
    put(pipeline, "init_state",
        tracer.wrap(pipeline.init_state, "init_state", "pipeline"))
    put(pipeline, "load_frontier",
        tracer.wrap(pipeline.load_frontier, "load_frontier", "pipeline"))
    put(pipeline, "pop_batch",
        tracer.wrap(pipeline.pop_batch, "pop_batch", "scheduler"))
    for fn in ("gate_new_urls", "merge_filters", "build_filters"):
        put(seen, fn, tracer.wrap(getattr(seen, fn), fn, "seen"))
    put(Warehouse, "save",
        tracer.wrap(Warehouse.save, "Warehouse.save", "tables",
                    attrs=lambda wh, df, table, *a, **k: {"table": table}))
    put(Warehouse, "commit_round",
        tracer.wrap(Warehouse.commit_round, "Warehouse.commit_round",
                    "tables"))

    def undo():
        for owner, attr, orig in reversed(saved):
            setattr(owner, attr, orig)
    return undo


def _union_len(intervals) -> float:
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


def union_within(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    return _union_len((max(s, lo), min(e, hi)) for s, e in intervals
                      if min(e, hi) > max(s, lo))


def self_times(spans: list[dict]) -> dict:
    """Per-span self time (duration minus the part of it its child
    spans cover), summed per layer."""
    kids: dict[int, list] = {}
    for sp in spans:
        if sp["parent"] is not None:
            kids.setdefault(sp["parent"], []).append(
                (sp["start"], sp["end"]))
    per_layer: dict[str, float] = {}
    for sp in spans:
        covered = union_within(kids.get(sp["id"], ()), sp["start"],
                               sp["end"])
        sp["self_s"] = sp["end"] - sp["start"] - covered
        per_layer[sp["layer"]] = per_layer.get(sp["layer"], 0.0) + \
            sp["self_s"]
    return per_layer


# -- Spark event log ---------------------------------------------------------

def read_event_log(directory: str) -> tuple[list[dict], list[dict]]:
    """(jobs, stages) from the single application log in ``directory``.
    Times are epoch seconds."""
    names = [n for n in os.listdir(directory) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {directory}, "
                           f"found {names}")
    jobs, stages = {}, []
    with open(os.path.join(directory, names[0])) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "id": ev["Job ID"],
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "group": props.get("spark.jobGroup.id"),
                    "desc": props.get("spark.job.description"),
                }
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                acc = {a.get("Name"): a.get("Value")
                       for a in si.get("Accumulables", [])}
                scopes = []
                for rdd in si.get("RDD Info", []):
                    try:
                        scopes.append(json.loads(rdd.get("Scope", "{}"))
                                      .get("name", ""))
                    except ValueError:
                        pass
                stages.append({
                    "id": si["Stage ID"],
                    "start": si.get("Submission Time", 0) / 1000.0,
                    "end": si.get("Completion Time", 0) / 1000.0,
                    "tasks": si.get("Number of Tasks"),
                    "python": any(s in PYTHON_SCOPES for s in scopes),
                    "shuffle_write_bytes": int(acc.get(
                        "internal.metrics.shuffle.write.bytesWritten")
                        or 0),
                    "shuffle_read_bytes": int(acc.get(
                        "internal.metrics.shuffle.read.remoteBytesRead")
                        or 0) + int(acc.get(
                            "internal.metrics.shuffle.read.localBytesRead")
                        or 0),
                    "executor_run_s": int(acc.get(
                        "internal.metrics.executorRunTime") or 0) / 1000.0,
                })
    return [j for j in jobs.values() if j["end"] is not None], stages


def window_stats(jobs, stages, lo: float, hi: float) -> dict:
    """Event-log aggregates for one operation, attributed by submission
    time inside [lo, hi]. Time slack covers millisecond rounding."""
    lo, hi = lo - 0.002, hi + 0.002
    js = [j for j in jobs if lo <= j["start"] <= hi]
    ss = [s for s in stages if lo <= s["start"] <= hi]
    py = [s for s in ss if s["python"]]
    return {
        "jobs": len(js),
        "stages": len(ss),
        "python_stages": len(py),
        "python_stage_s": _union_len((s["start"], s["end"]) for s in py),
        "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in ss),
        "job_s": union_within([(j["start"], j["end"]) for j in js],
                              lo, hi),
    }


# -- process tree memory -----------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_peak_rss_mb() -> float:
    """Sum of peak resident set sizes (VmHWM) over this process and all
    its descendants — the JVM and the Python workers included."""
    kids = _children()
    todo, total_kb = [os.getpid()], 0
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
