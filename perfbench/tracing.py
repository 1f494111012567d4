"""Traced mode: spans around the engine's public functions, Spark
jobs per span through job groups, and task metrics from the Spark
event log.

Every public function of the traced modules is replaced by a wrapper
that records a span (name, start, end, parent, op id). Two spans carry
more: ``approach.analyze`` its Catalyst phase time, and
``streaming.run_to_memory`` the progress reports of the query it ran. A function
that another engine module imported by name (``approach`` imports
``pinned_checkpoint`` from ``operators.skew``) is replaced at the
importing module too. Each span boundary starts a fresh Spark job
group, so every job lands in exactly one "segment" of driver time,
owned by the innermost open span; the event log's job and stage
properties carry that group id back to the span.

Nothing in the engine changes: the wrappers live only in this
process, and the event log is switched on from outside the package
(``PYSPARK_SUBMIT_ARGS``, see run.py).
"""

from __future__ import annotations

import functools
import glob
import inspect
import json
import os
import statistics
import sys
import time
from contextlib import contextmanager

# short span prefix -> engine module
TRACED = {
    "session": "ngafid_cpat_spark.session",
    "sources": "ngafid_cpat_spark.sources.tables",
    "approach": "ngafid_cpat_spark.plans.approach",
    "joins": "ngafid_cpat_spark.operators.joins",
    "skew": "ngafid_cpat_spark.operators.skew",
    "graphs": "ngafid_cpat_spark.operators.graphs",
    "sinks": "ngafid_cpat_spark.sinks",
    "streaming": "ngafid_cpat_spark.streaming.sessions",
    "__main__": "ngafid_cpat_spark.__main__",
}


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.stack: list[dict] = []
        self.segments: list[dict] = []
        self.op = None
        self.own_s = 0.0  # time spent in tracer bookkeeping

    # -- segments / job groups -------------------------------------------

    def _segment(self) -> None:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        gid = f"pb{len(self.segments)}"
        self.segments.append({
            "group": gid,
            "span": self.stack[-1]["id"] if self.stack else None,
            "op": self.op,
            "start": time.perf_counter(),
        })
        if sc is not None:
            sc.setJobGroup(gid, gid)

    def set_op(self, op) -> None:
        self.op = op
        self._segment()

    @contextmanager
    def span(self, name: str):
        t0 = time.perf_counter()
        s = {
            "id": len(self.spans), "name": name, "op": self.op,
            "parent": self.stack[-1]["id"] if self.stack else None,
        }
        self.spans.append(s)
        self.stack.append(s)
        self._segment()
        s["start"] = time.perf_counter()
        self.own_s += s["start"] - t0
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self.stack.pop()
            self._segment()
            self.own_s += time.perf_counter() - s["end"]

    # -- wrapping ----------------------------------------------------------

    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as s:
                out = fn(*args, **kwargs)
                t0 = time.perf_counter()
                if name == "approach.analyze":
                    s["catalyst_s"] = catalyst_seconds(out)
                elif name == "streaming.run_to_memory":
                    s["progress"] = progress_summary(out)
                tracer.own_s += time.perf_counter() - t0
                return out

        wrapper.__wrapped_by_bench__ = True
        return wrapper

    def install(self) -> None:
        replaced = {}
        for prefix, modname in TRACED.items():
            mod = sys.modules.get(modname) or __import__(modname, fromlist=["_"])
            for attr, fn in list(vars(mod).items()):
                if (
                    attr.startswith("_")
                    or not inspect.isfunction(fn)
                    or fn.__module__ != modname
                ):
                    continue
                w = self._wrap(f"{prefix}.{attr}", fn)
                setattr(mod, attr, w)
                replaced[id(fn)] = w
        # names imported into other engine modules
        for modname, mod in list(sys.modules.items()):
            if not modname.startswith("ngafid_cpat_spark") or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if id(val) in replaced and inspect.isfunction(val):
                    setattr(mod, attr, replaced[id(val)])

    # -- reporting ---------------------------------------------------------

    def attribute_jobs(self, log: dict) -> None:
        """Jobs and stages per segment, then per span (own and with
        descendants)."""
        by_group = {seg["group"]: seg for seg in self.segments}
        for seg in self.segments:
            seg["jobs"] = 0
        for group in log["job_groups"]:
            if group in by_group:
                by_group[group]["jobs"] += 1
        for s in self.spans:
            s["own_jobs"] = 0
            s["jobs"] = 0
            s["self_s"] = s["end"] - s["start"]
        for seg in self.segments:
            sid = seg["span"]
            if sid is not None:
                self.spans[sid]["own_jobs"] += seg["jobs"]
            while sid is not None:
                self.spans[sid]["jobs"] += seg["jobs"]
                sid = self.spans[sid]["parent"]
        for s in self.spans:
            if s["parent"] is not None:
                self.spans[s["parent"]]["self_s"] -= s["end"] - s["start"]

    def chain(self, span: dict) -> list[str]:
        out, sid = [], span["parent"]
        while sid is not None:
            out.append(self.spans[sid]["name"])
            sid = self.spans[sid]["parent"]
        return out

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        keep = ("id", "name", "parent", "op", "start", "end", "self_s",
                "jobs", "own_jobs", "catalyst_s", "progress")
        with open(path, "w") as f:
            json.dump({
                **extra,
                "spans": [{k: s[k] for k in keep if k in s} for s in self.spans],
            }, f, indent=1)


def catalyst_seconds(df) -> float:
    """Analysis + optimization + planning time of ``df``'s query, read
    from its QueryExecution's phase tracker (forces planning)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    total, it = 0, qe.tracker().phases().iterator()
    while it.hasNext():
        total += it.next()._2().durationMs()
    return total / 1000.0


def progress_summary(query) -> dict:
    """Micro-batch count and summed trigger / addBatch time of a
    finished streaming query, from its progress reports."""
    ms = [p.durationMs or {} for p in query.recentProgress]
    return {
        "batches": len(ms),
        "trigger_s": sum(d.get("triggerExecution", 0) for d in ms) / 1000.0,
        "add_batch_s": sum(d.get("addBatch", 0) for d in ms) / 1000.0,
    }


def read_event_log(log_dir: str) -> dict:
    """Job groups and per-stage task metrics of the newest application
    log in ``log_dir`` (the context the measured ops ran in)."""
    apps = sorted(glob.glob(os.path.join(log_dir, "*")), key=os.path.getmtime)
    out = {"job_groups": [], "stage_group": {}, "tasks": {}}
    if not apps:
        return out
    # a rolling (v2) log is a directory of events_<n>_<app> parts
    parts = [apps[-1]]
    if os.path.isdir(apps[-1]):
        parts = sorted(
            glob.glob(os.path.join(apps[-1], "events_*")),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        )
    for part in parts:
        with open(part) as f:
            lines = f.readlines()
        for line in lines:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                out["job_groups"].append(
                    (ev.get("Properties") or {}).get("spark.jobGroup.id")
                )
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                out["stage_group"][sid] = (ev.get("Properties") or {}).get(
                    "spark.jobGroup.id"
                )
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                out["tasks"].setdefault(ev["Stage ID"], []).append((
                    m.get("Executor Run Time", 0) / 1000.0,
                    m.get("JVM GC Time", 0) / 1000.0,
                    (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    m.get("Disk Bytes Spilled", 0),
                ))
    return out


def exec_metrics(log: dict, groups: set) -> dict:
    """Task-level totals over the stages submitted from ``groups``."""
    stages = [s for s, g in log["stage_group"].items() if g in groups]
    tasks = [t for s in stages for t in log["tasks"].get(s, [])]
    skew = 0.0
    if stages:
        big = max(stages, key=lambda s: sum(t[0] for t in log["tasks"].get(s, [])))
        times = [t[0] for t in log["tasks"].get(big, [])]
        med = statistics.median(times) if times else 0.0
        skew = max(times) / med if med > 0 else 0.0
    return {
        "exec.jobs": sum(1 for g in log["job_groups"] if g in groups),
        "exec.tasks": len(tasks),
        "exec.task_s": sum(t[0] for t in tasks),
        "exec.gc_s": sum(t[1] for t in tasks),
        "exec.shuffle_write_mb": sum(t[2] for t in tasks) / 1e6,
        "exec.spill_mb": sum(t[3] for t in tasks) / 1e6,
        "exec.task_skew": skew,
    }
