"""Tracing for the benchmark: spans, Spark event-log accounting, and
the per-layer metric roll-up.

Spans are recorded by the benchmark's own code, around the public
calls it makes and around a few library entry points it wraps while a
traced run lasts (``Instrumentation``).  A span records name, start,
end, parent and the id of the operation it belongs to; spans of one
operation share that id.  Spans stay in memory and are written out
when the run ends.

Spark job, stage and task counts and task metrics come from the Spark
event log of the run.  Each traced operation sets a Spark job group
named after its operation id, so its jobs can be attributed to it;
jobs submitted from helper threads that the library starts (parallel
build jobs, the doc_index sidecar writer) carry no group and are
attributed to the main-thread operation whose span covers their
submission time.
"""

from __future__ import annotations

import functools
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from typing import Dict, Iterator, List, Optional

#: output paths of the index tables, as they appear in a write
#: command's plan; used to name the build step an execution belongs to
_TABLE_STEPS = ("docs", "postings", "term_dict", "doc_index", "deletions",
                "field_stats", "lineage")


class Tracer:
    """In-memory span recorder.  Disabled (for the run, or for the
    current thread while ``suspended``), ``span`` records nothing."""

    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.spans: List[dict] = []
        self._ids = itertools.count(1)
        self._ops = itertools.count(1)
        self._lock = threading.Lock()
        self._tls = threading.local()
        self.main_thread = threading.get_ident()

    def _stack(self) -> List[dict]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def on(self) -> bool:
        return self.enabled and not getattr(self._tls, "suspended", False)

    @contextmanager
    def suspended(self, yes: bool = True) -> Iterator[None]:
        """Trace nothing in this thread inside the block (used to time
        every other operation untraced: the tracing overhead)."""
        prev = getattr(self._tls, "suspended", False)
        self._tls.suspended = yes or prev
        try:
            yield
        finally:
            self._tls.suspended = prev

    def active(self, prefix: str) -> bool:
        """True when a span whose name starts with ``prefix`` is open
        in this thread (wrappers use it to time only the outermost of
        recursive calls)."""
        return any(s["name"].startswith(prefix) for s in self._stack())

    @contextmanager
    def span(self, name: str, op: bool = False,
             **attrs) -> Iterator[Optional[dict]]:
        """A span; ``op=True`` opens an operation: it gets a fresh
        operation id and, in a Spark run, a job group of that id."""
        if not self.on():
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            rec = {"id": next(self._ids), "name": name,
                   "parent": parent["id"] if parent else None,
                   "op": (next(self._ops) if op or parent is None
                          else parent["op"]),
                   "is_op": op, "thread": threading.get_ident(), **attrs}
        group = op and self.spark is not None
        if group:
            self.spark.sparkContext.setJobGroup(f"op{rec['op']}", name)
        stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if group:
                self.spark.sparkContext.setLocalProperty(
                    "spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(rec)

    def ops(self, name: Optional[str] = None) -> List[dict]:
        """Operation spans, optionally by name."""
        return [s for s in self.spans if s.get("is_op")
                and (name is None or s["name"] == name)]

    def within(self, op: dict, prefix: str) -> List[dict]:
        """Spans of operation ``op`` whose name starts with ``prefix``."""
        return [s for s in self.spans
                if s["op"] == op["op"] and s["name"].startswith(prefix)]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class Instrumentation:
    """Wraps library entry points with spans for the duration of a
    traced run; ``restore`` puts the originals back."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._saved: List[tuple] = []

    def _wrap(self, owner, attr: str, span_name: str, outermost: str = "",
              attrs=None, result=None) -> None:
        orig = getattr(owner, attr, None)
        if orig is None:
            return
        tracer = self.tracer

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not tracer.on() or (outermost and tracer.active(outermost)):
                return orig(*args, **kwargs)
            extra = attrs(*args, **kwargs) if attrs else {}
            with tracer.span(span_name, **extra) as rec:
                out = orig(*args, **kwargs)
                if result is not None and rec is not None:
                    rec.update(result(out))
                return out

        self._saved.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> "Instrumentation":
        from rusticsearch_spark.index import doc_index, layout, term_dict
        from rusticsearch_spark.query import dsl, local
        from rusticsearch_spark.streaming import ingest
        w = self._wrap
        w(dsl, "parse", "query.dsl.parse", outermost="query.dsl")
        for m in ("lookup", "lookup_one", "selector_stats",
                  "selector_stats_spark", "prefix_stats_df",
                  "prefix_stats"):
            w(term_dict.TermDictReader, m, "index.term_dict." + m,
              outermost="index.term_dict")
        w(doc_index, "lookup_key_driver", "index.doc_index.lookup",
          attrs=lambda layout_, config, jobs, key: {"jobs": len(jobs)})
        w(doc_index, "resolve_keys", "index.doc_index.resolve_keys")
        w(ingest, "write_job", "index.build.write_job")
        w(layout.IndexLayout, "commit_job", "index.layout.commit_job")
        for m in ("_term", "_multiterm"):
            w(local.LocalSearcher, m, "query.local.postings",
              outermost="query.local.postings",
              result=lambda fr: {"postings": int(len(fr[0]))})
        return self

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()


# -- Spark event log ------------------------------------------------------

def _plan_nodes(info: dict) -> Iterator[dict]:
    yield info
    for c in info.get("children", []):
        yield from _plan_nodes(c)


class EventLog:
    """Jobs, stages, tasks and SQL executions of one Spark application,
    read from its event log file."""

    def __init__(self, path: str):
        self.jobs: Dict[int, dict] = {}
        self.stage_job: Dict[int, int] = {}
        self.stages_done: Dict[int, dict] = {}
        self.execs: Dict[int, dict] = {}
        self.accum: Dict[int, int] = defaultdict(int)
        # a rolling (v2) event log is a directory of events_<n>_* files
        files = ([os.path.join(path, f) for f in sorted(
            os.listdir(path), key=lambda f: int(f.split("_")[1])
            if f.startswith("events_") else -1) if f.startswith("events_")]
            if os.path.isdir(path) else [path])
        for name in files:
            with open(name) as f:
                for line in f:
                    self._event(json.loads(line))

    def _event(self, e: dict) -> None:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            jid = e["Job ID"]
            self.jobs[jid] = {
                "start": e["Submission Time"] / 1e3, "end": None,
                "group": props.get("spark.jobGroup.id"),
                "exec": int(props["spark.sql.execution.id"])
                if props.get("spark.sql.execution.id") else None,
                "stages": list(e.get("Stage IDs", [])),
                "tasks": 0, "busy_s": 0.0, "gc_s": 0.0,
                "shuffle_write_bytes": 0, "shuffle_records": 0,
                "shuffle_read_bytes": 0, "spill_bytes": 0,
                "input_bytes": 0, "stages_run": 0}
            for s in e.get("Stage IDs", []):
                self.stage_job[s] = jid
        elif kind == "SparkListenerJobEnd":
            if e["Job ID"] in self.jobs:
                self.jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
        elif kind == "SparkListenerStageCompleted":
            sid = e["Stage Info"]["Stage ID"]
            job = self.jobs.get(self.stage_job.get(sid, -1))
            if job is not None:
                job["stages_run"] += 1
        elif kind == "SparkListenerTaskEnd":
            job = self.jobs.get(self.stage_job.get(e.get("Stage ID"), -1))
            m = e.get("Task Metrics") or {}
            for a in (e.get("Task Info") or {}).get("Accumulables", []):
                try:
                    self.accum[int(a["ID"])] += int(a.get("Update", 0))
                except (TypeError, ValueError):
                    pass
            if job is None:
                return
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            job["tasks"] += 1
            job["busy_s"] += m.get("Executor Run Time", 0) / 1e3
            job["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            job["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            job["shuffle_records"] += sw.get("Shuffle Records Written", 0)
            job["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                          + sr.get("Local Bytes Read", 0))
            job["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                   + m.get("Disk Bytes Spilled", 0))
            job["input_bytes"] += (m.get("Input Metrics") or {}).get(
                "Bytes Read", 0)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            plan = e.get("physicalPlanDescription", "")
            self.execs[e["executionId"]] = {
                "start": e["time"] / 1e3, "end": None,
                "table": _written_table(plan),
                "python_rows_ids": [
                    m["accumulatorId"]
                    for n in _plan_nodes(e.get("sparkPlanInfo") or {})
                    if "EvalPython" in n.get("nodeName", "")
                    for m in n.get("metrics", [])
                    if m.get("name") == "number of output rows"]}
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            if e["executionId"] in self.execs:
                self.execs[e["executionId"]]["end"] = e["time"] / 1e3

    def attribute(self, tracer: Tracer) -> Dict[int, List[dict]]:
        """op id -> jobs.  Grouped jobs go to their group's op; jobs
        without a group go to the main-thread op whose span covers
        their submission time."""
        main_ops = sorted((o for o in tracer.ops()
                           if o["thread"] == tracer.main_thread),
                          key=lambda o: o["start"])
        out: Dict[int, List[dict]] = defaultdict(list)
        for job in self.jobs.values():
            g = job["group"]
            if g and g.startswith("op"):
                out[int(g[2:])].append(job)
                continue
            for o in main_ops:
                if o["start"] <= job["start"] <= o["end"]:
                    out[o["op"]].append(job)
                    break
        return out

    def python_rows(self, jobs: List[dict]) -> int:
        """Rows the Python UDF operators emitted in these jobs'
        SQL executions."""
        execs = {j["exec"] for j in jobs if j["exec"] is not None}
        return sum(self.accum.get(a, 0) for x in execs
                   for a in self.execs.get(x, {}).get("python_rows_ids", []))

    def step_seconds(self, jobs: List[dict]) -> Dict[str, float]:
        """Wall seconds of these jobs' SQL executions by the index
        table they write (``docs``, ``postings``, ...)."""
        out: Dict[str, float] = defaultdict(float)
        for ex in self.executions(jobs):
            out[ex["table"][0]] += ex["end"] - ex["start"]
        return out

    def executions(self, jobs: List[dict]) -> List[dict]:
        """Finished table-writing SQL executions of these jobs."""
        ids = {j["exec"] for j in jobs if j["exec"] is not None}
        return [self.execs[x] for x in sorted(ids)
                if x in self.execs and self.execs[x]["table"]
                and self.execs[x]["end"]]


def _written_table(plan: str) -> Optional[tuple]:
    """(index table, job) an execution writes, from the arguments of
    its ``InsertIntoHadoopFsRelationCommand``; job is None for tables
    without job directories, and None is returned for executions that
    write nothing."""
    import re
    m = re.search(r"Execute InsertIntoHadoopFsRelationCommand\n"
                  r"(?:.*\n)*?Arguments: (?:file:)?([^,\s]+)", plan)
    if not m:
        return None
    parts = m.group(1).rstrip("/").split("/")
    if parts[-1].startswith("job=") and parts[-2] in _TABLE_STEPS:
        return parts[-2], int(parts[-1][4:])
    for name in parts[-2:]:
        if name in _TABLE_STEPS:
            return name, None
    return "other", None


def find_event_log(log_dir: str) -> Optional[str]:
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
             if not f.startswith(".")] if os.path.isdir(log_dir) else []
    return max(files, key=os.path.getmtime) if files else None


def job_totals(jobs: List[dict]) -> dict:
    keys = ("tasks", "busy_s", "gc_s", "shuffle_write_bytes",
            "shuffle_records", "shuffle_read_bytes", "spill_bytes",
            "input_bytes", "stages_run")
    out = {k: sum(j[k] for j in jobs) for k in keys}
    out["jobs"] = len(jobs)
    return out
