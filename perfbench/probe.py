"""Outside-in measurement: spans around the program's public calls, Spark
counters from the status tracker and the event log, lake file counts and
process memory.

Nothing here edits the program.  Spans are recorded by replacing module
attributes that the program looks up at call time and are removed again by
``Tracer.uninstall``; they stay in memory until the run ends.
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
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    start: float  # epoch seconds, same clock as the Spark event log
    end: float | None
    parent: int | None
    depth: int


class Tracer:
    """In-memory span recorder with per-thread parent stacks.

    Spans opened on a thread without an open span of its own (the ingest's
    per-table writer pool) take the innermost open span of the thread that
    opened ``root`` as parent.
    """

    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._root_stack: list[Span] | None = None
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else (self._root_stack or [None])[-1]
        sp = Span(next(self._ids), name, time.time(), None,
                  parent.sid if parent else None,
                  parent.depth + 1 if parent else 0)
        with self._lock:
            self.spans.append(sp)
        stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            stack.pop()

    @contextmanager
    def root(self, name: str):
        with self.span(name) as sp:
            self._root_stack = self._stack()
            try:
                yield sp
            finally:
                self._root_stack = None

    def wrap(self, owner, attr: str, name, classify=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records a span named
        ``name`` (or ``classify(*args, **kwargs)`` when given)."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            span_name = classify(*args, **kwargs) if classify else name
            with tracer.span(span_name):
                return orig(*args, **kwargs)

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def closed(self) -> list[Span]:
        return [s for s in self.spans if s.end is not None]


def parquet_write_kind(writer, path, *args, **kwargs) -> str:
    """Span name for a ``DataFrameWriter.parquet`` call: a fresh table, a
    ``__staging`` rewrite of an existing one, or a bookkeeping log append."""
    p = str(path).rstrip("/")
    if p.endswith("__staging"):
        return "warehouse.rewrite"
    if os.path.basename(p).startswith("_"):
        return "bookkeeping.log_write"
    return "warehouse.write"


def install_spans(tracer: Tracer) -> None:
    """Spans around the public calls the workloads make, every function
    ``ingest_xml_files`` looks up at call time, and
    ``DataFrameWriter.parquet``."""
    from pyspark.sql.readwriter import DataFrameWriter

    from nemsis_xml_parser_spark import catalog
    from nemsis_xml_parser_spark.operators import bookkeeping, flatten, jdbc_sink, warehouse
    from nemsis_xml_parser_spark.sources import definitions

    tracer.wrap(bookkeeping, "ingest_xml_files", "bookkeeping.ingest_xml_files")
    tracer.wrap(jdbc_sink, "stage_to_jdbc_distributed", "jdbc_sink.stage_to_jdbc_distributed")
    tracer.wrap(definitions, "decode_join", "definitions.decode_join")

    tracer.wrap(flatten, "flatten_xml_files", "flatten.plan")
    tracer.wrap(warehouse, "table_frame", "warehouse.table_frame")
    tracer.wrap(warehouse, "attribute_columns_per_table", "warehouse.schema.attributes")
    tracer.wrap(warehouse, "table_names", "warehouse.schema.tables")
    tracer.wrap(bookkeeping, "files_to_process", "bookkeeping.files_to_process")
    tracer.wrap(bookkeeping, "log_processed_files", "bookkeeping.log")
    tracer.wrap(bookkeeping, "file_md5", "bookkeeping.md5")
    tracer.wrap(catalog, "list_table_dirs", "catalog.list_table_dirs")
    tracer.wrap(DataFrameWriter, "parquet", None, classify=parquet_write_kind)


# -- Spark counters ---------------------------------------------------------

class StatusCounter:
    """Jobs, tasks and failed tasks between two points, from the status
    tracker (works with the UI off; retained-job limits are raised by the
    session config in ``run.py``)."""

    def __init__(self, sc):
        self.tracker = sc.statusTracker()
        self.seen: set[int] = set(self.tracker.getJobIdsForGroup(None))

    def take(self) -> dict[str, int]:
        jobs = [j for j in self.tracker.getJobIdsForGroup(None) if j not in self.seen]
        out = {"jobs": len(jobs), "tasks": 0, "failed_tasks": 0}
        for j in jobs:
            self.seen.add(j)
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            for sid in list(info.stageIds):
                st = self.tracker.getStageInfo(sid)
                if st is not None:
                    out["tasks"] += st.numCompletedTasks + st.numFailedTasks
                    out["failed_tasks"] += st.numFailedTasks
        return out


@dataclass
class Task:
    stage: int
    launch: float
    finish: float
    run_s: float
    gc_s: float
    shuffle_bytes: int
    failed: bool
    flatten: bool  # ran the flatten's MapInPandas (not a read of its cache)
    python_start_s: float  # time to start Python workers


@dataclass
class EventLog:
    jobs: dict[int, tuple[float, list[int]]]  # job -> (submission time, stage ids)
    tasks: list[Task]

    @classmethod
    def read(cls, directory: str) -> "EventLog":
        jobs, tasks, flat = {}, [], set()  # flat: stages with the flatten in their lineage
        for name in sorted(os.listdir(directory)):
            with open(os.path.join(directory, name)) as fh:
                for line in fh:
                    e = json.loads(line)
                    ev = e["Event"]
                    if ev == "SparkListenerJobStart":
                        jobs[e["Job ID"]] = (e["Submission Time"] / 1000, list(e["Stage IDs"]))
                    elif ev == "SparkListenerStageSubmitted":
                        rdds = e["Stage Info"]["RDD Info"]
                        if any("MapInPandas" in (r.get("Scope") or "") for r in rdds):
                            flat.add(e["Stage Info"]["Stage ID"])
                    elif ev == "SparkListenerTaskEnd":
                        ti, tm = e["Task Info"], e.get("Task Metrics") or {}
                        # a stage reading the cached flatten output lists the
                        # MapInPandas RDD too; only a task that ran Python
                        # workers computed it
                        acc = {a.get("Name"): a.get("Update") for a in ti.get("Accumulables", [])}
                        tasks.append(Task(
                            e["Stage ID"], ti["Launch Time"] / 1000, ti["Finish Time"] / 1000,
                            tm.get("Executor Run Time", 0) / 1000, tm.get("JVM GC Time", 0) / 1000,
                            (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                            bool(ti.get("Failed")),
                            e["Stage ID"] in flat and "time to run Python workers" in acc,
                            float(acc.get("time to start Python workers") or 0) / 1000,
                        ))
        return cls(jobs, tasks)

    def attribute(self, spans: list[Span]) -> dict[str, dict[str, float]]:
        """Per span name: jobs, tasks and executor seconds of the Spark work
        submitted while that span was the deepest one open.  Flatten stages
        of traced work count under ``flatten`` whichever span submitted
        them, because the flatten is lazy and executes inside the first
        action on its output."""
        stage_owner: dict[int, str] = {}
        job_count: dict[str, int] = defaultdict(int)
        for job, (t, stages) in sorted(self.jobs.items()):
            best = None
            for s in spans:
                if s.start <= t <= s.end and (best is None or (s.depth, s.start) > (best.depth, best.start)):
                    best = s
            owner = best.name if best else "unattributed"
            job_count[owner] += 1
            for st in stages:
                stage_owner.setdefault(st, owner)
        out: dict[str, dict[str, float]] = defaultdict(
            lambda: {"jobs": 0, "tasks": 0, "run_s": 0.0, "python_start_s": 0.0})
        for name, n in job_count.items():
            out[name]["jobs"] = n
        for task in self.tasks:
            owner = stage_owner.get(task.stage, "unattributed")
            if owner != "unattributed" and task.flatten:
                owner = "flatten"
            rec = out[owner]
            rec["tasks"] += 1
            rec["run_s"] += task.run_s
            rec["python_start_s"] += task.python_start_s
        return out


# -- filesystem and memory --------------------------------------------------

def lake_files(lake: str) -> dict[str, int]:
    """relative path -> bytes of every parquet part file under ``lake``."""
    out = {}
    for dirpath, _, files in os.walk(lake):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[os.path.relpath(p, lake)] = os.path.getsize(p)
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Peak resident memory (VmHWM) of this process plus every JVM below it."""
    me = os.getpid()
    children: dict[int, list[int]] = defaultdict(list)
    comm: dict[int, str] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        rest = stat[stat.rfind(")") + 2:].split()
        children[int(rest[1])].append(int(d))
        comm[int(d)] = stat[stat.find("(") + 1:stat.rfind(")")]
    total, todo = _vm_hwm_kb(me), list(children[me])
    while todo:
        pid = todo.pop()
        if comm.get(pid) == "java":
            total += _vm_hwm_kb(pid)
        todo += children[pid]
    return total / 1024
