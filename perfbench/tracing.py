"""Spans around calls into the engine's layers, and their roll-up.

The traced run wraps public functions of each layer where their names
are looked up: a module-level function is replaced in its defining
module *and* in every loaded module that bound it at import (``from x
import f``), a method is replaced on its class. Each call records a
span (name, start, end, parent) plus the Spark job-id counter at both
ends, so a job is attributed to the innermost span during which its id
was allocated — which also catches jobs submitted from a pool thread,
where thread-local job groups do not reach. Spans stay in memory; task
metrics come from Spark's own uncompressed event log, parsed once
after the session stops.
"""

from __future__ import annotations

import functools
import glob
import importlib
import inspect
import json
import os
import sys
import threading
import time
from dataclasses import dataclass, field

# span name -> [(module, attribute) | (module, class, method)]
# Every module is under ``mydatalake_spark``; "*" means every public
# function the module defines.
LAYER_TARGETS: dict[str, list[tuple[str, ...]]] = {
    "jobs.run": [("jobs", "JobRunner", "run")],
    "ingest.load": [("ingest", "Ingestor", "load")],
    "ingest.save": [("ingest", "Ingestor", "save")],
    "ingest.upsert": [("ingest", "IngestorCDC", "upsert")],
    "sources.read": [("sources.readers", "read_source")],
    "plans.run_sql": [("plans.qualify", "run_sql")],
    "merge.build": [("operators.merge", "merge_upsert"),
                    ("operators.merge", "merge_upsert_bloomed")],
    "catalog.read": [("catalog", "Catalog", "read")],
    "catalog.exists": [("catalog", "Catalog", "exists")],
    "catalog.overwrite": [("catalog", "Catalog", "overwrite")],
    "catalog.staging_commit": [("catalog", "Catalog", "overwrite_via_staging")],
    "catalog.commit_token": [("catalog", "Catalog", "commit_token")],
    "quality.annotate_table": [("quality.runner", "CheckRunner", "annotate_table")],
    "quality.compile_results": [("quality.runner", "CheckRunner", "compile_results")],
    "quality.save_results": [("quality.runner", "CheckRunner", "save_results")],
    "quality.aggregate_results": [("quality.runner", "CheckRunner", "aggregate_results")],
    "quality.upsert_history": [("quality.runner", "CheckRunner", "upsert_history")],
    "neardup": [("operators.neardup", "*")],
    "similarity": [("similarity.search", "*")],
    "semdedup": [("similarity.semdedup", "*")],
}
# The materializing actions: Spark execution happens inside these.
EXEC_METHODS = {
    "pyspark.sql.readwriter.DataFrameWriter": (
        "save", "parquet", "saveAsTable", "insertInto"),
    "pyspark.sql.classic.dataframe.DataFrame": (
        "collect", "count", "toPandas", "take", "first", "head"),
}
CATALOG_WRITES = ("catalog.overwrite", "catalog.staging_commit")


@dataclass
class Span:
    name: str
    parent: "Span | None"
    start: float
    job_lo: int
    end: float = 0.0
    job_hi: int = 0
    depth: int = 0
    label: str = ""
    children: list["Span"] = field(default_factory=list)


class Tracer:
    """Records spans; ``op`` opens the root span of one benchmark op."""

    def __init__(self, next_job_id) -> None:
        self._next_job_id = next_job_id
        self._local = threading.local()
        self._lock = threading.Lock()
        self.root: Span | None = None
        self.spans: list[Span] = []
        self.files_written = 0
        self.bytes_written = 0
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str) -> Span:
        stack = self._stack()
        parent = stack[-1] if stack else self.root
        sp = Span(name, parent, time.perf_counter(), self._next_job_id())
        sp.depth = parent.depth + 1 if parent else 0
        with self._lock:
            self.spans.append(sp)
            if parent is not None:
                parent.children.append(sp)
        stack.append(sp)
        return sp

    def close(self, sp: Span) -> None:
        sp.job_hi = self._next_job_id()
        sp.end = time.perf_counter()
        self._stack().pop()

    def op(self, label: str) -> Span:
        sp = self.open("op")
        sp.label = label
        self.root = sp
        return sp

    def end_op(self, sp: Span) -> None:
        self.close(sp)
        self.root = None

    # -- installing wrappers -------------------------------------------
    def _wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sp = tracer.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(sp)
                if name in CATALOG_WRITES:
                    tracer._count_written(args, kwargs, sp.start)

        return traced

    def _count_written(self, args, kwargs, since: float) -> None:
        """Files the catalog wrote into the table's directory during
        the call (mtime at or after the span start)."""
        catalog, full_name = args[0], kwargs.get("full_name", args[2]
                                                 if len(args) > 2 else None)
        root = catalog.path(full_name)
        cutoff = time.time() - (time.perf_counter() - since)
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                st = os.stat(os.path.join(dirpath, f))
                if st.st_mtime >= cutoff - 0.01:
                    self.files_written += 1
                    self.bytes_written += st.st_size

    def _patch(self, owner, attr: str, new) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, new)

    def install(self, extra_modules: list) -> None:
        """Wrap every target; ``extra_modules`` are modules outside
        ``sys.modules`` (the registry) that bound a target at import."""
        mods = {t[0]: importlib.import_module(f"mydatalake_spark.{t[0]}")
                for targets in LAYER_TARGETS.values() for t in targets}
        bound = [m for n, m in list(sys.modules.items())
                 if n.startswith("mydatalake_spark")] + extra_modules
        for name, targets in LAYER_TARGETS.items():
            for target in targets:
                mod = mods[target[0]]
                if len(target) == 3:
                    cls = getattr(mod, target[1])
                    self._patch(cls, target[2],
                                self._wrap(name, cls.__dict__[target[2]]))
                    continue
                attrs = [target[1]] if target[1] != "*" else [
                    k for k, v in vars(mod).items()
                    if inspect.isfunction(v) and v.__module__ == mod.__name__
                    and not k.startswith("_")]
                for attr in attrs:
                    fn = getattr(mod, attr)
                    wrapped = self._wrap(name, fn)
                    for m in bound:
                        for k, v in list(vars(m).items()):
                            if v is fn:
                                self._patch(m, k, wrapped)
        for path, methods in EXEC_METHODS.items():
            modname, clsname = path.rsplit(".", 1)
            cls = getattr(importlib.import_module(modname), clsname)
            for meth in methods:
                self._patch(cls, meth, self._wrap("exec", cls.__dict__[meth]))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_time(sp: Span) -> float:
    """Span duration minus the part of it its children cover."""
    covered = _union([(max(c.start, sp.start), min(c.end, sp.end))
                      for c in sp.children if c.end > sp.start])
    return (sp.end - sp.start) - covered


def under(sp: Span, name: str) -> bool:
    """Some ancestor of ``sp`` is named ``name``."""
    p = sp.parent
    while p is not None:
        if p.name == name:
            return True
        p = p.parent
    return False


def layer_times(spans: list[Span]) -> tuple[dict[str, float], dict[str, float]]:
    """(total, self) seconds per span name. Totals count a span only
    when no ancestor has the same name, so recursion is not doubled."""
    total: dict[str, float] = {}
    selft: dict[str, float] = {}
    for sp in spans:
        if not under(sp, sp.name):
            total[sp.name] = total.get(sp.name, 0.0) + sp.end - sp.start
        selft[sp.name] = selft.get(sp.name, 0.0) + self_time(sp)
    return total, selft


def attribute_jobs(spans: list[Span]) -> dict[int, Span]:
    """Job id -> innermost span whose id range allocated it."""
    owner: dict[int, Span] = {}
    for sp in sorted(spans, key=lambda s: s.depth):
        for j in range(sp.job_lo, sp.job_hi):
            owner[j] = sp
    return owner


def read_event_log(log_dir: str) -> tuple[dict[int, list[int]], dict[int, dict]]:
    """(job id -> stage ids, stage id -> summed task metrics) from the
    uncompressed event log(s) under ``log_dir``."""
    job_stages: dict[int, list[int]] = {}
    stages: dict[int, dict] = {}
    files = [p for p in glob.glob(os.path.join(log_dir, "**", "*"),
                                  recursive=True)
             if os.path.isfile(p) and "appstatus" not in p]
    for path in sorted(files):
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    job_stages[ev["Job ID"]] = ev["Stage IDs"]
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics", {})
                    sw = m.get("Shuffle Write Metrics", {})
                    s = stages.setdefault(ev["Stage ID"], {
                        "tasks": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
                        "shuffle_read": 0, "shuffle_write": 0, "spill": 0})
                    s["tasks"] += 1
                    s["run_ms"] += m.get("Executor Run Time", 0)
                    s["cpu_ns"] += m.get("Executor CPU Time", 0)
                    s["gc_ms"] += m.get("JVM GC Time", 0)
                    s["shuffle_read"] += (sr.get("Remote Bytes Read", 0)
                                          + sr.get("Local Bytes Read", 0))
                    s["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                    s["spill"] += m.get("Disk Bytes Spilled", 0)
    return job_stages, stages


def exec_metrics(jobs: list[int], job_stages: dict[int, list[int]],
                 stages: dict[int, dict]) -> dict[str, float]:
    """Stage and task totals over ``jobs``; a stage shared by several
    jobs counts once, for the lowest job id that lists it."""
    first_job: dict[int, int] = {}
    for j in sorted(job_stages):
        for s in job_stages[j]:
            first_job.setdefault(s, j)
    wanted = set(jobs)
    mine = [s for s, j in first_job.items() if j in wanted and s in stages]
    tot = {k: sum(stages[s][k] for s in mine)
           for k in ("tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_read",
                     "shuffle_write", "spill")}
    mb = 1024 * 1024
    return {
        "exec.jobs": len(jobs),
        "exec.stages": len(mine),
        "exec.tasks": tot["tasks"],
        "exec.task_run_s": tot["run_ms"] / 1000,
        "exec.task_cpu_s": tot["cpu_ns"] / 1e9,
        "exec.task_gc_s": tot["gc_ms"] / 1000,
        "exec.shuffle_read_mb": tot["shuffle_read"] / mb,
        "exec.shuffle_write_mb": tot["shuffle_write"] / mb,
        "exec.spill_mb": tot["spill"] / mb,
    }
