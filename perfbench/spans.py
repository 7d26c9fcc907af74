"""Spans around the engine's public calls, and Spark's own event log.

Tracing lives entirely in the benchmark: it replaces the stage
functions that ``plans.pipeline`` looks up at call time, and the
``Warehouse`` write and swap methods, with wrappers that open a span.
Each span sets a Spark job group on its thread, so the jobs it submits
carry the span's id into the event log. Jobs submitted from threads the
span did not tag (the DW stages' thread pools, the streaming micro-batch
thread) are attributed by time to the innermost span open when they were
submitted.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time
from dataclasses import dataclass, field

# the stage functions run_pipeline calls, by the layer they belong to
STAGES = {
    "stage_staging": "staging",
    "stage_ods": "ods",
    "stage_geo": "geo",
    "stage_dw_full": "dw",
    "stage_dw_delta": "delta",
    "archive_file": "archive",
}
WAREHOUSE_WRITES = ("overwrite", "append")
WAREHOUSE_SWAPS = ("swap", "swap_partitions")
GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    info: dict = field(default_factory=dict)


def _files(path: str) -> dict[str, int]:
    out = {}
    for dp, _dns, fns in os.walk(path):
        for f in fns:
            if f.startswith("part-"):
                p = os.path.join(dp, f)
                with contextlib.suppress(OSError):
                    out[p] = os.path.getsize(p)
    return out


class Tracer:
    """Records spans in memory; ``install`` wraps the engine's entry points."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._open: dict[int, list[Span]] = {}
        self._lock = threading.Lock()
        self._main = threading.get_ident()
        self._restore: list[tuple[object, str, object]] = []
        self.bookkeeping_s = 0.0

    # ------------------------------------------------------------ spans
    @contextlib.contextmanager
    def span(self, name: str, **info):
        tid = threading.get_ident()
        with self._lock:
            stack = self._open.setdefault(tid, [])
            parent_stack = stack or self._open.get(self._main, [])
            parent = parent_stack[-1].sid if parent_stack else None
            sp = Span(len(self.spans), name, parent, time.time(), info=dict(info))
            self.spans.append(sp)
            stack.append(sp)
        prior = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, f"span-{sp.sid}")
        try:
            yield sp
        finally:
            sp.end = time.time()
            self.sc.setLocalProperty(GROUP_KEY, prior)
            with self._lock:
                stack.remove(sp)

    @contextlib.contextmanager
    def op(self, name: str, **info):
        """A top-level operation: a span that also records, once it ends,
        the bytes Spark still holds in cached RDDs."""
        with self.span(name, **info) as sp:
            yield sp
        sp.info["cached_after"] = self.cached_bytes()

    def count_files(self, *paths: str) -> int:
        return sum(len(self._timed_files(p)) for p in paths)

    def cached_bytes(self) -> int:
        t = time.perf_counter()
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        total = sum(i.memSize() + i.diskSize() for i in infos)
        self._charge(t)
        return total

    def _charge(self, since: float) -> None:
        """Add the tracer's own time since ``since``; the DW stages' pool
        threads call in concurrently."""
        took = time.perf_counter() - since
        with self._lock:
            self.bookkeeping_s += took

    # ---------------------------------------------------------- wrapping
    def install(self, pipeline_module, warehouse_cls) -> None:
        for fn_name, layer in STAGES.items():
            fn = getattr(pipeline_module, fn_name)
            self._patch(pipeline_module, fn_name, self._wrap_stage(fn, layer))
        for m in WAREHOUSE_WRITES:
            self._patch(warehouse_cls, m, self._wrap_write(getattr(warehouse_cls, m)))
        for m in WAREHOUSE_SWAPS:
            self._patch(warehouse_cls, m, self._wrap_swap(getattr(warehouse_cls, m)))

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._restore):
            setattr(owner, name, orig)
        self._restore.clear()

    def _patch(self, owner, name: str, new) -> None:
        self._restore.append((owner, name, getattr(owner, name)))
        setattr(owner, name, new)

    def _wrap_stage(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            rejected_root = kwargs.get("rejected_root")
            before = tracer._timed_files(os.path.join(rejected_root, "REJECTED")) if rejected_root else {}
            with tracer.span(layer) as sp:
                out = fn(*args, **kwargs)
            if rejected_root:
                after = tracer._timed_files(os.path.join(rejected_root, "REJECTED"))
                sp.info["rejected_files"] = len(set(after) - set(before))
            return out

        return wrapper

    def _wrap_write(self, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(wh, df, table, *args, **kwargs):
            before = tracer._timed_files(wh.path(table))
            with tracer.span("warehouse.write", table=table) as sp:
                out = fn(wh, df, table, *args, **kwargs)
            after = tracer._timed_files(wh.path(table))
            new = {p: s for p, s in after.items() if before.get(p) != s}
            sp.info.update(files=len(new), bytes=sum(new.values()))
            return out

        return wrapper

    def _wrap_swap(self, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(wh, staging_table, table, *args, **kwargs):
            staged = wh.path(staging_table)
            parts = 0
            if args or "partition_col" in kwargs:
                parts = sum(1 for e in os.listdir(staged) if "=" in e)
            with tracer.span("warehouse.swap", table=table, partitions=parts):
                return fn(wh, staging_table, table, *args, **kwargs)

        return wrapper

    def _timed_files(self, path: str) -> dict[str, int]:
        t = time.perf_counter()
        out = _files(path)
        self._charge(t)
        return out


# ------------------------------------------------------------ event log
@dataclass
class Job:
    jid: int
    group: str | None
    submit: float
    end: float = 0.0
    span: int | None = None
    tasks: int = 0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    scheduler_delay_s: float = 0.0
    input_bytes: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs with their task counters from an uncompressed Spark event log."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    j = Job(ev["Job ID"], props.get(GROUP_KEY), ev["Submission Time"] / 1000.0)
                    for s in ev.get("Stage IDs", []):
                        stage_job[s] = j.jid
                    jobs[j.jid] = j
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    m = ev.get("Task Metrics")
                    if j is None or not m:
                        continue
                    info = ev["Task Info"]
                    j.tasks += 1
                    j.cpu_s += m["Executor CPU Time"] / 1e9
                    j.gc_s += m["JVM GC Time"] / 1000.0
                    j.input_bytes += m["Input Metrics"]["Bytes Read"]
                    j.shuffle_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    j.spill_bytes += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                    busy = (
                        m["Executor Run Time"] + m["Executor Deserialize Time"]
                        + m["Result Serialization Time"]
                    )
                    fetch_start = info.get("Getting Result Time") or 0
                    fetch = info["Finish Time"] - fetch_start if fetch_start else 0
                    wall = info["Finish Time"] - info["Launch Time"]
                    j.scheduler_delay_s += max(0.0, (wall - busy - fetch) / 1000.0)
    return sorted(jobs.values(), key=lambda j: j.jid)


def attribute(jobs: list[Job], spans: list[Span]) -> None:
    """Tie each job to a span: its job group, else the innermost open span."""
    by_group = {f"span-{s.sid}": s.sid for s in spans}
    depth: dict[int, int] = {}
    for s in spans:  # parents precede children in creation order
        depth[s.sid] = 0 if s.parent is None else depth[s.parent] + 1
    for j in jobs:
        if j.group in by_group:
            j.span = by_group[j.group]
            continue
        open_now = [s for s in spans if s.start <= j.submit <= (s.end or j.submit)]
        if open_now:
            j.span = max(open_now, key=lambda s: (depth[s.sid], s.start)).sid


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total
