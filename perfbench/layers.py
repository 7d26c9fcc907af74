"""Per-layer metrics of a traced run, taken from outside the engine.

Each metric is a per-call median over the run (set-up included), unless
its description says otherwise. A layer's ``self_s`` is its span's wall
time minus the part covered by its child spans (the warehouse writes
and swaps it makes); ``cpu_s``, ``jobs`` and the byte counters include
the jobs of its child spans. A layer a workload never calls reads 0.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import Job, Span, attribute, covered, read_event_log

_D = "delta_dashboard"
_S = "stream_ingest"

# (name, unit, better, the end-to-end metric it should move and on which workload)
LAYERS = [
    *[
        (f"{st}.{m}", u, "lower", f"ingest_p50_s on {_D} (small share); setup_s through the base load")
        for st in ("staging", "ods", "geo")
        for m, u in (("self_s", "s"), ("cpu_s", "s"), ("jobs", "count"),
                     ("input_bytes", "bytes"), ("shuffle_bytes", "bytes"))
    ],
    ("staging.accept_ratio", "ratio", "higher", f"ingest_p50_s on {_D} (rows the gate passes)"),
    ("dw.self_s", "s", "lower", f"setup_s on {_D} (the base load's full DW build)"),
    ("dw.cpu_s", "s", "lower", f"setup_s on {_D}"),
    ("dw.jobs", "count", "lower", f"setup_s on {_D}"),
    ("dw.files_written", "count", "lower", f"setup_s and measure_p50_ms on {_D}"),
    ("delta.self_s", "s", "lower", f"ingest_p50_s on {_D}; nothing on {_S}"),
    ("delta.jobs", "count", "lower", f"ingest_p50_s on {_D}"),
    ("delta.bytes_rewritten", "bytes", "lower", f"ingest_p50_s and storage_amplification on {_D}"),
    ("delta.partitions_swapped", "count", "lower", f"ingest_p50_s on {_D}"),
    ("delta.new_id_ratio", "ratio", "higher", f"ingest_p50_s on {_D} (new ids / delta rows)"),
    ("warehouse.write_s", "s", "lower", "ingest_p50_s on both"),
    ("warehouse.swap_s", "s", "lower", "ingest_p50_s on both"),
    ("warehouse.bytes_written", "bytes", "lower", "ingest_p50_s and storage_amplification on both"),
    ("warehouse.files_written", "count", "lower", "measure_p50_ms on both, through the file count"),
    ("archive.self_s", "s", "lower", f"ingest_p50_s on {_D} (small)"),
    ("rejected.files_written", "count", "lower", f"ingest_p50_s on {_D} (small)"),
    ("measures.jobs_per_query", "count", "lower", "measure_p50_ms and measure_p95_ms on both"),
    ("measures.tasks_per_query", "count", "lower", "measure_p50_ms and measure_p95_ms on both"),
    ("measures.bytes_scanned_per_query", "bytes", "lower", "measure_p50_ms and measure_p95_ms on both"),
    ("measures.files_per_query", "count", "lower", "measure_p50_ms and measure_p95_ms on both"),
    ("stream.startup_s", "s", "lower", f"ingest_p50_s on {_S}"),
    ("stream.add_batch_s", "s", "lower", f"ingest_p50_s on {_S}"),
    ("stream.wal_commit_s", "s", "lower", f"ingest_p50_s on {_S}"),
    ("stream.planning_s", "s", "lower", f"ingest_p50_s on {_S}"),
    ("stream.state_rows", "count", "lower", f"ingest_p50_s and live_heap_mb on {_S}"),
    ("stream.rows_per_batch", "count", "higher", f"ingest_p50_s on {_S}"),
    ("spark.driver_idle_share", "ratio", "lower", f"ingest_p50_s on {_D} (the fixed-cost path)"),
    ("spark.scheduler_delay_s", "s", "lower", "ingest_p50_s and measure_p50_ms on both"),
    ("spark.gc_s", "s", "lower", "ingest_p50_s (and the printed peak_rss_mb) on both"),
    ("spark.spill_bytes", "bytes", "lower", "ingest_p50_s on both"),
    ("cache.leaked_bytes", "bytes", "lower", "live_heap_mb (and the printed peak_rss_mb) on both"),
    ("trace.bookkeeping_s", "s", "lower", "tracing overhead: the tracer's own file walks and storage calls"),
]
TOP_LEVEL = ("pipeline.run", "stream.run", "measures")


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


class _Tree:
    """Spans with their children and the jobs attributed to each subtree."""

    def __init__(self, spans: list[Span], jobs: list[Job]):
        self.spans = spans
        self.children: dict[int, list[Span]] = defaultdict(list)
        for s in spans:
            if s.parent is not None:
                self.children[s.parent].append(s)
        self.own: dict[int, list[Job]] = defaultdict(list)
        for j in jobs:
            if j.span is not None:
                self.own[j.span].append(j)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def subtree(self, s: Span) -> list[Span]:
        out, todo = [], [s]
        while todo:
            x = todo.pop()
            out.append(x)
            todo.extend(self.children[x.sid])
        return out

    def jobs(self, s: Span) -> list[Job]:
        return [j for x in self.subtree(s) for j in self.own[x.sid]]

    def self_s(self, s: Span) -> float:
        kids = [(c.start, c.end) for c in self.children[s.sid]]
        return (s.end - s.start) - covered(kids, s.start, s.end)

    def sum_jobs(self, s: Span, attr: str) -> float:
        return sum(getattr(j, attr) for j in self.jobs(s))

    def below(self, s: Span, name: str) -> list[Span]:
        return [x for x in self.subtree(s) if x.name == name]


def per_layer(w, tracer, event_log: str) -> dict[str, float]:
    """The per-layer metrics of one traced run."""
    jobs = read_event_log(event_log)
    attribute(jobs, tracer.spans)
    t = _Tree(tracer.spans, jobs)
    out: dict[str, float] = {}
    for st in ("staging", "ods", "geo", "dw", "delta"):
        calls = t.named(st)
        out[f"{st}.self_s"] = _med(t.self_s(s) for s in calls)
        out[f"{st}.cpu_s"] = _med(t.sum_jobs(s, "cpu_s") for s in calls)
        out[f"{st}.jobs"] = _med(len(t.jobs(s)) for s in calls)
        out[f"{st}.input_bytes"] = _med(t.sum_jobs(s, "input_bytes") for s in calls)
        out[f"{st}.shuffle_bytes"] = _med(t.sum_jobs(s, "shuffle_bytes") for s in calls)
    r = w.res
    out["staging.accept_ratio"] = _med(r.accept_ratios)
    out["dw.files_written"] = _med(
        sum(x.info.get("files", 0) for x in t.below(s, "warehouse.write")) for s in t.named("dw")
    )
    deltas = t.named("delta")
    out["delta.bytes_rewritten"] = _med(
        sum(x.info.get("bytes", 0) for x in t.below(s, "warehouse.write")
            if x.info.get("table") == "T_FACT_Events_staging")
        for s in deltas
    )
    out["delta.partitions_swapped"] = _med(
        sum(x.info.get("partitions", 0) for x in t.below(s, "warehouse.swap")) for s in deltas
    )
    out["delta.new_id_ratio"] = _med(r.new_id_ratios)
    writes = [s for s in t.spans if s.name in ("pipeline.run", "stream.run")]
    out["warehouse.write_s"] = _med(sum(x.end - x.start for x in t.below(s, "warehouse.write")) for s in writes)
    out["warehouse.swap_s"] = _med(sum(x.end - x.start for x in t.below(s, "warehouse.swap")) for s in writes)
    out["warehouse.bytes_written"] = _med(
        sum(x.info.get("bytes", 0) for x in t.below(s, "warehouse.write")) for s in writes
    )
    out["warehouse.files_written"] = _med(
        sum(x.info.get("files", 0) for x in t.below(s, "warehouse.write")) for s in writes
    )
    out["archive.self_s"] = _med(t.self_s(s) for s in t.named("archive"))
    out["rejected.files_written"] = _med(s.info.get("rejected_files", 0) for s in t.named("staging"))
    queries = t.named("measures")
    out["measures.jobs_per_query"] = _med(len(t.jobs(s)) for s in queries)
    out["measures.tasks_per_query"] = _med(t.sum_jobs(s, "tasks") for s in queries)
    out["measures.bytes_scanned_per_query"] = _med(t.sum_jobs(s, "input_bytes") for s in queries)
    out["measures.files_per_query"] = _med(s.info.get("files", 0) for s in queries)
    out.update(_stream(r))
    tops = [s for s in t.spans if s.name in TOP_LEVEL]
    wall = sum(s.end - s.start for s in tops)
    intervals = [(j.submit, j.end) for j in jobs]
    busy = sum(covered(intervals, s.start, s.end) for s in tops)
    out["spark.driver_idle_share"] = 1.0 - busy / wall if wall else 0.0
    out["spark.scheduler_delay_s"] = _med(t.sum_jobs(s, "scheduler_delay_s") for s in tops)
    out["spark.gc_s"] = _med(t.sum_jobs(s, "gc_s") for s in tops)
    out["spark.spill_bytes"] = float(sum(j.spill_bytes for j in jobs))
    out["cache.leaked_bytes"] = float(max((s.info.get("cached_after", 0) for s in tops), default=0))
    out["trace.bookkeeping_s"] = tracer.bookkeeping_s
    return out


def _stream(r) -> dict[str, float]:
    """Micro-batch counters from StreamingQuery.recentProgress, per stream run."""
    def total(run: list[dict], *keys: str) -> float:
        return sum(p["durationMs"].get(k, 0) for p in run for k in keys) / 1000.0

    runs = list(zip(r.stream_progress, r.stream_runs_s))
    batches = [p for run, _ in runs for p in run if p["numInputRows"] > 0]
    return {
        "stream.startup_s": _med(wall - total(run, "triggerExecution") for run, wall in runs),
        "stream.add_batch_s": _med(total(run, "addBatch") for run, _ in runs),
        "stream.wal_commit_s": _med(total(run, "walCommit", "commitOffsets") for run, _ in runs),
        "stream.planning_s": _med(total(run, "queryPlanning") for run, _ in runs),
        "stream.state_rows": _med(
            sum(op.get("numRowsTotal", 0) for op in run[-1].get("stateOperators", []))
            for run, _ in runs if run
        ),
        "stream.rows_per_batch": _med(p["numInputRows"] for p in batches),
    }

