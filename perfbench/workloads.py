"""The two workloads: set-up, the measured loop, and the correctness checks.

Both drive the engine only through its public entry points:
``plans.pipeline.run_pipeline`` (``archive=True``, all five stages),
the ``plans.measures`` functions over ``measures.star_events``, and
``streaming.ingest.stream_validated_ingest``. Checks run outside the
timed calls; a failed check counts as a failed operation. The feeds,
their ground truth and the DuckDB oracle live in a child process
(``sidecar.py``), so this process holds only the engine's driver.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import glob
import json
import os
import threading
import time
from dataclasses import dataclass, field

from feeds import ALL_TYPES, UTC, FeedSpec, FileTruth
from oracle import dashboard_queries, rows_equal
from sidecar import Sidecar

# input sizes, rows per file
BASE_ROWS = 20_000  # the 12-month base warehouse, one whole_month_* file
BASE_START = dt.datetime(2023, 1, 1, tzinfo=UTC)
BASE_END = dt.datetime(2023, 12, 29, tzinfo=UTC)
# most base rows fall in December, the month partition the deltas merge
# into, so that partition is much larger than one delta
BASE_PEAK_START = dt.datetime(2023, 12, 1, tzinfo=UTC)
BASE_PEAK_SHARE = 0.9
DELTA_ROWS = 2_500  # one all_day_* file, 24 h of events
DELTA_REDELIVER = 0.2
DELTA_NEW_VALUES = 0.002
MIN_DELTAS = 1
STREAM_ROWS = 5_000  # one arrival
STREAM_REDELIVER = 0.1
STREAM_PERIOD_S = 10.0  # the arrival schedule: a warm run takes 3.5-7 s, so about half-busy
STREAM_WINDOW = dt.timedelta(minutes=20)  # event time each arrival covers
STREAM_WARMUP_ARRIVALS = 2  # after two, a run is no longer faster than the last
STREAM_WARMUP_TILES = 8
STREAM_MIN_TILES = 24  # timed tiles per run; the last ones follow the final commit

STREAM_SCHEMA = (
    "time timestamp, latitude double, longitude double, depth double, mag double, "
    "magType string, nst int, gap double, dmin double, rms double, net string, "
    "id string, updated timestamp, place string, type string, "
    "horizontalError double, depthError double, magError double, magNst int, "
    "status string, locationSource string, magSource string"
)


@dataclass
class Results:
    """What one run measured, plus its operation and failure counts."""

    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)
    ingest_s: list[float] = field(default_factory=list)
    measure_ms: list[float] = field(default_factory=list)
    delivered_bytes: int = 0
    lateness_s: list[float] = field(default_factory=list)
    stream_progress: list[list[dict]] = field(default_factory=list)
    stream_runs_s: list[float] = field(default_factory=list)
    new_id_ratios: list[float] = field(default_factory=list)
    accept_ratios: list[float] = field(default_factory=list)  # traced runs only

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)


class Engine:
    """The engine's entry points, imported once the session exists."""

    def __init__(self, spark, tracer=None):
        from gcp_data_pipeline_fyp_spark.plans import measures, pipeline
        from gcp_data_pipeline_fyp_spark.sources.states import states_df
        from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse

        self.spark = spark
        self.pipeline = pipeline
        self.measures = measures
        self.Warehouse = Warehouse
        self.states = states_df(spark)
        self.tracer = tracer
        M = measures
        self.fns = {
            "Q1_latest_daily_update": M.latest_daily_update,
            "Q2_avg_earthquake_magnitude": M.avg_earthquake_magnitude,
            "Q3_max_earthquake_depth": M.max_earthquake_depth,
            "Q4_max_earthquake_magnitude": M.max_earthquake_magnitude,
            "Q12_total_seismic_events": M.total_seismic_events,
        }

    def op(self, name: str, **info):
        """A span around one top-level call when the run is traced."""
        return contextlib.nullcontext() if self.tracer is None else self.tracer.op(name, **info)

    def files(self, root: str, *tables: str) -> int:
        """Data files a read of ``tables`` opens (traced runs only)."""
        if self.tracer is None:
            return 0
        return self.tracer.count_files(*(os.path.join(root, t) for t in tables))

    def load(self, path: str, root: str, run_ts: dt.datetime) -> None:
        with self.op("pipeline.run", file=os.path.basename(path)):
            self.pipeline.run_pipeline(self.spark, path, self.states, root, run_ts=run_ts, archive=True)

    def ask(self, root: str, query: tuple, res: Results, got: dict) -> None:
        """One measure query over freshly read tables, collected and timed."""
        M = self.measures
        label, name, sliced = query
        res.attempted += 1
        wh = self.Warehouse(self.spark, root)
        try:
            tables = ("T_FACT_Events", "T_DIM_Seismic_Activity_Type")
            with self.op("measures", query=label, files=self.files(root, *tables)):
                t = time.perf_counter()
                star = M.star_events(*(wh.read(t) for t in tables))
                if name == "Q5_Q11_totals_by_type":
                    q = M.totals_by_type(star)
                else:
                    q = self.fns[name](star, ["ID_date_ID"] if sliced else None)
                got[label] = [tuple(r) for r in q.collect()]
                res.measure_ms.append((time.perf_counter() - t) * 1000.0)
        except Exception as e:  # a raised query is a failed operation
            res.fail(f"{label}: {type(e).__name__}: {e}")

    def dashboard(self, root: str, res: Results) -> dict:
        got: dict = {}
        for q in dashboard_queries():
            self.ask(root, q, res, got)
        return got


def check_dashboard(res: Results, got: dict, want: dict, what: str) -> None:
    """Every collected measure against DuckDB over the same files."""
    for label, rows in got.items():
        if not rows_equal(rows, want[label]):
            res.fail(f"{what} {label}: engine {rows[:3]} != duckdb {want[label][:3]}")


def check_truth(res: Results, got: dict, checks: Sidecar, what: str) -> int:
    """Fact count, Q12 and Q5-Q11 against the generator's ground truth."""
    fact = checks.count("T_FACT_Events", True)
    total, type_counts = checks.truth()
    if fact != total:
        res.fail(f"{what}: fact rows {fact} != truth {total}")
    q12 = got.get("Q12_total_seismic_events")
    if q12 is not None and q12 != [(total,)]:
        res.fail(f"{what}: Q12 {q12} != truth {total}")
    totals = got.get("Q5_Q11_totals_by_type")
    if totals is not None and dict(totals) != type_counts:
        res.fail(f"{what}: totals_by_type {dict(totals)} != truth {type_counts}")
    return fact


def tree_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(dp, f)) for dp, _dns, fns in os.walk(path) for f in fns)


class Workload:
    """State shared by both workloads: inputs, warehouse, results, checks."""

    name = ""

    def __init__(self, work: str, seed: int, seconds: float, scale: float = 1.0):
        self.engine: Engine | None = None  # attached once the session runs
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.scale = scale
        self.root = os.path.join(work, "warehouse")
        self.res = Results()
        self.checks = Sidecar(seed, self.root)

    def close(self) -> None:
        self.checks.close()

    def rows(self, n: int) -> int:
        return max(50, int(n * self.scale))

    def feed(self, where: str, name: str, spec: FeedSpec) -> FileTruth:
        return self.checks.feed(os.path.join(where, name), spec)

    def storage_amplification(self) -> float:
        return tree_bytes(self.root) / self.res.delivered_bytes


class DeltaDashboard(Workload):
    """Closed loop, one client: daily delta, then a dashboard refresh.

    Set-up loads the 12-month base warehouse (the cold first operation)
    and refreshes the dashboard over it once."""

    name = "delta_dashboard"

    def prepare(self) -> None:
        """Write the set-up inputs (not part of the set-up time)."""
        self.incoming = os.path.join(self.work, "incoming")
        self.base = self.feed(
            self.incoming, "whole_month_202312.csv",
            FeedSpec(self.rows(BASE_ROWS), BASE_START, BASE_END,
                     peak_start=BASE_PEAK_START, peak_share=BASE_PEAK_SHARE),
        )

    def setup(self) -> None:
        self.engine.load(self.base.path, self.root, dt.datetime(2023, 12, 29, 3))
        self.res.delivered_bytes += self.base.bytes
        self._staged(self.base)
        self.base_res = Results()
        self.base_got = self.engine.dashboard(self.root, self.base_res)

    def _staged(self, truth: FileTruth) -> None:
        """Traced runs: the share of a file's rows the staging gate passed."""
        if self.engine.tracer is not None:
            self.res.accept_ratios.append(self.checks.count("T_STG_earthquake") / truth.rows)

    def check_setup(self) -> None:
        """The base load and its first refresh, checked like every later one."""
        self.res.attempted += self.base_res.attempted + 1
        for what in self.base_res.failures:
            self.res.fail(what)
        check_dashboard(self.res, self.base_got, self.checks.dashboard(), "base")
        check_truth(self.res, self.base_got, self.checks, "base")

    def measure(self) -> None:
        res, busy, k = self.res, 0.0, 0
        fact = self.checks.count("T_FACT_Events", True)
        # at least one delta, however short the measured time
        while busy < self.seconds or k < MIN_DELTAS:
            day = BASE_END + dt.timedelta(days=k)
            truth = self.feed(
                self.incoming, f"all_day_{day:%Y%m%d}-030000.csv",
                FeedSpec(self.rows(DELTA_ROWS), day, day + dt.timedelta(days=1),
                         redeliver_share=DELTA_REDELIVER, new_value_share=DELTA_NEW_VALUES),
            )
            res.delivered_bytes += truth.bytes
            res.attempted += 1
            t = time.perf_counter()
            try:
                self.engine.load(truth.path, self.root, (day + dt.timedelta(days=1)).replace(tzinfo=None))
            except Exception as e:  # a raised load is a failed operation
                res.fail(f"delta {k}: {type(e).__name__}: {e}")
                return
            took = time.perf_counter() - t
            res.ingest_s.append(took)
            self._staged(truth)
            n = len(res.measure_ms)
            got = self.engine.dashboard(self.root, res)
            busy += took + sum(res.measure_ms[n:]) / 1000.0
            check_dashboard(res, got, self.checks.dashboard(), f"delta {k}")
            before, fact = fact, check_truth(res, got, self.checks, f"delta {k}")
            if fact - before != truth.accepted:
                res.fail(f"delta {k}: fact grew {fact - before}, truth {truth.accepted} new rows")
            res.new_id_ratios.append((fact - before) / truth.rows)
            k += 1


class StreamIngest(Workload):
    """Open loop: one generator thread lands a file every period; the
    Spark driver runs the AvailableNow validated ingest over what has landed.
    While no arrival waits, the same driver answers the live Q12 tile
    (total seismic events) over the streamed table.

    Set-up ingests the first two arrivals and answers the tile eight times."""

    name = "stream_ingest"
    TABLE, QUARANTINE, LOG = "STREAM_EVENTS", "STREAM_QUARANTINE", "STREAM_EXPECTATIONS_LOG"

    def prepare(self) -> None:
        self.pending = os.path.join(self.work, "pending")
        self.landing = os.path.join(self.work, "landing")
        self.ckpt = os.path.join(self.work, "checkpoint")
        os.makedirs(self.landing)
        self.arrivals: list[FileTruth] = []
        t0 = dt.datetime(2024, 1, 10, tzinfo=UTC)
        # the warm-up arrivals land during set-up; the rest are due every
        # period from the start to the end of the measured time
        for k in range(STREAM_WARMUP_ARRIVALS + int(self.seconds // STREAM_PERIOD_S) + 1):
            start = t0 + k * STREAM_WINDOW
            self.arrivals.append(self.feed(
                self.pending, f"arrival_{k:04d}.csv",
                FeedSpec(self.rows(STREAM_ROWS), start, start + STREAM_WINDOW, redeliver_share=STREAM_REDELIVER),
            ))

    def _rules(self):
        from gcp_data_pipeline_fyp_spark.operators.expectations import (
            accepted_values,
            in_range,
            not_null,
        )

        return [
            not_null("mag"),
            not_null("depth"),
            in_range("latitude", -90, 90),
            accepted_values("type", ALL_TYPES),
        ]

    def _land(self, a: FileTruth) -> None:
        os.rename(a.path, os.path.join(self.landing, os.path.basename(a.path)))
        self.res.delivered_bytes += a.bytes

    def _ingest(self) -> tuple[float, set[str]]:
        """One AvailableNow run; returns its commit time and the files committed so far."""
        from gcp_data_pipeline_fyp_spark.streaming.ingest import stream_validated_ingest

        wh = self.engine.Warehouse(self.engine.spark, self.root)
        t = time.perf_counter()
        with self.engine.op("stream.run"):
            q = stream_validated_ingest(
                self.engine.spark, self.landing, STREAM_SCHEMA, ["id"], "time", wh,
                self.TABLE, self.ckpt, self._rules(),
                report_table=self.LOG, quarantine_table=self.QUARANTINE,
            )
            try:
                q.awaitTermination()
            finally:
                q.stop()
        done = time.perf_counter()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        self.res.stream_progress.append(list(q.recentProgress))
        self.res.stream_runs_s.append(done - t)
        return done, self._committed()

    def _committed(self) -> set[str]:
        """File names the stream's source log has committed (Spark's own record)."""
        seen = set()
        for path in glob.glob(os.path.join(self.ckpt, "sources", "0", "*")):
            with open(path) as fh:
                for line in fh:
                    if line.startswith("{"):
                        seen.add(os.path.basename(json.loads(line)["path"]))
        return seen

    def _tile(self, res: Results) -> int | None:
        """The live tile: Q12 over the streamed table, collected and timed."""
        M = self.engine.measures
        res.attempted += 1
        wh = self.engine.Warehouse(self.engine.spark, self.root)
        try:
            with self.engine.op("measures", query="Q12_stream_tile", files=self.engine.files(self.root, self.TABLE)):
                t = time.perf_counter()
                n = M.total_seismic_events(wh.read(self.TABLE)).collect()[0][0]
                res.measure_ms.append((time.perf_counter() - t) * 1000.0)
            return n
        except Exception as e:  # a raised query is a failed operation
            res.fail(f"Q12_stream_tile: {type(e).__name__}: {e}")
            return None

    def setup(self) -> None:
        # the stream's cold start and the tile's first answers: the JVM is
        # still compiling both, so their times would skew the measured ones
        for a in self.arrivals[:STREAM_WARMUP_ARRIVALS]:
            self._land(a)
            self._ingest()
        self.res.stream_progress.clear()
        self.res.stream_runs_s.clear()
        self.warm_res = Results()
        self.warm_tiles = [self._tile(self.warm_res) for _ in range(STREAM_WARMUP_TILES)]

    def check_setup(self) -> None:
        """The warm-up arrivals and tiles, checked like every later one."""
        self.res.attempted += STREAM_WARMUP_ARRIVALS + self.warm_res.attempted
        for what in self.warm_res.failures:
            self.res.fail(what)
        self.check_stream(self.arrivals[:STREAM_WARMUP_ARRIVALS])
        want = self.checks.count(self.TABLE)
        for n in self.warm_tiles:
            if n is not None and n != want:
                self.res.fail(f"Q12_stream_tile: engine {n} != duckdb {want}")

    def measure(self) -> None:
        res = self.res
        timed = self.arrivals[STREAM_WARMUP_ARRIVALS:]
        t0 = time.perf_counter()
        # the first arrival is due as the measured time starts, the rest one period apart
        due = {os.path.basename(a.path): t0 + k * STREAM_PERIOD_S for k, a in enumerate(timed)}
        stop = threading.Event()

        def generator():
            for a in timed:
                name = os.path.basename(a.path)
                if stop.wait(max(0.0, due[name] - time.perf_counter())):
                    return
                self._land(a)
                res.lateness_s.append(time.perf_counter() - due[name])

        committed = self._committed()
        want = self.checks.count(self.TABLE)  # the table changes only at a commit
        gen = threading.Thread(target=generator, name="arrivals")
        gen.start()
        try:
            # until every arrival is committed and the tile has been timed
            # STREAM_MIN_TILES times, so a slow run does not time fewer tiles
            while not all(name in committed for name in due) or len(res.measure_ms) < STREAM_MIN_TILES:
                if time.perf_counter() - t0 > self.seconds + 60:
                    for name in sorted(set(due) - committed):
                        res.attempted += 1
                        res.fail(f"stream: {name} still uncommitted 60 s after the run")
                    break
                waiting = {f for f in os.listdir(self.landing) if f.endswith(".csv")} - committed
                if not waiting:
                    n = self._tile(res)
                    if n is not None and n != want:
                        res.fail(f"Q12_stream_tile: engine {n} != duckdb {want}")
                    continue
                try:
                    done, now = self._ingest()
                except Exception as e:  # a failed query fails the arrivals it held
                    for name in sorted(waiting):
                        res.attempted += 1
                        res.fail(f"stream: {name}: {type(e).__name__}: {e}")
                    break
                res.attempted += len(now - committed)
                for name in sorted(now - committed):
                    res.ingest_s.append(done - due[name])
                committed = now
                want = self.checks.count(self.TABLE)
        finally:
            stop.set()
            gen.join()
        self.check_stream(self.arrivals)

    def check_stream(self, delivered: list[FileTruth]) -> None:
        """Stream table plus quarantine equal the delivered unique ids."""
        ids = self.checks.unique_ids([os.path.basename(a.path) for a in delivered])
        got = self.checks.count(self.TABLE) + self.checks.count(self.QUARANTINE)
        if got != ids:
            self.res.fail(f"stream: table+quarantine {got} != delivered unique ids {ids}")


WORKLOADS = {w.name: w for w in (DeltaDashboard, StreamIngest)}
