#!/usr/bin/env python3
"""Benchmark the ELT engine on the reference's own path.

    python3 perfbench/run.py --workload delta_dashboard --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The inputs are USGS-shaped CSV feeds
generated from ``--seed``; the engine sees only those files. With
``--trace 0`` the last line of standard output is one JSON object with
the end-to-end metrics; with ``--trace 1`` the same run is traced and the
object carries the per-layer metrics instead. Both modes also print the
end-to-end values on a line of their own, which ``overhead.py`` reads.
Everything the run writes lives under ``.bench_work/`` in the checkout
and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# (name, unit, what the user sees)
END_TO_END = [
    ("setup_s", "s", "session start and the cold first operations (base warehouse, or stream warm-up)"),
    ("ingest_p50_s", "s", "file arrival to commit: delta run_pipeline wall, or stream due time to commit"),
    ("measure_p50_ms", "ms", "latency per collected measure query (dashboard, or live Q12 tile)"),
    ("storage_amplification", "ratio", "warehouse bytes on disk / raw CSV bytes delivered"),
    ("live_heap_mb", "MB", "driver JVM heap still in use after full collections at the end of the run"),
]
# printed, but not in the result line: too noisy to gate (see README.md)
PRINTED_ONLY = [
    ("measure_p95_ms", "ms", "latency per collected measure query; tail of too few samples to gate"),
    ("peak_rss_mb", "MB", "driver JVM VmHWM plus Python driver VmHWM; varies with the JVM's heap sizing"),
]
# local[N] with N at most the machine's cores, and at most 4
CPUS = min(4, os.cpu_count() or 1)
# the names the ingest latency goes by on each workload
INGEST_ALIAS = {"delta_dashboard": "delta_load_s", "stream_ingest": "stream_latency_p50_s"}


def parse_args(argv: list[str]) -> argparse.Namespace:
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="measured time per run")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0, help="input size factor (tests use < 1)")
    return p.parse_args(argv)


def start_session(work: str, cpus: int, event_log: str | None):
    from gcp_data_pipeline_fyp_spark.session import get_spark

    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(event_log)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", cpus=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a JVM that will not exit is killed
            proc.kill()
            proc.wait()


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    return (_vm_hwm_kb(jvm_pid) + _vm_hwm_kb("self")) / 1024.0


def live_heap_mb(spark) -> float:
    """Driver JVM heap still in use after full collections at the end of the run.

    The first collection only lets Spark's ContextCleaner see which
    broadcasts and shuffles are unreachable; it drops them on its own
    thread, and the second collection frees them. Read after one
    collection, the figure was either about 100 MB or about 430 MB."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    mx.gc()
    time.sleep(2.0)
    mx.gc()
    return mx.getHeapMemoryUsage().getUsed() / 1024.0 / 1024.0


def percentile(xs: list[float], q: int) -> float:
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def end_to_end(w, setup_s: float, rss_mb: float, heap_mb: float) -> dict[str, float]:
    """The run's end-to-end values. A latency with no sample (its
    operations all failed) reads NaN, and the run counts one more failure."""
    r = w.res
    nan = float("nan")
    for what, xs in (("ingest", r.ingest_s), ("measure query", r.measure_ms)):
        if not xs:
            r.fail(f"no successful {what} to time")
    return {
        "setup_s": setup_s,
        "ingest_p50_s": statistics.median(r.ingest_s) if r.ingest_s else nan,
        "measure_p50_ms": statistics.median(r.measure_ms) if r.measure_ms else nan,
        "measure_p95_ms": percentile(r.measure_ms, 95) if len(r.measure_ms) >= 2 else nan,
        "storage_amplification": w.storage_amplification(),
        "peak_rss_mb": rss_mb,
        "live_heap_mb": heap_mb,
    }


def main(argv: list[str]) -> int:
    sys.path[:0] = [HERE, ROOT]
    args = parse_args(argv)
    import gcp_data_pipeline_fyp_spark  # noqa: F401 - fail before any work if the engine is absent
    from workloads import WORKLOADS, Engine

    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # the short-lived launcher JVM that builds the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["TZ"] = "UTC"
    time.tzset()
    event_log = os.path.join(work, "eventlog") if args.trace else None
    spark = tracer = w = None
    try:
        w = WORKLOADS[args.workload](work, args.seed, args.seconds, args.scale)
        w.prepare()
        t0 = time.perf_counter()
        spark = start_session(work, CPUS, event_log)
        if args.trace:
            from gcp_data_pipeline_fyp_spark.plans import pipeline
            from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse
            from spans import Tracer

            tracer = Tracer(spark)
            tracer.install(pipeline, Warehouse)
        w.engine = Engine(spark, tracer)
        w.setup()
        setup_s = time.perf_counter() - t0
        w.check_setup()
        w.measure()
        e2e = end_to_end(w, setup_s, peak_rss_mb(spark), live_heap_mb(spark))
        layers = None
        if args.trace:
            tracer.uninstall()
            stop_session(spark)
            spark = None
            from layers import per_layer

            layers = per_layer(w, tracer, event_log)
    finally:
        if w is not None:
            w.close()
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    r = w.res
    print(f"workload {args.workload}  seed {args.seed}  measured {args.seconds:g} s  cpus {CPUS}")
    print(f"  samples: {len(r.ingest_s)} ingests, {len(r.measure_ms)} measure queries")
    if r.stream_runs_s:
        print(f"  stream runs: median {statistics.median(r.stream_runs_s):.3f} s over {len(r.stream_runs_s)} runs")
    if r.lateness_s:
        print(f"  arrival generator lateness: median {statistics.median(r.lateness_s):.4f} s, "
              f"max {max(r.lateness_s):.4f} s")
    for name, unit, what in END_TO_END + PRINTED_ONLY:
        alias = f" (= {INGEST_ALIAS[args.workload]})" if name == "ingest_p50_s" else ""
        print(f"  {name:24s} {e2e[name]:14.4f} {unit:7s} {what}{alias}")
    print(f"  {'failed_share':24s} {r.failed / r.attempted:14.4f} {'ratio':7s} "
          f"failed {r.failed} of {r.attempted} operations")
    for what in r.failures[:20]:
        print(f"  FAILED: {what}")
    print("end_to_end " + json.dumps(e2e))
    if layers is not None:
        from layers import LAYERS

        print(f"  {'per-layer metric':34s} {'value':>16s} unit     moves")
        for name, unit, _better, moves in LAYERS:
            print(f"  {name:34s} {layers[name]:16.4f} {unit:8s} {moves}")
        metrics = {n: {"value": layers[n], "unit": u} for n, u, _b, _m in LAYERS}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u, _ in END_TO_END}
    print(json.dumps({
        "correct": r.failed == 0,
        "attempted": r.attempted,
        "failed": r.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
