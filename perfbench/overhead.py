#!/usr/bin/env python3
"""Tracing overhead: one untraced and one traced run of the same seed.

    python3 perfbench/overhead.py --workload stream_ingest --seed 1 --seconds 20

Prints, per end-to-end metric, the untraced value, the traced value
and their difference, taken from each run's ``end_to_end`` line, and the
tracer's own time (``trace.bookkeeping_s``).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")


def result(args: argparse.Namespace, trace: int) -> tuple[dict[str, float], dict[str, float]]:
    """One run's end-to-end values and the metrics of its result line."""
    cmd = [sys.executable, RUN, "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(trace)]
    lines = subprocess.run(cmd, capture_output=True, text=True, check=True).stdout.strip().splitlines()
    e2e = next(json.loads(ln.removeprefix("end_to_end ")) for ln in lines if ln.startswith("end_to_end "))
    return e2e, {k: v["value"] for k, v in json.loads(lines[-1])["metrics"].items()}


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    args = p.parse_args(argv)
    (plain, _), (traced, layers) = result(args, 0), result(args, 1)
    print(f"{'metric':24s} {'untraced':>12s} {'traced':>12s} {'overhead':>12s}")
    for name, value in plain.items():
        t = traced[name]
        print(f"{name:24s} {value:12.4f} {t:12.4f} {t - value:+12.4f}")
    print(f"{'trace.bookkeeping_s':24s} {'':12s} {layers['trace.bookkeeping_s']:12.4f}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
