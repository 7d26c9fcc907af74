"""The feed generator, its ground truth and the DuckDB oracle, in a child process.

The benchmark process is the engine's Spark driver; its ``VmHWM`` is read
as part of ``peak_rss_mb``. The memory the benchmark itself needs (the
ledger of every accepted row, the feeds being written, DuckDB's buffers)
lives here instead, so it never shows in that figure.

The parent talks to :class:`Checks` through :class:`Sidecar`: one pickled
``(method, args)`` request on the child's standard input, one pickled
``(ok, value)`` reply on its standard output.
"""

from __future__ import annotations

import dataclasses
import os
import pickle
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


class Checks:
    """Everything the checks know: the ledger, each file's ids, and DuckDB."""

    def __init__(self, seed: int, warehouse_root: str):
        from feeds import Ledger
        from oracle import Oracle

        self.seed = seed
        self.ledger = Ledger()
        self.oracle = Oracle(warehouse_root)
        self.ids: dict[str, set[str]] = {}

    def feed(self, path: str, spec):
        """Write one feed; its truth comes back without the id set, which stays here."""
        from feeds import write_feed

        os.makedirs(os.path.dirname(path), exist_ok=True)
        truth = write_feed(path, self.seed, spec, self.ledger)
        self.ids[os.path.basename(path)] = truth.ids
        return dataclasses.replace(truth, ids=set())

    def truth(self) -> tuple[int, dict[str, int]]:
        """Accepted events so far, and their counts per Q5-Q11 type."""
        return self.ledger.total(), self.ledger.type_counts()

    def unique_ids(self, names: list[str]) -> int:
        """Distinct USGS ids delivered in the named files."""
        return len(set().union(*(self.ids[n] for n in names)))

    def count(self, table: str, partitioned: bool = False) -> int:
        return self.oracle.count(table, partitioned)

    def dashboard(self) -> dict[str, list[tuple]]:
        return self.oracle.dashboard()

    def close(self) -> None:
        self.oracle.close()


class Sidecar:
    """A :class:`Checks` in a child process; call its methods as if local."""

    def __init__(self, seed: int, warehouse_root: str):
        self._proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "sidecar.py"), str(seed), warehouse_root],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
        )

    def __getattr__(self, method: str):
        def call(*args):
            pickle.dump((method, args), self._proc.stdin)
            self._proc.stdin.flush()
            ok, value = pickle.load(self._proc.stdout)
            if not ok:
                raise RuntimeError(value)
            return value

        return call

    def close(self) -> None:
        """Ask the child to exit, and wait until it has."""
        try:
            self._proc.stdin.close()
            self._proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a child that will not exit is killed
            self._proc.kill()
            self._proc.wait()
        self._proc.stdout.close()


def serve(seed: int, warehouse_root: str) -> None:
    # replies go to a private copy of stdout; anything printed lands on stderr
    out = os.fdopen(os.dup(1), "wb")
    os.dup2(2, 1)
    checks = Checks(seed, warehouse_root)
    try:
        while True:
            try:
                method, args = pickle.load(sys.stdin.buffer)
            except EOFError:
                return
            try:
                reply = (True, getattr(checks, method)(*args))
            except Exception as e:  # noqa: BLE001 - the caller raises it again
                reply = (False, f"{type(e).__name__}: {e}")
            pickle.dump(reply, out)
            out.flush()
    finally:
        checks.close()


if __name__ == "__main__":
    serve(int(sys.argv[1]), sys.argv[2])
