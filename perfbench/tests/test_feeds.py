"""The feed generator: byte-identical per seed, and truthful about its rows."""

from __future__ import annotations

import csv
import datetime as dt
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from feeds import COLUMNS, UTC, FeedSpec, Ledger, write_feed  # noqa: E402

START = dt.datetime(2023, 1, 1, tzinfo=UTC)
BASE = FeedSpec(2_000, START, START + dt.timedelta(days=365))
DELTA = FeedSpec(500, START + dt.timedelta(days=365), START + dt.timedelta(days=366),
                 redeliver_share=0.2, new_value_share=0.01)


def _sequence(d, seed: int) -> list[bytes]:
    ledger = Ledger()
    paths = [os.path.join(d, "whole_month_202312.csv"), os.path.join(d, "all_day_20240101-030000.csv"),
             os.path.join(d, "all_day_20240102-030000.csv")]
    for path, spec in zip(paths, (BASE, DELTA, DELTA)):
        write_feed(path, seed, spec, ledger)
    out = []
    for path in paths:
        with open(path, "rb") as fh:
            out.append(fh.read())
    return out


def test_one_seed_gives_byte_identical_feeds(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    for d in (a, b, c):
        d.mkdir()
    first = _sequence(a, 7)
    assert first == _sequence(b, 7)
    assert all(x != y for x, y in zip(first, _sequence(c, 8)))


def _num(v: str) -> float | None:
    v = v.strip()
    return None if v in ("", "0") else float(v)


def test_truth_follows_the_gate_rules(tmp_path):
    """An independent reading of each row agrees with the recorded truth."""
    ledger = Ledger()
    base = write_feed(str(tmp_path / "whole_month_202312.csv"), 3, BASE, ledger)
    delta = write_feed(str(tmp_path / "all_day_20240101-030000.csv"), 3, DELTA, ledger)
    for truth in (base, delta):
        with open(truth.path, newline="") as fh:
            rows = list(csv.DictReader(fh))
        assert list(rows[0]) == COLUMNS and len(rows) == truth.rows
        malformed = rejected = 0
        for r in rows:
            gate = {}
            try:
                gate = {c: _num(r[c]) for c in ("depth", "mag", "magError", "depthError")}
            except ValueError:
                malformed += 1
                continue
            g = {c: v or 0.0 for c, v in gate.items()}
            if r["type"] == "earthquake" and (
                g["depth"] < 1 or g["mag"] < 1 or g["magError"] > 0.5 or g["depthError"] > 30
            ):
                rejected += 1
        assert (malformed, rejected) == (truth.malformed, truth.rejected)
        assert truth.accepted == truth.rows - truth.redelivered - truth.malformed - truth.rejected
    assert delta.redelivered == round(DELTA.rows * DELTA.redeliver_share)
    assert ledger.total() == base.accepted + delta.accepted
    assert sum(ledger.type_counts().values()) <= ledger.total()
