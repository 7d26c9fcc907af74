"""Seeded USGS 22-column CSV feeds with per-file ground truth.

The engine under test receives only the CSV files written here. Every
file is a function of ``(seed, name, spec)``: the same arguments give a
byte-identical file. Next to each file the generator keeps the ground
truth the checks compare against: which rows the quality gate accepts,
which it rejects, which it drops as malformed, and the cumulative set of
accepted event keys with their types (a :class:`Ledger`).

Gate rules mirrored here, as the USGS feed semantics define them:

- every field is trimmed, and ``''`` / ``'0'`` read as missing;
- a row is *malformed* (dropped from both outputs) when one of depth,
  mag, magError, depthError is present but is not a number;
- an ``earthquake`` row is *rejected* when depth < 1, mag < 1,
  magError > 0.5 or depthError > 30, a missing value reading as 0;
- an event's identity is (local time to the second, latitude,
  longitude), so a re-delivered row carries the same three fields.
"""

from __future__ import annotations

import csv
import datetime as dt
import io
import os
import random
from dataclasses import dataclass, field
from zoneinfo import ZoneInfo

COLUMNS = [
    "time", "latitude", "longitude", "depth", "mag", "magType", "nst",
    "gap", "dmin", "rms", "net", "id", "updated", "place", "type",
    "horizontalError", "depthError", "magError", "magNst", "status",
    "locationSource", "magSource",
]

# measure domains of Q5-Q11, plus two types only Q12 counts
COUNTED_TYPES = [
    "earthquake", "explosion", "ice quake", "landslide", "quarry blast",
    "sonic boom", "volcanic eruption",
]
OTHER_TYPES = COUNTED_TYPES[1:] + ["chemical explosion", "other event"]
ALL_TYPES = COUNTED_TYPES + OTHER_TYPES[len(COUNTED_TYPES) - 1:]
EARTHQUAKE_SHARE = 0.92

NETWORKS = ["ak", "av", "ci", "hv", "ld", "mb", "nc", "nm", "nn", "pr", "tx", "us", "uu", "uw"]
MAG_TYPES = ["md", "ml", "ms", "mw", "me", "mi", "mb", "mlg"]
STATES = [
    ("California", "CA"), ("Alaska", "AK"), ("Nevada", "NV"), ("Hawaii", "HI"),
    ("Washington", "WA"), ("Oklahoma", "OK"), ("Utah", "UT"), ("Texas", "TX"),
    ("Montana", "MT"), ("Idaho", "ID"), ("Oregon", "OR"), ("Wyoming", "WY"),
]
TOWNS = ["Ridgecrest", "Anza", "Pahala", "Willow", "Stanley", "Cobb", "Ferndale", "Perry"]
COUNTRIES = [
    "Tonga", "Japan", "Chile", "Indonesia", "Mexico", "Peru", "Fiji",
    "Philippines", "Papua New Guinea", "Vanuatu", "New Zealand", "Greece",
]
REGIONS = [
    "southern Mid-Atlantic Ridge", "Kermadec Islands region", "Banda Sea",
    "central East Pacific Rise", "South Sandwich Islands region", "Fiji region",
]
DIRECTIONS = ["N", "NE", "E", "SE", "S", "SW", "W", "NW", "NNE", "WSW"]
# present but not a number: the engine's try_cast and Python's float
# both refuse these
BAD_NUMBERS = ["n/a", "--", "4.x", "?", "1..2"]

LOCAL_TZ = ZoneInfo("Europe/Bucharest")
UTC = dt.timezone.utc


@dataclass(frozen=True)
class FeedSpec:
    """What one file holds.

    ``start``/``end`` bound the UTC event times; ``peak_share`` of the
    fresh rows fall in ``[peak_start, end)`` instead. ``place_mix`` weighs
    US-state, foreign, comma-free and empty places. ``redeliver_share``
    of the rows repeat already-accepted events from the ledger;
    ``new_value_share`` of the fresh rows carry a network code and a
    country never delivered before.
    """

    rows: int
    start: dt.datetime
    end: dt.datetime
    reject_share: float = 0.03
    malformed_share: float = 0.01
    place_mix: tuple[float, float, float, float] = (0.45, 0.35, 0.15, 0.05)
    redeliver_share: float = 0.0
    new_value_share: float = 0.0
    peak_start: dt.datetime | None = None
    peak_share: float = 0.0


@dataclass
class FileTruth:
    path: str
    rows: int
    bytes: int
    accepted: int  # fresh rows the gate accepts (new fact rows)
    rejected: int
    malformed: int  # dropped by the gate from both outputs
    redelivered: int
    ids: set[str]  # distinct USGS ids in the file


@dataclass
class Ledger:
    """Cumulative truth for one warehouse: accepted events by key."""

    types: dict[tuple[str, str, str], str] = field(default_factory=dict)
    lines: list[list[str]] = field(default_factory=list)  # accepted rows, for re-delivery
    next_new_value: int = 0

    def total(self) -> int:
        return len(self.types)

    def type_counts(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for t in self.types.values():
            if t in COUNTED_TYPES:
                out[t] = out.get(t, 0) + 1
        return out


def _iso(ts: dt.datetime) -> str:
    return ts.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ts.microsecond // 1000:03d}Z"


def local_key_time(ts: dt.datetime) -> dt.datetime:
    """The engine's event clock: UTC instant as Europe/Bucharest wall time."""
    return ts.astimezone(LOCAL_TZ).replace(tzinfo=None, microsecond=0)


def _num(rng: random.Random, lo: float, hi: float, digits: int) -> str:
    return f"{rng.uniform(lo, hi):.{digits}f}"


def _place(rng: random.Random, mix: tuple[float, ...], new_country: str | None) -> str:
    dist = f"{rng.randint(1, 300)}km {rng.choice(DIRECTIONS)} of {rng.choice(TOWNS)}"
    if new_country is not None:
        return f"{dist}, {new_country}"
    kind = rng.choices(range(4), weights=mix)[0]
    if kind == 0:
        name, abbrev = rng.choice(STATES)
        return f"{dist}, {abbrev if rng.random() < 0.4 else name}"
    if kind == 1:
        country = rng.choice(COUNTRIES)
        return f"{dist}, {country}" if rng.random() < 0.8 else f"Offshore region, {country}"
    if kind == 2:
        return rng.choice(REGIONS)
    return ""


def _fresh_row(
    rng: random.Random, spec: FeedSpec, ledger: Ledger, seen: set, fate: str
) -> tuple[list[str], tuple[str, str, str], str]:
    start = spec.start
    if spec.peak_share and rng.random() < spec.peak_share:
        start = spec.peak_start
    span = (spec.end - start).total_seconds()
    while True:
        t = start + dt.timedelta(seconds=rng.uniform(0, span))
        t = t.replace(microsecond=(t.microsecond // 1000) * 1000)
        lat = _num(rng, -60, 65, 4)
        lon = _num(rng, -179.9, 179.9, 4)
        key = (local_key_time(t).isoformat(sep=" "), lat, lon)
        if key not in seen and key not in ledger.types:
            seen.add(key)
            break
    typ = "earthquake" if rng.random() < EARTHQUAKE_SHARE else rng.choice(OTHER_TYPES)
    new_country = None
    net = rng.choice(NETWORKS)
    if spec.new_value_share and rng.random() < spec.new_value_share:
        ledger.next_new_value += 1
        net = f"z{ledger.next_new_value:03d}"
        new_country = f"Newland {ledger.next_new_value:03d}"
    depth = _num(rng, 1.5, 120 if rng.random() < 0.9 else 650, 2)
    mag = _num(rng, 1.0, 7.5, 2)
    mag_err = _num(rng, 0.01, 0.45, 3)
    depth_err = _num(rng, 0.1, 25, 2)
    if fate == "rejected":
        # exactly one gate trips; the type is earthquake by definition
        typ = "earthquake"
        trip = rng.randrange(4)
        if trip == 0:
            depth = rng.choice(["0.40", "", "0"])
        elif trip == 1:
            mag = rng.choice(["0.80", ""])
        elif trip == 2:
            mag_err = _num(rng, 0.6, 2.0, 3)
        else:
            depth_err = _num(rng, 31, 60, 2)
    elif fate == "malformed":
        bad = rng.choice(BAD_NUMBERS)
        slot = rng.randrange(4)
        depth, mag, mag_err, depth_err = [
            bad if i == slot else v
            for i, v in enumerate((depth, mag, mag_err, depth_err))
        ]
    nst = "" if rng.random() < 0.2 else str(rng.randint(1, 400))
    gap = "" if rng.random() < 0.2 else _num(rng, 10, 360, 1)
    dmin = "" if rng.random() < 0.3 else _num(rng, 0.001, 20, 3)
    if fate == "accepted" and rng.random() < 0.01:
        # a malformed numeric outside the gate columns reads as NULL
        nst = rng.choice(BAD_NUMBERS)
    updated = t + dt.timedelta(minutes=rng.randint(1, 600))
    row = [
        _iso(t), lat, lon, depth, mag, rng.choice(MAG_TYPES), nst, gap, dmin,
        _num(rng, 0.05, 1.5, 2), net, f"{net}{rng.getrandbits(40):010x}", _iso(updated),
        _place(rng, spec.place_mix, new_country), typ,
        "" if rng.random() < 0.25 else _num(rng, 0.1, 29, 2), depth_err, mag_err,
        "" if rng.random() < 0.25 else str(rng.randint(1, 300)),
        rng.choice(["automatic", "reviewed"]), net, net,
    ]
    return row, key, typ


def write_feed(path: str, seed: int, spec: FeedSpec, ledger: Ledger) -> FileTruth:
    """Write one headered CSV at ``path`` and fold its truth into ``ledger``."""
    rng = random.Random(f"{seed}:{os.path.basename(path)}")
    n_redeliver = int(round(spec.rows * spec.redeliver_share)) if ledger.lines else 0
    n_fresh = spec.rows - n_redeliver
    n_reject = int(round(n_fresh * spec.reject_share))
    n_malformed = int(round(n_fresh * spec.malformed_share))
    fates = (
        ["rejected"] * n_reject
        + ["malformed"] * n_malformed
        + ["accepted"] * (n_fresh - n_reject - n_malformed)
    )
    rng.shuffle(fates)
    seen: set = set()
    rows: list[list[str]] = []
    accepted: list[tuple[tuple[str, str, str], str, list[str]]] = []
    for fate in fates:
        row, key, typ = _fresh_row(rng, spec, ledger, seen, fate)
        rows.append(row)
        if fate == "accepted":
            accepted.append((key, typ, row))
    for old in rng.sample(ledger.lines, min(n_redeliver, len(ledger.lines))):
        again = list(old)
        again[COLUMNS.index("updated")] = _iso(
            dt.datetime.fromisoformat(old[0].replace("Z", "+00:00")) + dt.timedelta(hours=30)
        )
        rows.append(again)
    rng.shuffle(rows)
    buf = io.StringIO()
    w = csv.writer(buf, lineterminator="\n")
    w.writerow(COLUMNS)
    w.writerows(rows)
    data = buf.getvalue().encode()
    tmp = path + ".tmp"
    with open(tmp, "wb") as fh:
        fh.write(data)
    os.replace(tmp, path)
    for key, typ, row in accepted:
        ledger.types[key] = typ
        ledger.lines.append(row)
    return FileTruth(
        path=path,
        rows=len(rows),
        bytes=len(data),
        accepted=len(accepted),
        rejected=n_reject,
        malformed=n_malformed,
        redelivered=len(rows) - n_fresh,
        ids={r[COLUMNS.index("id")] for r in rows},
    )
