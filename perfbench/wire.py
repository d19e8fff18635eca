"""Seeded flight-wire generator and its pure-Python expected warehouse.

The generator emits pages of JSON lines in the wire shape the pipeline
reads (one object per line, FLIGHT_WIRE_SCHEMA). Alongside each line it
keeps the ground truth it rendered the line from, so the expected fact
table is computed here without calling any engine code:

* timestamps are chosen as UTC instants and then rendered in one of the
  messy shapes ``clean_ts`` repairs (``Z``, ``+HHMM``, other offsets, 1- or
  3-digit seconds, missing seconds, no zone). A long fraction with a zone
  is repaired to three digits and then fails the fraction-free format, so
  such a field is expected as NULL (the row survives);
* a stated share of events is dropped by the status filter, the 3-day
  retention filter, or is not JSON at all;
* most kept events re-poll a flight already sent (an update) and the rest
  announce a new flight (an insert); ``stats`` counts every class.

Ingest times grow by one second per event, so the latest event of a key is
also the one in the last page that carries it.
"""

from __future__ import annotations

import json
import random
from collections import Counter
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta, timezone

UTC = timezone.utc
# The retention clock handed to normalize_flight_stream, and the anchor of
# every generated timestamp.
NOW = datetime(2025, 8, 22, 0, 0, 0, tzinfo=UTC)
NOW_EXPR = "timestamp'2025-08-22 00:00:00'"
CUTOFF = NOW - timedelta(days=3)
INGEST_START = datetime(2025, 8, 21, 0, 0, 0, tzinfo=UTC)

KEEP_STATUSES = ("active", "landed", "arrived", "en-route", "enroute")
KEPT_SPELLINGS = ("active", "Active", "ACTIVE", "landed", "Landed", "arrived",
                  "en-route", "enroute")
DROPPED_STATUSES = ("scheduled", "cancelled", "diverted", "incident")

# Share of kept events that re-poll a flight already sent (an update); the
# others announce a new flight (an insert).
UPDATE_SHARE = 0.7
# Shares of all events dropped by the status filter, by the retention
# filter, and lines that are not JSON.
STATUS_DROP_SHARE = 0.06
STALE_SHARE = 0.04
UNPARSEABLE_SHARE = 0.02

# Fact columns compared against the expected table (ids and last_updated are
# checked separately: ids for presence, last_updated against the export).
FACT_VALUE_COLUMNS = (
    "flight_date", "status", "ingest_time",
    "dep_scheduled", "dep_estimated", "dep_actual", "dep_delay_min",
    "arr_scheduled", "arr_estimated", "arr_actual", "arr_delay_min",
)

_TS_SHAPES = ("utc", "z", "hhmm", "offset", "sec1", "sec3", "nosec", "bare")


def render_ts(t: datetime, shape: str, rng: random.Random) -> str:
    """Render the UTC instant ``t`` (whole seconds) so that the engine's
    timestamp repair parses it back to exactly ``t`` (``fraction``: to
    NULL). ``sec1`` needs seconds < 10 and ``nosec`` needs seconds == 0;
    other instants fall back to the plain shape."""
    if shape == "hhmm" or shape == "offset":
        minutes = rng.choice((-300, -180, 60, 330, 540))
        local = t + timedelta(minutes=minutes)
        sign = "+" if minutes >= 0 else "-"
        hh, mm = divmod(abs(minutes), 60)
        sep = "" if shape == "hhmm" else ":"
        return local.strftime("%Y-%m-%dT%H:%M:%S") + f"{sign}{hh:02d}{sep}{mm:02d}"
    base = t.strftime("%Y-%m-%dT%H:%M")
    sec = t.second
    if shape == "z":
        return f"{base}:{sec:02d}Z"
    if shape == "fraction":
        digits = "".join(rng.choice("0123456789") for _ in range(rng.randint(4, 7)))
        return f"{base}:{sec:02d}.{digits}Z"
    if shape == "sec1" and sec < 10:
        return f"{base}:{sec}+00:00"
    if shape == "sec3":
        return f"{base}:{sec:02d}{rng.randint(0, 9)}+0000"
    if shape == "nosec" and sec == 0:
        return f"{base}Z"
    if shape == "bare":
        return f"{base}:{sec:02d}"
    return f"{base}:{sec:02d}+00:00"


@dataclass
class Flight:
    key: str
    number: str
    iata: str | None
    icao: str
    airline: tuple | None  # (iata | None, icao, name)
    dep: tuple  # (name, iata | None, icao)
    arr: tuple
    dep_sched: datetime
    arr_sched: datetime
    dep_raw: str
    arr_raw: str


@dataclass
class Truth:
    """What one wire line says, as values (None for a line that is not JSON)."""

    key: str
    status: str
    flight_date: date | None
    ingest: datetime
    dep_sched: datetime | None
    dep_est: datetime | None
    dep_act: datetime | None
    dep_delay: int | None
    arr_sched: datetime | None
    arr_est: datetime | None
    arr_act: datetime | None
    arr_delay: int | None
    has_airline: bool
    has_route: bool


@dataclass
class Page:
    lines: list[str]
    truths: list[Truth | None]


@dataclass
class WireGenerator:
    """Deterministic per seed; the event mix follows the ``*_SHARE``
    constants above."""

    seed: int
    stats: Counter = field(default_factory=Counter)

    def __post_init__(self) -> None:
        self.rng = random.Random(self.seed)
        rng = self.rng
        letters = "ABCDEFGHIJKLMNOPQRSTUVWXYZ"
        code = lambda n: "".join(rng.choice(letters) for _ in range(n))  # noqa: E731
        self.airlines = []
        for i in range(40):
            # every fifth airline is ICAO-only (no IATA code on the wire)
            iata = None if i % 5 == 4 else code(2)
            self.airlines.append((iata, code(3), f"Airline {i}"))
        self.airports = []
        for i in range(120):
            iata = None if i % 6 == 5 else code(3)
            self.airports.append((f"Airport {i}", iata, code(4)))
        self.live: list[Flight] = []
        self.n_events = 0
        self.n_flights = 0

    # -- entities ---------------------------------------------------------
    def _new_flight(self, stale: bool) -> Flight:
        rng = self.rng
        self.n_flights += 1
        airline = None if rng.random() < 0.03 else rng.choice(self.airlines)
        number = str(100 + self.n_flights)
        prefix = airline[0] or airline[1] if airline else "XX"
        dep, arr = rng.sample(self.airports, 2)
        if rng.random() < 0.02:
            arr = (None, None, None)  # route cannot be resolved
        if stale:
            dep_sched = CUTOFF - timedelta(hours=rng.randint(14, 48))
        else:
            dep_sched = NOW - timedelta(minutes=rng.randint(0, 2 * 24 * 60))
        dep_sched = dep_sched.replace(second=rng.choice((0, 0, 5, 30)))
        arr_sched = dep_sched + timedelta(minutes=rng.randint(45, 600))
        dep_raw = render_ts(dep_sched, rng.choice(_TS_SHAPES), rng)
        arr_raw = render_ts(arr_sched, rng.choice(_TS_SHAPES), rng)
        # a flight key of this seed and serial never repeats across flights
        key = f"{prefix}{number}_{dep_raw}#{self.seed}-{self.n_flights}"
        return Flight(key, number, f"{prefix}{number}", f"F{number}", airline,
                      dep, arr, dep_sched, arr_sched, dep_raw, arr_raw)

    # -- events -----------------------------------------------------------
    def _event(self, f: Flight, status: str) -> tuple[str, Truth]:
        rng = self.rng
        ingest = INGEST_START + timedelta(seconds=self.n_events)
        self.n_events += 1

        def maybe_ts(base: datetime, p: float) -> tuple[str | None, datetime | None]:
            if rng.random() >= p:
                return None, None
            t = (base + timedelta(minutes=rng.randint(-20, 90))).replace(
                second=rng.choice((0, 3, 17, 45)))
            if rng.random() < 0.05:
                self.stats["fraction_timestamp"] += 1
                return render_ts(t, "fraction", rng), None
            return render_ts(t, rng.choice(_TS_SHAPES), rng), t

        dep_est_raw, dep_est = maybe_ts(f.dep_sched, 0.6)
        dep_act_raw, dep_act = maybe_ts(f.dep_sched, 0.4)
        arr_est_raw, arr_est = maybe_ts(f.arr_sched, 0.5)
        arr_act_raw, arr_act = maybe_ts(f.arr_sched, 0.2)
        if dep_est_raw is not None and rng.random() < 0.03:
            dep_est_raw, dep_est = "garbage", None  # unparseable -> NULL, row kept
            self.stats["garbage_timestamp"] += 1
        dep_delay = rng.choice((None, None, rng.randint(0, 90)))
        arr_delay = rng.choice((None, rng.randint(0, 120)))
        if rng.random() < 0.04:
            dep_delay = -rng.randint(1, 15)  # nulled by normalize, row kept
            self.stats["negative_delay"] += 1
        fdate_raw = f.dep_sched.date().isoformat()
        fdate: date | None = f.dep_sched.date()
        if rng.random() < 0.02:
            fdate_raw, fdate = "2025-13-45", None
            self.stats["bad_flight_date"] += 1
        a = f.airline
        rec = {
            "flight_key": f.key,
            "flight_date": fdate_raw,
            "status": status,
            "airline": None if a is None else {"iata": a[0], "icao": a[1], "name": a[2]},
            "flight": {"number": f.number, "iata": f.iata, "icao": f.icao},
            "departure": {
                "airport": f.dep[0], "iata": f.dep[1], "icao": f.dep[2],
                "gate": str(rng.randint(1, 80)), "terminal": str(rng.randint(1, 5)),
                "schedule": f.dep_raw, "estimated": dep_est_raw,
                "actual": dep_act_raw, "delay_min": dep_delay,
            },
            "arrival": {
                "airport": f.arr[0], "iata": f.arr[1], "icao": f.arr[2],
                "gate": None, "terminal": str(rng.randint(1, 5)),
                "schedule": f.arr_raw, "estimated": arr_est_raw,
                "actual": arr_act_raw, "delay_min": arr_delay,
            },
            "ingest_time": render_ts(ingest, rng.choice(("utc", "z", "hhmm", "offset", "sec3", "bare")), rng),
            "source": "perfbench",
        }
        truth = Truth(
            f.key, status, fdate, ingest,
            f.dep_sched, dep_est, dep_act, dep_delay,
            f.arr_sched, arr_est, arr_act, arr_delay,
            has_airline=a is not None,
            has_route=f.arr[2] is not None,
        )
        return json.dumps(rec, separators=(",", ":")), truth

    def page(self, n_events: int) -> Page:
        rng = self.rng
        lines: list[str] = []
        truths: list[Truth | None] = []
        for _ in range(n_events):
            u = rng.random()
            if u < UNPARSEABLE_SHARE:
                self.n_events += 1
                lines.append('{"flight_key":"' + str(rng.randint(0, 10**6)) + '","status":')
                truths.append(None)
                self.stats["unparseable"] += 1
                continue
            u -= UNPARSEABLE_SHARE
            if u < STALE_SHARE:
                line, t = self._event(self._new_flight(stale=True), rng.choice(KEPT_SPELLINGS))
                self.stats["stale"] += 1
            elif u - STALE_SHARE < STATUS_DROP_SHARE:
                f = rng.choice(self.live) if self.live and rng.random() < 0.5 else self._new_flight(False)
                line, t = self._event(f, rng.choice(DROPPED_STATUSES))
                self.stats["status_dropped"] += 1
            elif self.live and rng.random() < UPDATE_SHARE:
                line, t = self._event(rng.choice(self.live), rng.choice(KEPT_SPELLINGS))
                self.stats["update"] += 1
            else:
                f = self._new_flight(stale=False)
                self.live.append(f)
                line, t = self._event(f, rng.choice(KEPT_SPELLINGS))
                self.stats["insert"] += 1
            lines.append(line)
            truths.append(t)
        self.stats["events"] += n_events
        return Page(lines, truths)

    def shares(self) -> dict[str, float]:
        """Each event class as a share of all events, plus updates per
        insert (the update-vs-insert mix)."""
        n = max(1, self.stats["events"])
        out = {k: round(v / n, 4) for k, v in sorted(self.stats.items()) if k != "events"}
        out["events"] = self.stats["events"]
        out["updates_per_insert"] = round(
            self.stats["update"] / max(1, self.stats["insert"]), 4)
        return out


# ---------------------------------------------------------------------------
# Expected warehouse (pure Python, independent of the engine)
# ---------------------------------------------------------------------------
def is_kept(t: Truth) -> bool:
    """The status, retention and key/timestamp guards of normalize."""
    if t.status.lower() not in KEEP_STATUSES:
        return False
    checked = (t.dep_sched, t.arr_sched, t.dep_act, t.arr_act)
    return bool(t.key) and any(c is not None and c >= CUTOFF for c in checked)


def _naive(t: datetime | None) -> datetime | None:
    return None if t is None else t.astimezone(UTC).replace(tzinfo=None)


def expected_row(t: Truth) -> tuple:
    """One fact row's values in FACT_VALUE_COLUMNS order, as Spark returns
    them under a UTC session (naive datetimes, float delays)."""
    delay = lambda d: None if d is None or d < 0 else float(d)  # noqa: E731
    return (
        t.flight_date, t.status, _naive(t.ingest),
        _naive(t.dep_sched), _naive(t.dep_est), _naive(t.dep_act), delay(t.dep_delay),
        _naive(t.arr_sched), _naive(t.arr_est), _naive(t.arr_act), delay(t.arr_delay),
    )


def expected_fact(pages: list[Page]) -> dict[str, tuple[tuple, bool, bool]]:
    """Latest kept event per flight key over pages in order:
    key -> (values, has_airline, has_route)."""
    latest: dict[str, Truth] = {}
    for p in pages:
        for t in p.truths:
            if t is None or not is_kept(t):
                continue
            cur = latest.get(t.key)
            if cur is None or t.ingest > cur.ingest:
                latest[t.key] = t
    return {k: (expected_row(t), t.has_airline, t.has_route) for k, t in latest.items()}
