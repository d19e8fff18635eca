"""Output checks. Each returns a list of problems; an empty list passes."""

from __future__ import annotations

from datetime import datetime

from .wire import FACT_VALUE_COLUMNS


def check_fact(fact: list[dict], expected: dict[str, tuple[tuple, bool, bool]]) -> list[str]:
    """The final fact table against the expected latest-per-key table: the
    same keys, the same values per key, an airline id exactly where the
    flight names an airline and a route id exactly where both airports
    are known."""
    problems = []
    got = {r["flight_key"]: r for r in fact}
    if len(got) != len(fact):
        problems.append(f"fact has {len(fact) - len(got)} duplicate keys")
    missing, extra = expected.keys() - got.keys(), got.keys() - expected.keys()
    if missing:
        problems.append(f"{len(missing)} expected keys missing, e.g. {sorted(missing)[:3]}")
    if extra:
        problems.append(f"{len(extra)} unexpected keys, e.g. {sorted(extra)[:3]}")
    wrong = []
    for key in expected.keys() & got.keys():
        values, has_airline, has_route = expected[key]
        row = got[key]
        actual = tuple(row[c] for c in FACT_VALUE_COLUMNS)
        if actual != values:
            diff = [(c, a, e) for c, a, e in zip(FACT_VALUE_COLUMNS, actual, values) if a != e]
            wrong.append((key, diff[:2]))
        elif (row["airline_id"] is not None) != has_airline or (row["route_id"] is not None) != has_route:
            wrong.append((key, "surrogate id presence"))
    if wrong:
        problems.append(f"{len(wrong)} keys with wrong values, e.g. {wrong[:2]}")
    return problems


def check_export(fact: list[dict], shipped: dict[str, datetime], watermark: str | None) -> list[str]:
    """Every fact row's current version was shipped (``shipped`` maps a key
    to the newest last_updated shipped for it), and the stored watermark is
    the newest last_updated of the fact."""
    problems = []
    stale = [r["flight_key"] for r in fact if shipped.get(r["flight_key"]) != r["last_updated"]]
    if stale:
        problems.append(f"{len(stale)} fact rows not shipped at their current version, "
                        f"e.g. {stale[:3]}")
    newest = max((r["last_updated"] for r in fact), default=None)
    if newest is not None and watermark != str(newest):
        problems.append(f"watermark {watermark!r} != max(last_updated) {str(newest)!r}")
    return problems
