"""Tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import time
from datetime import datetime

import pytest

from perfbench.checks import check_export, check_fact
from perfbench.stats import beyond, nearest_rank, summarize
from perfbench.trace import Tracer, parse_metric, plan_metrics
from perfbench.wire import FACT_VALUE_COLUMNS, WireGenerator, expected_fact, is_kept


# -- percentile rule ---------------------------------------------------------
@pytest.mark.parametrize("n, q, n_beyond", [(150, 90.0, 15), (100, 90.0, 10),
                                            (1000, 99.0, 10), (99, 75.0, 24),
                                            (40, 75.0, 10)])
def test_highest_percentile_with_ten_beyond(n, q, n_beyond):
    s = summarize([float(i) for i in range(1, n + 1)])
    assert (s["n"], s["q"], s["beyond"]) == (n, q, n_beyond)
    assert s["pq"] == nearest_rank([float(i) for i in range(1, n + 1)], q)
    assert s["p50"] == (n + 1) / 2


def test_too_few_samples_give_only_the_median():
    s = summarize([3.0, 1.0, 2.0] * 10)
    assert s["p50"] == 2.0 and s["q"] is None and s["pq"] is None
    assert beyond(30, 75.0) == 7


# -- generator ---------------------------------------------------------------
def _pages(seed, n=3, size=200):
    g = WireGenerator(seed)
    return g, [g.page(size) for _ in range(n)]


def test_generator_is_deterministic_per_seed():
    _, a = _pages(7)
    _, b = _pages(7)
    assert [p.lines for p in a] == [p.lines for p in b]


def test_generator_differs_across_seeds():
    _, a = _pages(7)
    _, b = _pages(8)
    assert a[0].lines != b[0].lines


def test_generator_records_its_shares():
    g, pages = _pages(3, n=5)
    shares = g.shares()
    assert shares["events"] == 1000
    for k in ("insert", "update", "status_dropped", "stale", "unparseable",
              "negative_delay", "bad_flight_date", "fraction_timestamp"):
        assert shares[k] > 0, k
    assert shares["updates_per_insert"] == pytest.approx(
        g.stats["update"] / g.stats["insert"], abs=1e-4)
    truths = [t for p in pages for t in p.truths]
    assert sum(t is None for t in truths) == g.stats["unparseable"]
    kept = sum(t is not None and is_kept(t) for t in truths)
    assert kept == g.stats["insert"] + g.stats["update"]


def test_generator_emits_every_timestamp_shape():
    _, pages = _pages(5, n=2, size=300)
    text = "\n".join(pages[0].lines + pages[1].lines)
    for marker in ('Z"', '+0000"', ':00"', '-03:00"', '+0530"'):
        assert marker in text, marker


# -- output checks -----------------------------------------------------------
STAMP = datetime(2026, 1, 1, 12, 0, 0)


def _fact_from(expected):
    rows = []
    for key, (values, has_airline, has_route) in expected.items():
        row = dict(zip(FACT_VALUE_COLUMNS, values))
        row.update(flight_key=key, airline_id=1 if has_airline else None,
                   route_id=2 if has_route else None, last_updated=STAMP)
        rows.append(row)
    return rows


def test_checks_pass_on_the_expected_warehouse():
    _, pages = _pages(11)
    expected = expected_fact(pages)
    fact = _fact_from(expected)
    shipped = {r["flight_key"]: STAMP for r in fact}
    assert check_fact(fact, expected) == []
    assert check_export(fact, shipped, str(STAMP)) == []


def test_check_flags_a_planted_wrong_fact_value():
    _, pages = _pages(11)
    expected = expected_fact(pages)
    fact = _fact_from(expected)
    fact[0]["status"] = "cancelled"
    assert check_fact(fact, expected)


def test_check_flags_a_missing_or_extra_key():
    _, pages = _pages(11)
    expected = expected_fact(pages)
    fact = _fact_from(expected)
    assert check_fact(fact[1:], expected)
    assert check_fact(fact + [dict(fact[0], flight_key="nope")], expected)


def test_check_flags_a_skipped_export_row():
    _, pages = _pages(11)
    fact = _fact_from(expected_fact(pages))
    shipped = {r["flight_key"]: STAMP for r in fact[1:]}
    assert check_export(fact, shipped, str(STAMP))


def test_check_flags_a_stale_watermark():
    _, pages = _pages(11)
    fact = _fact_from(expected_fact(pages))
    shipped = {r["flight_key"]: STAMP for r in fact}
    assert check_export(fact, shipped, "2025-12-31 00:00:00")


# -- tracing -----------------------------------------------------------------
def test_self_time_subtracts_children():
    tr = Tracer()
    with tr.trace("t1"):
        with tr.span("outer"):
            time.sleep(0.02)
            with tr.span("inner"):
                time.sleep(0.03)
    self_s = tr.self_times()
    assert self_s["inner"] == pytest.approx(0.03, abs=0.02)
    assert self_s["outer"] == pytest.approx(0.02, abs=0.02)
    assert [s.trace for s in tr.spans] == ["t1", "t1"]
    assert tr.spans[1].parent == 0


def test_wrap_and_unpatch_restore_the_original():
    class Box:
        def f(self, x):
            return x + 1

    tr = Tracer()
    original = Box.__dict__["f"]
    tr.wrap(Box, "f", "box.f")
    assert Box().f(1) == 2 and tr.spans[-1].name == "box.f"
    tr.unpatch()
    assert Box.__dict__["f"] is original


@pytest.mark.parametrize("text, value", [
    ("1,234", 1234.0),
    ("12.5 KiB", 12.5 * 1024),
    ("3.0 s (1.0 s, 1.0 s, 1.0 s (stage 1.0: task 2))", 3000.0),
    ("2.0 MiB (1.0 MiB, 1.0 MiB, 1.0 MiB)", 2.0 * 2**20),
])
def test_parse_metric(text, value):
    assert parse_metric(text) == value


DOT = (
    '  3 [id="node3" labelType="html" label="<b>HashAggregate</b><br><br>spill size: 0.0 B'
    '<br>time in aggregation build total (min, med, max (stageId: taskId))<br>18 ms (5 ms, '
    '13 ms, 13 ms (stage 0.0: task 1))<br>number of output rows: 14" tooltip="x"];\n'
    '  8 [id="node8" labelType="html" label="<b>Scan parquet </b><br><br>number of files '
    'read: 1<br>size of files read: 114.5 KiB<br>number of output rows: 6,000" tooltip="y"];\n'
    '  1 [id="node1" labelType="html" label="<br><b>AdaptiveSparkPlan</b><br><br>" tooltip="z"];'
)


def test_plan_metrics_reads_every_node_label():
    got = plan_metrics(DOT)
    assert ("HashAggregate", "time in aggregation build",
            "18 ms (5 ms, 13 ms, 13 ms (stage 0.0: task 1))") in got
    assert ("Scan parquet ", "number of output rows", "6,000") in got
    assert ("HashAggregate", "spill size", "0.0 B") in got
    assert len(got) == 6


# -- catalog subset ----------------------------------------------------------
def test_sweep_takes_every_module_in_original_order():
    from real_time_flight_data_pipeline_spark.plans import ORIGINAL_ORDER

    from perfbench.catalog import MODULES, _module, sweep

    names = sweep()
    assert {_module(n) for n in names} == set(MODULES)
    assert names == [n for n in ORIGINAL_ORDER if n in set(names)]
