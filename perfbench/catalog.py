"""catalog_sweep: the read-only analytics surface, one client, closed loop.

The tables are generated from the seed (catalog_data). A sweep runs the
queries of ``sweep()`` -- every SWEEP_STRIDE-th active REGISTRY query of
each plans module, in ORIGINAL_ORDER -- one after the other, building each
and materializing it with the noop sink. Whole sweeps repeat until the
window is spent, and at least twice: the first sweep pays the engine's
first-use cost and is kept out of the metrics (it is in the run record),
so every metric averages over whole warm sweeps. The stride samples the
modules in proportion, and every module at least once, so build-heavy
text and vector queries and exec-heavy relational ones are both in it;
the full registry takes minutes even on small tables, longer than a run
may last.

Set-up time is the median of SETUP_REPEATS loads of every table through
``sources.parquet.load_table``, each counted. Correctness: after the window,
ORACLE_PER_RUN queries of the sweep, rotated by the seed, are compared with
their DuckDB oracle on the same tables (tests/oracle_harness.compare).
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time
from collections import defaultdict

from real_time_flight_data_pipeline_spark.plans import ORIGINAL_ORDER
from real_time_flight_data_pipeline_spark.plans.catalog import REGISTRY
from real_time_flight_data_pipeline_spark.schemas import TESTDATA_TABLES
from real_time_flight_data_pipeline_spark.sources.parquet import load_table

from .catalog_data import write_tables
from .stats import summarize
from .trace import catalyst_phases

SWEEP_STRIDE = 10
SETUP_REPEATS = 5
ORACLE_PER_RUN = 4
MODULES = ("catalog", "relational_ext", "expr_ext", "northstar", "llm_ext")


def sweep() -> list[str]:
    """Every SWEEP_STRIDE-th active query of each module (so at least one
    per module), in ORIGINAL_ORDER."""
    seen: dict[str, int] = defaultdict(int)
    picked = []
    for name in ORIGINAL_ORDER:
        if name in REGISTRY:
            mod = _module(name)
            if seen[mod] % SWEEP_STRIDE == 0:
                picked.append(name)
            seen[mod] += 1
    return picked


def _module(name: str) -> str:
    return REGISTRY[name].builder.__module__.rsplit(".", 1)[-1]


def run(ctx) -> dict:
    from tests.oracle_harness import compare

    spark, tracer, sqlm = ctx.spark, ctx.tracer, ctx.sqlm
    data = os.path.join(ctx.work, "tables")
    write_tables(ctx.seed, data)

    setups = []
    for _ in range(SETUP_REPEATS):
        t0 = time.perf_counter()
        for t in TESTDATA_TABLES:
            load_table(spark, data, t).count()
        setups.append(time.perf_counter() - t0)

    names = sweep()
    samples: list[tuple[str, float, float]] = []  # (query, build s, exec s)
    errors: list[str] = []
    engine: dict[str, float] = defaultdict(float)
    first_sweep: list[tuple[str, float, float]] = []
    sweeps_done = 0
    window_start = time.perf_counter()
    while sweeps_done < 2 or time.perf_counter() - window_start < ctx.seconds:
        if sweeps_done == 1:  # measure from the first warm sweep on
            first_sweep, samples = samples, []
            engine.clear()
            if tracer:
                with tracer.own():
                    sqlm.mark()
                tracer.spans.clear()
        for name in names:
            mod = _module(name)
            try:
                with tracer.trace(f"{name}#{len(samples)}") if tracer else contextlib.nullcontext():
                    with _span(tracer, f"plans.build.{mod}"):
                        t0 = time.perf_counter()
                        df = REGISTRY[name].builder(spark, data)
                        t1 = time.perf_counter()
                    if tracer:
                        with tracer.own():
                            for k, v in catalyst_phases(df).items():
                                engine[k] += v
                    with _span(tracer, f"plans.exec.{mod}"):
                        t2 = time.perf_counter()
                        df.write.format("noop").mode("overwrite").save()
                        t3 = time.perf_counter()
                samples.append((name, t1 - t0, t3 - t2))
            except Exception as e:  # a failing query is counted, the sweep goes on
                errors.append(f"{name}: {e!r}"[:500])
        sweeps_done += 1
    window_s = time.perf_counter() - window_start
    if tracer:
        with tracer.own():
            for k, v in {**sqlm.counts(), **sqlm.operators()}.items():
                engine[k] += v

    start = ctx.seed % len(names)
    checked = [names[(start + i) % len(names)] for i in range(ORACLE_PER_RUN)]
    mismatches = []
    for name in checked:
        try:
            ok, why = compare(spark, data, REGISTRY[name].builder, REGISTRY[name].oracle)
        except Exception as e:
            ok, why = False, repr(e)
        if not ok:
            mismatches.append(f"{name}: {why}"[:500])

    latencies = [b + e for _, b, e in samples]
    e2e = {
        "setup_s": statistics.median(setups),
        "latency_p50_s": summarize(latencies)["p50"],
        "throughput_per_s": len(samples) / sum(latencies),
    }
    detail = {"setup_runs_s": setups, "samples": samples, "first_sweep": first_sweep,
              "sweeps_done": sweeps_done,
              "window_s": window_s, "latency": summarize(latencies),
              "sweep_total_s": sum(latencies) / (sweeps_done - 1),
              "oracle_checked": checked, "errors": errors, "mismatches": mismatches}
    return {"attempted": len(samples) + len(errors) + len(checked),
            "failed": len(errors) + len(mismatches),
            "e2e": e2e, "layers": _layers(samples, sweeps_done - 1, engine, tracer), "detail": detail}


def _span(tracer, name: str):
    return tracer.span(name) if tracer else contextlib.nullcontext()


def _layers(samples, warm_sweeps, engine, tracer) -> dict:
    """Per-layer figures per warm sweep of the query list."""
    per_sweep = 1.0 / warm_sweeps
    out = {"plans.build_s": sum(b for _, b, _ in samples) * per_sweep}
    for mod in MODULES:
        out[f"plans.build_s.{mod}"] = per_sweep * sum(b for n, b, _ in samples if _module(n) == mod)
        out[f"plans.exec_s.{mod}"] = per_sweep * sum(e for n, _, e in samples if _module(n) == mod)
    if tracer is None:
        return out
    count, seconds = tracer.total("barrier.")
    out["plans.barrier_count"] = count * per_sweep
    out["plans.barrier_s"] = seconds * per_sweep
    out.update({k: v * per_sweep for k, v in engine.items()})
    return out
