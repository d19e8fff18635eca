"""Benchmark entry point.

    python3 perfbench/run.py --workload flight_trickle --seed 1 --seconds 25 --trace 0

Runs one workload (see README.md in this directory) against the package
from the checkout it sits in, checks the outputs, and prints as its last
stdout line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics``. With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json; with ``--trace 1`` the same run is made with spans and
engine counters on, and the metrics are the per-layer ones. The full
record of the run (per-sample figures, host load, problems found) goes to
``perfbench/_work/results/``, and a traced run's spans next to it.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
from pathlib import Path
from types import SimpleNamespace

ROOT = Path(__file__).resolve().parents[1]
WORKLOADS = ("flight_trickle", "catalog_sweep")


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: Path) -> None:
    """Keep every file the engine writes inside the checkout (the JVM's
    temporary files too; its perf-data file always goes to /tmp, so it is
    off), run Python workers against the checkout's package, and fix the
    heap and time zone."""
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    (work / "tmp").mkdir(parents=True)
    sys.path.insert(0, str(ROOT))


def _stop(spark) -> None:
    """Stop Spark and wait for its JVM to exit (it exits when its stdin,
    held by this process, closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def main(argv=None) -> int:
    args = _args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    out_dir = ROOT / "perfbench" / "_work" / "results"
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    work = ROOT / "perfbench" / "_work" / f"{tag}-{os.getpid()}"
    _environment(work)

    import bench
    from real_time_flight_data_pipeline_spark.session import get_spark

    from perfbench import catalog, flight
    from perfbench.stats import jvm_peak_rss_mb
    from perfbench.trace import SqlMetrics, Tracer

    spark = get_spark(
        app_name="flightframe-perfbench",
        extra_conf={"spark.sql.warehouse.dir": str(work / "spark-warehouse"),
                    "spark.local.dir": str(work / "local")},
    )
    tracer = Tracer() if args.trace else None
    try:
        spark.sparkContext.setLogLevel("ERROR")
        ctx = SimpleNamespace(spark=spark, seed=args.seed, seconds=args.seconds,
                              work=str(work), tracer=tracer,
                              sqlm=SqlMetrics(spark) if tracer else None)
        if tracer:
            tracer.patch_program()
        host0, t0 = bench._host_sample(), time.perf_counter()
        res = {"flight_trickle": flight.run, "catalog_sweep": catalog.run}[args.workload](ctx)
        wall = time.perf_counter() - t0
        host = bench._host_delta(host0, bench._host_sample())
        rss = jvm_peak_rss_mb(spark)
    finally:
        if tracer:
            tracer.unpatch()
        _stop(spark)

    out_dir.mkdir(parents=True, exist_ok=True)
    if tracer:
        tracer.dump(str(out_dir / f"{tag}.spans.json"))
    e2e = dict(res["e2e"], jvm_peak_rss_mb=rss,
               ok_frac=1.0 - res["failed"] / res["attempted"])
    layers = dict(res["layers"], **{
        "host.busy_frac": host.get("busy_frac", 0.0),
        "host.steal_frac": host.get("steal_frac", 0.0),
        "trace_overhead_frac": tracer.own_s / wall if tracer else 0.0,
    })
    chosen = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layers if args.trace else e2e
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in chosen}
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "wall_s": wall, "host": host, "e2e": e2e,
              "layers": layers, "detail": res["detail"]}
    (out_dir / f"{tag}.json").write_text(json.dumps(record, indent=1, default=str))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
