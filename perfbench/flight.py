"""flight_trickle: the flight stream under an open loop at a fixed rate.

One generator thread writes a page of PAGE_EVENTS wire events every
PAGE_INTERVAL_S seconds into a spool directory (write, then rename). The
stream is composed from the package's public pieces, as a deployment
would: a FLIGHT_WIRE_SCHEMA file source with maxFilesPerTrigger=1 ->
normalize_flight_stream -> foreachBatch. Each batch runs warehouse_load,
then curated_view -> next_export_batch -> WatermarkStore.advance, and ships
the exported rows to the client as Arrow.

Set-up time is the median of SETUP_REPEATS starts of the stream query
against an empty spool, each run to its first trigger and stopped. Then
the stream starts for good and its first page, written before the window
opens, seeds the warehouse; that batch pays the engine's first-use cost
and is kept out of the metrics. (One seed page only: pages written in the
same millisecond may be read in either order, and the fact merge lets
the later batch win.)
"""

from __future__ import annotations

import contextlib
import os
import statistics
import threading
import time

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from real_time_flight_data_pipeline_spark.schemas import FLIGHT_WIRE_SCHEMA
from real_time_flight_data_pipeline_spark.streaming import pipeline, watermark

from .checks import check_export, check_fact
from .stats import summarize
from .trace import ProgressLog, catalyst_phases
from .wire import NOW_EXPR, Page, WireGenerator, expected_fact

PAGE_EVENTS = 100  # the reference poller's per-call limit
PAGE_INTERVAL_S = 12.0  # above the 5-10 s per batch seen at HEAD on a loaded host: no backlog
SETUP_REPEATS = 9
EXPORT_LIMIT = 300  # the reference export's batch size
TABLES = ("dim_airline", "dim_airport", "dim_route", "fact_flight_status")


def arrow_rows(table) -> list[dict]:
    """Arrow table -> list of dicts, timestamps as naive UTC datetimes (the
    form collect() gives under a UTC session and process)."""
    rows = table.to_pylist()
    for r in rows:
        for k, v in r.items():
            if getattr(v, "tzinfo", None) is not None:
                r[k] = v.replace(tzinfo=None) - v.utcoffset()
    return rows


def _version_files(table) -> tuple[int, int, int, int]:
    """(bytes, data files, rows, rows stamped with the newest last_updated)
    of a table's current version, read from the files, not through Spark;
    zeros before the first commit."""
    version = table._current_version()
    if version is None:
        return 0, 0, 0, 0
    path = os.path.join(table.path, version)
    total = files = 0
    for root, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(root, n))
                files += 1
    if "last_updated" not in table.schema.fieldNames():
        return total, files, 0, 0
    stamps = pq.read_table(path, columns=["last_updated"]).column(0)
    newest = pc.max(stamps)
    return total, files, len(stamps), pc.sum(pc.equal(stamps, newest)).as_py() or 0


class Export:
    """Ships every pending group of the curated view, as the reference's
    export loop does after each warehouse cycle."""

    def __init__(self, wh, store, tracer) -> None:
        self.wh, self.store, self.tracer = wh, store, tracer
        self.shipped: dict = {}
        self.rows = self.calls = 0
        self.seconds = 0.0
        self.catalyst: list[dict] = []

    def drain(self) -> None:
        t0 = time.perf_counter()
        while True:
            batch = watermark.next_export_batch(
                pipeline.curated_view(self.wh), self.store, limit=EXPORT_LIMIT)
            self.calls += 1
            if batch.new_watermark is None:
                break
            rows = arrow_rows(batch.rows.select("flight_key", "last_updated").toArrow())
            if self.tracer:
                with self.tracer.own():
                    self.catalyst.append(catalyst_phases(batch.rows))
            for r in rows:
                prev = self.shipped.get(r["flight_key"])
                if prev is None or r["last_updated"] > prev:
                    self.shipped[r["flight_key"]] = r["last_updated"]
            self.rows += len(rows)
            self.store.advance(batch.new_watermark)
        self.seconds += time.perf_counter() - t0


def _stream(spark, spool: str, checkpoint: str, sink, observe: bool = False):
    raw = (spark.readStream.schema(FLIGHT_WIRE_SCHEMA)
           .option("maxFilesPerTrigger", 1).json(spool))
    staged = pipeline.normalize_flight_stream(raw, NOW_EXPR)
    if observe:  # rows that pass normalize, counted in the batch's own scan
        staged = staged.observe("kept", F.count(F.lit(1)).alias("rows"))
    return (staged.writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint).foreachBatch(sink).start())


def _write_page(page: Page, tmp_dir: str, spool: str, i: int) -> None:
    name = f"page-{i:06d}.json"
    tmp = os.path.join(tmp_dir, name)
    with open(tmp, "w") as f:
        f.write("\n".join(page.lines))
    os.replace(tmp, os.path.join(spool, name))


def run(ctx) -> dict:
    spark, work, tracer, sqlm = ctx.spark, ctx.work, ctx.tracer, ctx.sqlm
    traced = tracer is not None
    gen = WireGenerator(ctx.seed)
    wh = pipeline.FlightWarehouse(spark, os.path.join(work, "wh"))
    export = Export(wh, watermark.WatermarkStore(os.path.join(work, "watermark.json")), tracer)
    spool, tmp_dir = os.path.join(work, "spool"), os.path.join(work, "spool_tmp")
    os.makedirs(spool)
    os.makedirs(tmp_dir)

    setups = []
    for i in range(SETUP_REPEATS):
        empty = os.path.join(work, f"setup_spool_{i}")
        os.makedirs(empty)
        t0 = time.perf_counter()
        q = _stream(spark, empty, os.path.join(work, f"setup_ckpt_{i}"), lambda df, e: None)
        q.processAllAvailable()
        q.stop()
        setups.append(time.perf_counter() - t0)

    progress = ProgressLog()
    due: list[float] = []
    late: list[float] = []
    batches: list[dict] = []
    errors: list[str] = []

    def sink(batch_df, epoch_id: int) -> None:
        b = {"page": len(batches), "start": time.perf_counter()}
        try:
            with tracer.trace(f"batch-{epoch_id}") if traced else contextlib.nullcontext():
                if traced:
                    with tracer.own():
                        b["fact_before"] = _version_files(wh.fact)[2]
                        sqlm.counts()
                pipeline.warehouse_load(wh, batch_df)
                export.drain()
                if traced:
                    with tracer.own():
                        b["engine"] = sqlm.counts()
                        b["written"] = [_version_files(t)
                                        for t in (wh.airline, wh.airport, wh.route, wh.fact)]
        except Exception as e:  # a failed batch is counted, and the stream goes on
            errors.append(f"batch {epoch_id}: {e!r}"[:500])
        b["end"] = time.perf_counter()
        batches.append(b)

    pages = [gen.page(PAGE_EVENTS)]
    _write_page(pages[0], tmp_dir, spool, 0)
    q = _stream(spark, spool, os.path.join(work, "ckpt"), sink, observe=traced)
    q.processAllAvailable()  # the seed page
    del batches[:]
    shipped, export = export.shipped, Export(wh, export.store, tracer)
    export.shipped = shipped
    spark.streams.addListener(progress)
    if traced:
        tracer.spans.clear()
        sqlm.mark()
    window_start = time.perf_counter()
    n_pages = int(ctx.seconds // PAGE_INTERVAL_S) + 1

    def generate() -> None:
        for i in range(n_pages):
            t_due = window_start + i * PAGE_INTERVAL_S
            time.sleep(max(0.0, t_due - time.perf_counter()))
            page = gen.page(PAGE_EVENTS)
            _write_page(page, tmp_dir, spool, 1 + i)
            late.append(time.perf_counter() - t_due)
            due.append(t_due)
            pages.append(page)

    writer = threading.Thread(target=generate, name="page-generator")
    writer.start()
    writer.join()
    q.processAllAvailable()
    q.stop()
    spark.streams.removeListener(progress)
    window_s = time.perf_counter() - window_start
    if traced:
        with tracer.own():
            operators = sqlm.operators()

    fact = arrow_rows(wh.fact.read().toArrow())
    checks = [check_fact(fact, expected_fact(pages)),
              check_export(fact, export.shipped, export.store.read()),
              [] if len(batches) == n_pages else [f"{len(batches)} batches for {n_pages} pages"]]
    problems = [p for c in checks for p in c]
    fresh = [b["end"] - due[b["page"]] for b in batches if b["page"] < len(due)]
    events = PAGE_EVENTS * len(batches)
    e2e = {
        "setup_s": statistics.median(setups),
        "latency_p50_s": summarize(fresh)["p50"],
        "throughput_per_s": events / sum(b["end"] - b["start"] for b in batches),
    }
    detail = {"setup_runs_s": setups, "freshness_s": fresh, "generator_late_s": late,
              "progress": progress.progress, "shares": gen.shares(),
              "window_s": window_s, "errors": errors, "problems": problems}
    layers = _layers(batches, progress.progress, export, fact, wh, due, late, events, tracer)
    if traced:
        layers.update({k: v / max(1, len(batches)) for k, v in operators.items()})
    return {"attempted": len(batches) + len(checks),
            "failed": len(errors) + sum(1 for c in checks if c),
            "e2e": e2e, "layers": layers, "detail": detail}


def _layers(batches, progress, export, fact, wh, due, late, events, tracer) -> dict:
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    out = {
        "streaming.trigger_ms": med([p.get("triggerExecution", 0.0) for p in progress]),
        "streaming.add_batch_ms": med([p.get("addBatch", 0.0) for p in progress]),
        "streaming.query_planning_ms": med([p.get("queryPlanning", 0.0) for p in progress]),
        "streaming.wal_commit_ms": med([p.get("walCommit", 0.0) for p in progress]),
        "streaming.latest_offset_ms": med([p.get("latestOffset", 0.0) for p in progress]),
        "streaming.generator_late_ms_max": 1e3 * max(late, default=0.0),
        "watermark.rows_shipped": float(export.rows),
        "watermark.calls": float(export.calls),
        "watermark.export_s": export.seconds,
        "pipeline.fact_rows_end": float(len(fact)),
        "pipeline.fact_bytes_end": float(_version_files(wh.fact)[0]),
    }
    # Pages due but not yet done when each batch started (its own included).
    out["streaming.backlog_pages_max"] = float(max(
        (sum(d <= b["start"] for d in due) - sum(o["end"] <= b["start"] for o in batches)
         for b in batches), default=0))
    if tracer is None:
        return out
    n = len(batches)
    kept = sum(p.get("kept", 0) for p in progress)
    done = [b for b in batches if "written" in b]
    inserted = sum(b["written"][-1][2] - b["fact_before"] for b in done)
    deduped = sum(b["written"][-1][3] for b in done)  # fact rows this batch stamped
    written = [w for b in done for w in b["written"]]
    count_load, load_s = tracer.total("pipeline.warehouse_load")
    count_bar, bar_s = tracer.total("barrier.")
    out.update({
        "pipeline.warehouse_load_s": load_s / max(1, count_load),
        "pipeline.barrier_count": count_bar / max(1, n),
        "pipeline.barrier_s": bar_s / max(1, n),
        "pipeline.rows_parsed": float(events),
        "pipeline.rows_kept": float(kept),
        "pipeline.rows_deduped": float(deduped),
        "pipeline.fact_inserted": float(inserted),
        "pipeline.fact_updated": float(deduped - inserted),
        "pipeline.kept_ratio": kept / events if events else 0.0,
        "pipeline.bytes_written_per_event": sum(w[0] for w in written) / max(1, events),
        "pipeline.files_written_per_batch": sum(w[1] for w in written) / max(1, n),
        "pipeline.jobs_per_batch": med([b["engine"].get("spark.jobs", 0.0)
                                        for b in batches if "engine" in b]),
        "pipeline.tasks_per_batch": med([b["engine"].get("spark.tasks", 0.0)
                                         for b in batches if "engine" in b]),
    })
    for short, table in zip(("airline", "airport", "route", "fact"), TABLES):
        out[f"pipeline.commit_s.{short}"] = tracer.total(f"table.overwrite.{table}")[1] / max(1, n)
    for k in ("spark.jobs", "spark.stages", "spark.tasks"):
        out[k] = sum(b["engine"][k] for b in done) / max(1, n)
    for k in ("analysis_ms", "optimization_ms", "planning_ms"):
        out[f"catalyst.{k}"] = med([c[f"catalyst.{k}"] for c in export.catalyst])
    return out
