"""Parquet table loaders for the driver testdata layout.

One parquet file per table under ``{sf_dir}/{name}.parquet``. Columnar scans
with pushdown/pruning come for free; callers should still select only the
columns they need so ``ReadSchema`` stays narrow.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import TESTDATA_TABLES

# Columns written as parquet TIMESTAMP(NANOS). Depending on the Spark
# runtime they arrive either as epoch-nanos longs (<=3.x with
# spark.sql.legacy.parquet.nanosAsLong) or as TIMESTAMP_NTZ (4.x, where that
# conf is accepted but ignored). Both branches normalize to a zoned
# TIMESTAMP truncated to micros, exactly like DuckDB's TIMESTAMP_NS ->
# TIMESTAMP read, keeping both engines bit-identical:
#   bigint         -> integer `div 1000` (float division would lose
#                     precision above 2^53 ns) + timestamp_micros
#   timestamp_ntz  -> to_utc_timestamp(_, "UTC") (session TZ is UTC, so the
#                     wall-clock instant is unchanged; only the type flips)
_NANOS_TS_COLS: dict[str, tuple[str, ...]] = {"events": ("ts",)}


def _ensure_runtime_confs(spark: SparkSession) -> None:
    """Make a caller-provided SparkSession (e.g. the verification driver's)
    safe for this engine: nanos-typed parquet readable, UTC session clock.
    Both are runtime-settable SQL confs."""
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    except Exception:
        pass  # conf locked down (e.g. Spark Connect policy) — reads may still work


# (realpath, size, mtime) -> parquet row-group count. Footer METADATA
# only (never query results), keyed on file identity so a rewritten file
# re-probes. Lets plans/catalog._spread decide input parallelism from the
# file footer (~0.3 ms) instead of a df.rdd round trip that plans the
# whole scan JVM-side (~64 ms per call, r16 measured — at ~50 _spread
# call sites x 3 bench runs that probe alone was ~10 s of sweep build).
_RG_CACHE: dict[tuple[str, int, float], int] = {}


# Binary units, as Spark's JavaUtils.byteStringAsBytes reads a byte conf.
_BYTE_UNITS = {
    "": 1, "b": 1,
    "k": 1 << 10, "kb": 1 << 10,
    "m": 1 << 20, "mb": 1 << 20,
    "g": 1 << 30, "gb": 1 << 30,
    "t": 1 << 40, "tb": 1 << 40,
    "p": 1 << 50, "pb": 1 << 50,
}


def _byte_conf(spark: SparkSession, key: str, default: str) -> int:
    """A byte-size SQL conf in bytes. Raises ValueError on a value Spark
    itself would reject, rather than guessing a default."""
    raw = str(spark.conf.get(key, default))
    m = re.fullmatch(r"\s*(\d+)\s*([a-z]*)\s*", raw.lower())
    if m is None or m.group(2) not in _BYTE_UNITS:
        raise ValueError(f"{key}={raw!r} is not a byte size")
    return int(m.group(1)) * _BYTE_UNITS[m.group(2)]


def _max_partition_bytes(spark: SparkSession) -> int:
    """spark.sql.files.maxPartitionBytes in bytes (default 128 MiB)."""
    return _byte_conf(spark, "spark.sql.files.maxPartitionBytes", "128m")


def _min_partition_num(spark: SparkSession) -> int:
    """The partition count Spark aims a file scan at: minPartitionNum, else
    the leaf-node default parallelism, else the context's parallelism."""
    for key in ("spark.sql.files.minPartitionNum", "spark.sql.leafNodeDefaultParallelism"):
        raw = spark.conf.get(key, None)
        if raw is not None:
            return int(raw)
    return spark.sparkContext.defaultParallelism


def _scan_splits(
    path: str, max_part_bytes: int, open_cost: int, parallelism: int
) -> int | None:
    """Effective scan parallelism of a parquet file: Spark cannot split a
    scan below a row-group boundary, so one file's usable task count is
    capped by its row-group count (byte-range splits beyond that are
    empty) — AND by the byte-range split count Spark will actually plan,
    ceil(size / maxSplitBytes), where maxSplitBytes follows Spark's
    FilePartition.maxSplitBytes: min(maxPartitionBytes, max(openCostInBytes,
    (size + openCostInBytes) / parallelism)). None when the probe cannot
    answer (caller falls back to asking Spark)."""
    try:
        st = os.stat(path)
        key = (os.path.realpath(path), st.st_size, st.st_mtime)
        n = _RG_CACHE.get(key)
        if n is None:
            import pyarrow.parquet as pq  # noqa: PLC0415

            n = pq.ParquetFile(path).metadata.num_row_groups
            _RG_CACHE[key] = n
        per_core = (st.st_size + open_cost) // max(1, parallelism)
        max_split = max(1, min(max_part_bytes, max(open_cost, per_core)))
        byte_splits = max(1, -(-st.st_size // max_split))
        return min(n, byte_splits)
    except Exception:
        return None


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TESTDATA_TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TESTDATA_TABLES}")
    _ensure_runtime_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    dtypes = dict(df.dtypes)
    for c in _NANOS_TS_COLS.get(name, ()):
        if dtypes.get(c) == "bigint":
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif dtypes.get(c) == "timestamp_ntz":
            df = df.withColumn(c, F.to_utc_timestamp(F.col(c), "UTC"))
    # Single-file layout: the footer answers "how parallel can this scan
    # be" without a JVM round trip; _spread reads it via this attribute.
    df._ff_scan_splits = _scan_splits(
        path,
        _max_partition_bytes(spark),
        _byte_conf(spark, "spark.sql.files.openCostInBytes", "4m"),
        _min_partition_num(spark),
    )
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    wanted = names or TESTDATA_TABLES
    return {n: load_table(spark, sf_dir, n) for n in wanted}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register each table as a temp view for the SQL API."""
    for n, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(n)
