"""load_table type-normalization contract.

The testdata writes events.ts as parquet TIMESTAMP(NANOS). Spark runtimes
disagree on how that arrives (bigint under <=3.x nanosAsLong, TIMESTAMP_NTZ
under 4.x which ignores that conf); load_table must always hand callers a
zoned TIMESTAMP truncated to micros so windowing, unix_micros, and
withWatermark all work and DuckDB oracle parity holds. Pinning this here
means the next Spark bump can't silently regress it (r4's failure mode).

Also pinned: the footer split probe that load_table attaches follows
Spark's FilePartition.maxSplitBytes, and byte-size confs either parse the
way Spark parses them or raise.
"""

from __future__ import annotations

import os
from types import SimpleNamespace

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from real_time_flight_data_pipeline_spark.sources.parquet import (
    _max_partition_bytes,
    _scan_splits,
    load_table,
)

from .conftest import SF_CORRECT


def test_events_ts_is_zoned_timestamp(spark):
    dtypes = dict(load_table(spark, SF_CORRECT, "events").dtypes)
    assert dtypes["ts"] == "timestamp", dtypes


def test_events_ts_survives_unix_micros_and_watermark(spark):
    from pyspark.sql import functions as F

    ev = load_table(spark, SF_CORRECT, "events")
    # unix_micros requires TIMESTAMP (what killed sessionize_events in r4)
    ev.select(F.unix_micros("ts").alias("us")).limit(1).collect()
    # withWatermark requires TIMESTAMP (what killed the streaming tests)
    ev.withWatermark("ts", "1 hour").limit(1).collect()


def _conf_session(values: dict[str, str]):
    """Stand-in session whose conf returns ``values`` — Spark rejects a
    malformed byte conf at set time, so a real session cannot hold one."""
    return SimpleNamespace(conf=SimpleNamespace(get=lambda k, d=None: values.get(k, d)))


@pytest.mark.parametrize(
    "raw, expected",
    [
        ("134217728", 128 << 20),
        ("134217728b", 128 << 20),
        ("64k", 64 << 10),
        ("128MB", 128 << 20),
        ("1g", 1 << 30),
        ("2t", 2 << 40),
        ("1tb", 1 << 40),
        ("1p", 1 << 50),
        ("3pb", 3 << 50),
    ],
)
def test_max_partition_bytes_suffixes(raw, expected):
    spark = _conf_session({"spark.sql.files.maxPartitionBytes": raw})
    assert _max_partition_bytes(spark) == expected


@pytest.mark.parametrize("raw", ["banana", "12x", "1.5g", "", "-1m", "m"])
def test_max_partition_bytes_rejects_unparseable(raw):
    spark = _conf_session({"spark.sql.files.maxPartitionBytes": raw})
    with pytest.raises(ValueError):
        _max_partition_bytes(spark)


def _row_group_file(tmp_path, row_groups: int) -> str:
    path = str(tmp_path / f"rg{row_groups}.parquet")
    pq.write_table(
        pa.table({"x": list(range(row_groups * 1000))}), path, row_group_size=1000
    )
    assert pq.ParquetFile(path).metadata.num_row_groups == row_groups
    return path


@pytest.mark.parametrize(
    "row_groups, max_part, open_cost, parallelism, expected",
    [
        # single row group: one task whatever the byte split
        (1, 128 << 20, 4 << 20, 4, 1),
        (1, 128 << 20, 1, 8, 1),
        # Spark defaults on a small file: openCostInBytes dominates -> 1
        (8, 128 << 20, 4 << 20, 4, 1),
        # size / parallelism sets the split, far below maxPartitionBytes
        (8, 128 << 20, 1, 2, 2),
        # maxPartitionBytes caps the split ("size//3 + 1" -> 3 byte splits)
        (8, "third", 1, 2, 3),
        # more byte splits than row groups: capped at the row-group count
        (2, 128 << 20, 1, 8, 2),
    ],
)
def test_scan_splits_follow_max_split_bytes(
    tmp_path, row_groups, max_part, open_cost, parallelism, expected
):
    path = _row_group_file(tmp_path, row_groups)
    if max_part == "third":
        max_part = os.path.getsize(path) // 3 + 1
    assert _scan_splits(path, max_part, open_cost, parallelism) == expected


def test_testdata_tables_report_one_split(spark):
    # Single-row-group files: the spread helpers' input is one scan task.
    for name in ("lineitem", "orders", "events"):
        assert load_table(spark, SF_CORRECT, name)._ff_scan_splits == 1
