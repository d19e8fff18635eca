"""Warehouse-integrity regressions: non-unique dim natural keys must never
duplicate fact rows, NULL merge keys must still match, ANSI-mode date parse
must not abort the batch, and versioned tables must not grow without bound.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from real_time_flight_data_pipeline_spark.operators.joins import resolve_dim_id
from real_time_flight_data_pipeline_spark.operators.merge import (
    MergePolicy,
    merge_upsert,
)
from real_time_flight_data_pipeline_spark.streaming.pipeline import (
    FlightWarehouse,
    ParquetTable,
    normalize_flight_stream,
    warehouse_load,
)

from .test_streaming import NOW, _rec, _wire_df


def test_shared_iata_across_dim_rows_keeps_fact_grain(spark, tmp_path):
    """An airport first seen IATA-only then later with an ICAO becomes two dim
    rows sharing one IATA; an airline seen with and without its IATA becomes
    two rows sharing one ICAO. Fact resolution must stay one row per key."""
    wh = FlightWarehouse(spark, str(tmp_path / "wh"))
    # batch 1: LGW known IATA-only; airline XX/XXX fully known
    b1 = _wire_df(
        spark,
        [_rec("A1", airline=("XX", "XXX", "Xair"), dep=("Gatwick", "LGW", None))],
    )
    warehouse_load(wh, normalize_flight_stream(b1, NOW), "timestamp'2025-08-22 00:00:01'")
    # batch 2: LGW re-seen WITH its ICAO (new icao#-keyed dim row, same iata);
    # airline re-seen ICAO-only (new icao-carrying dim row sharing icao XXX)
    b2 = _wire_df(
        spark,
        [_rec("A2", airline=(None, "XXX", None), dep=("Gatwick", "LGW", "EGKK"))],
    )
    warehouse_load(wh, normalize_flight_stream(b2, NOW), "timestamp'2025-08-22 00:00:02'")
    # precondition: the ambiguity actually exists in the dims
    assert wh.airport.read().filter(F.col("iata") == "LGW").count() == 2
    assert wh.airline.read().filter(F.col("icao") == "XXX").count() == 2

    # batch 3: a NEW flight keyed only by the ambiguous codes
    b3 = _wire_df(
        spark,
        [_rec("A3", airline=(None, "XXX", None), dep=("Gatwick", "LGW", None))],
    )
    warehouse_load(wh, normalize_flight_stream(b3, NOW), "timestamp'2025-08-22 00:00:03'")

    fact = wh.fact.read()
    keys = [r["flight_key"] for r in fact.collect()]
    assert sorted(keys) == ["A1", "A2", "A3"]  # one row per key, no dup blowup
    a3 = fact.filter(F.col("flight_key") == "A3").collect()[0]
    assert a3["airline_id"] is not None and a3["route_id"] is not None


def test_resolve_dim_id_one_id_per_shared_code(spark):
    """One IATA on two dim rows (ICAO NULL on one, set on the other): the
    lookup must keep the probe grain and pick the row carrying the ICAO,
    even though its id is not the smallest."""
    dim = spark.createDataFrame(
        [(1, "LGW", None), (7, "LGW", "EGKK")],
        "airport_id long, iata string, icao string",
    )
    probe = spark.createDataFrame(
        [("F1", "LGW", None), ("F2", None, "EGKK")],
        "flight_key string, dep_iata string, dep_icao string",
    )
    out = resolve_dim_id(
        probe,
        dim,
        out_col="dep_airport_id",
        dim_id_col="airport_id",
        primary=("dep_iata", "iata"),
        fallback=("dep_icao", "icao"),
    ).collect()
    assert sorted((r["flight_key"], r["dep_airport_id"]) for r in out) == [
        ("F1", 7),
        ("F2", 7),
    ]


def test_merge_upsert_null_key_rows_match(spark):
    """eqNullSafe join + struct presence markers: a NULL-key source row must
    update the NULL-key target row, not be silently discarded."""
    schema = T.StructType(
        [T.StructField("k", T.StringType()), T.StructField("v", T.LongType())]
    )
    target = spark.createDataFrame([(None, 1), ("a", 10)], schema)
    source = spark.createDataFrame([(None, 2), ("b", 20)], schema)
    out = merge_upsert(target, source, keys=["k"], policies={}, default=MergePolicy.OVERWRITE)
    got = {r["k"]: r["v"] for r in out.collect()}
    assert got == {None: 2, "a": 10, "b": 20}


def test_malformed_flight_date_nulls_not_crash(spark):
    """ANSI mode stays on; a free-form bad date must parse to NULL (P10 policy)."""
    bad = _rec("B1")
    bad["flight_date"] = "21st of August"
    out = normalize_flight_stream(_wire_df(spark, [bad]), NOW).collect()
    assert len(out) == 1 and out[0]["flight_date"] is None


def test_parquet_table_vacuums_old_versions(spark, tmp_path):
    schema = T.StructType([T.StructField("x", T.LongType())])
    tbl = ParquetTable(spark, str(tmp_path / "t"), schema)
    for i in range(4):
        tbl.overwrite(spark.createDataFrame([(i,)], schema))
    versions = [d for d in os.listdir(tbl.path) if d.startswith("v_")]
    assert len(versions) == 2  # current + one grace version
    assert tbl.read().collect()[0]["x"] == 3
