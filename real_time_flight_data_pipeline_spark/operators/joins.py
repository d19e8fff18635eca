"""Join operators: decomposed disjunctive dim lookup + broadcast star join.

The reference resolves dimension ids two ways:

* routes path (J2): two independent equi-joins (by IATA, by ICAO) then
  ``COALESCE`` preference — apps/loader/load_warehouse.py:186-198;
* airline path (J3): a single LEFT JOIN with an OR predicate
  ``ON a.iata = l.iata OR (l.iata IS NULL AND a.icao = l.icao)`` —
  load_warehouse.py:215-221.

An OR predicate defeats hash joins (Spark would plan a
BroadcastNestedLoopJoin — O(n*m) compares). We therefore decompose J3 into
the J2 shape everywhere: equi-join on the primary key, equi-join on the
fallback key, coalesce with the reference's NULL-guard preserved (the
fallback arm only fires when the primary source column IS NULL). This is
exactly equivalent (SURVEY.md §7.4 item 5) and broadcast-hash-joinable.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def resolve_dim_id(
    df: DataFrame,
    dim: DataFrame,
    out_col: str,
    dim_id_col: str,
    primary: tuple[str, str],
    fallback: tuple[str, str] | None = None,
    fallback_requires_primary_null: bool = True,
    broadcast_dim: bool = True,
) -> DataFrame:
    """Attach ``out_col`` = dim id resolved by primary key, else fallback key.

    primary/fallback are (source_col, dim_col) pairs. With
    ``fallback_requires_primary_null`` (the reference's guard) the fallback
    match only applies to rows whose primary source column is NULL.
    Dims are broadcast: in a star schema the dim side is small by design.

    One id per code: the result has exactly one row per ``df`` row. The
    reference could rely on UNIQUE(iata)/UNIQUE(icao) on its dims
    (db/00_warehous.sql:77-101); our dims have no such constraint — an
    airport first seen IATA-only and later with its ICAO is two dim rows
    sharing one IATA — so an unguarded lookup join would duplicate the
    probe row. Among dim rows sharing a code, the lookup picks the row that
    also carries the other code, then the smallest id. A code that is the
    dim's id column is unique already and skips that aggregate.
    """
    d = F.broadcast(dim) if broadcast_dim else dim
    codes = [primary[1]] + ([fallback[1]] if fallback else [])

    def lookup(dim_col: str, key: str, val: str) -> DataFrame:
        m = d.filter(F.col(dim_col).isNotNull())
        if dim_col != dim_id_col:
            prefer = [F.col(c).isNull() for c in codes if c != dim_col]
            m = m.groupBy(dim_col).agg(
                F.min_by(dim_id_col, F.struct(*prefer, F.col(dim_id_col))).alias(dim_id_col)
            )
        return m.select(F.col(dim_col).alias(key), F.col(dim_id_col).alias(val))

    src_p, dim_p = primary
    prim = lookup(dim_p, "_pk", "_pid")
    out = df.join(prim, df[src_p] == prim["_pk"], "left").drop("_pk")

    if fallback is None:
        return out.withColumnRenamed("_pid", out_col)

    src_f, dim_f = fallback
    fb = lookup(dim_f, "_fk", "_fid")
    out = out.join(fb, out[src_f] == fb["_fk"], "left").drop("_fk")

    fb_applies = F.col(src_p).isNull() if fallback_requires_primary_null else F.lit(True)
    resolved = F.coalesce(
        F.col("_pid"), F.when(fb_applies, F.col("_fid"))
    ).alias(out_col)
    return out.withColumn(out_col, resolved).drop("_pid", "_fid")


def star_join(
    fact: DataFrame,
    dims: Sequence[tuple[DataFrame, str | Sequence[str], str]],
    how: str = "left",
) -> DataFrame:
    """Left star-join fact -> dims (reference J1, db/01_views.sql:79-83).

    ``dims`` entries are (dim_df, join_key(s), alias). Every dim is broadcast
    — the fact side never shuffles, which is the only plan that survives a
    100 TB fact table.
    """
    out = fact
    for dim, key, alias in dims:
        keys = [key] if isinstance(key, str) else list(key)
        out = out.join(F.broadcast(dim.alias(alias)), keys, how)
    return out
