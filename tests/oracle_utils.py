"""Local mirror of the driver's t2 oracle check (__spark_entry__.py:3-7).

Runs a registered Spark query and its DuckDB SQL twin on the same
parquet fixtures, then compares row-count + column names + values
(order-insensitive: rows sorted by a canonical key). Our default is
STRICTER than a tolerant compare: exact equality (tolerance 0.0) unless
the QuerySpec declares a tolerance — that way we learn which queries
carry fp risk before the driver does.
"""

from __future__ import annotations

import datetime as dt
import heapq
import math
from dataclasses import dataclass
from decimal import Decimal

import duckdb
import numpy as np
import pandas as pd

from x8313_etl_spark.registry import QuerySpec
from x8313_etl_spark.schemas import TABLE_NAMES


def duckdb_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _canon_cell(v):
    """Canonicalize one cell for sorting/compare."""
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return None if math.isnan(f) else f
    if isinstance(v, np.integer):
        return int(v)
    if isinstance(v, (pd.Timestamp, np.datetime64)):
        ts = pd.Timestamp(v)
        return ts.floor("us").to_pydatetime()
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        return pd.Timestamp(v).floor("us").to_pydatetime()
    if isinstance(v, dt.date):
        return dt.datetime(v.year, v.month, v.day)
    if isinstance(v, np.ndarray):
        return tuple(_canon_cell(x) for x in v.tolist())
    if isinstance(v, (list, tuple)):
        return tuple(_canon_cell(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon_cell(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):  # pyspark Row (struct collected without Arrow)
        return tuple(sorted((k, _canon_cell(x)) for k, x in v.asDict().items()))
    if isinstance(v, (bytes, bytearray)):
        return bytes(v)
    if isinstance(v, np.bool_):
        return bool(v)
    return v


def canonical_rows(df: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    cols = sorted(df.columns)
    rows = [
        tuple(_canon_cell(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    ]
    rows.sort(key=lambda r: tuple((v is None, str(type(v)), str(v)) for v in r))
    return cols, rows


def _cells_equal(a, b, tol: float) -> bool:
    if a is None and b is None:
        return True
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(_cells_equal(x, y, tol) for x, y in zip(a, b))
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return False
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        if fa == fb:
            return True
        # tol is RELATIVE (scaled by magnitude, floor 1.0)
        return tol > 0 and abs(fa - fb) <= tol * max(1.0, abs(fa), abs(fb))
    return a == b


@dataclass
class CompareResult:
    name: str
    ok: bool
    detail: str = ""

    def __bool__(self) -> bool:
        return self.ok


def _assert_no_decimal(spec: QuerySpec, schema) -> None:
    """Driver-hash hygiene: decimal cells stringify differently between
    the driver's hasher and this mirror's Decimal→float canonicalization
    (the ONLY divergence the two r03 hash FAILs shared), so no registered
    query may emit a DecimalType output column. Fail here, locally,
    before the driver finds the next one."""
    from pyspark.sql.types import DecimalType

    bad = [f.name for f in schema.fields if isinstance(f.dataType, DecimalType)]
    assert not bad, (
        f"{spec.name}: decimal-typed output column(s) {bad} — cast to double "
        "in the Spark select AND the oracle SQL (see p_domain_mix)"
    )


#: DuckDB logical types whose pandas/arrow transport is NOT
#: value-identical to any Spark output type: int128 renders as float64
#: (fetchdf) or decimal128 (arrow), so a type-aware hash differs from
#: Spark's int64 even when every value is equal. The r9 verdict traced
#: both driver-red rows to exactly this (uncast DuckDB sum()).
_INT128_TYPES = ("HUGEINT", "UHUGEINT")


def oracle_int128_columns(rel) -> list[tuple[str, str]]:
    """Columns of a DuckDB relation whose type is int128 — planning
    only, nothing is executed."""
    return [
        (c, str(t))
        for c, t in zip(rel.columns, rel.types)
        if str(t).upper() in _INT128_TYPES
    ]


def _strict_dtype_mismatch(sdf: pd.DataFrame, odf: pd.DataFrame) -> str:
    """Strict-dtype gate (r9 verdict item 2): an int column on one side
    transported as float on the other means the driver's type-aware
    hash flips even when values coerce equal — the exact blind spot
    that let dq5 through pre-verification. Nulls legitimately coerce a
    nullable-int column to float64 in pandas, so a column is only
    flagged when BOTH sides are null-free (a null-free float column
    facing a null-free int column has no innocent explanation)."""
    for c in sdf.columns:
        if c not in odf.columns:
            continue  # column-name mismatch is reported downstream
        sk = sdf[c].dtype.kind
        ok_ = odf[c].dtype.kind
        if {sk, ok_} == {"f"} or sk == ok_:
            continue
        if sk in "iu" and ok_ == "f" or sk == "f" and ok_ in "iu":
            if sdf[c].notna().all() and odf[c].notna().all():
                return (
                    f"strict-dtype mismatch col {c}: spark kind={sk!r} "
                    f"oracle kind={ok_!r} with no nulls on either side — "
                    "the transports disagree on int-vs-float, which flips "
                    "the driver hash even when values coerce equal "
                    "(CAST the oracle or the Spark column so both agree)"
                )
    return ""


def compare_query(spark, spec: QuerySpec, sf_dir: str) -> CompareResult:
    out = spec.fn(spark, sf_dir)
    _assert_no_decimal(spec, out.schema)
    sdf = out.toPandas()
    if spec.oracle is None:
        ok = len(sdf) >= 0
        return CompareResult(spec.name, ok, f"rows-only: {len(sdf)} rows")
    con = duckdb_connect(sf_dir)
    try:
        rel = con.sql(spec.oracle)
        bad128 = oracle_int128_columns(rel)
        if bad128:
            return CompareResult(
                spec.name,
                False,
                f"oracle int128 column(s) {bad128}: DuckDB sum() returns "
                "HUGEINT, which every transport renders as a non-int64 "
                "class (fetchdf float64, arrow decimal128) and flips the "
                "driver value-hash — CAST(... AS BIGINT) in the oracle "
                "(r9 verdict root cause for p_rag_context_pack + dq5)",
            )
        odf = rel.fetchdf()
    finally:
        con.close()

    dtype_mismatch = _strict_dtype_mismatch(sdf, odf)
    if dtype_mismatch:
        return CompareResult(spec.name, False, dtype_mismatch)
    if len(sdf) != len(odf):
        return CompareResult(
            spec.name, False, f"row count: spark={len(sdf)} oracle={len(odf)}"
        )
    scols, srows = canonical_rows(sdf)
    ocols, orows = canonical_rows(odf)
    if scols != ocols:
        return CompareResult(
            spec.name, False, f"columns: spark={scols} oracle={ocols}"
        )
    for i, (sr, orr) in enumerate(zip(srows, orows)):
        for c, (a, b) in zip(scols, zip(sr, orr)):
            if not _cells_equal(a, b, spec.tolerance):
                return CompareResult(
                    spec.name,
                    False,
                    f"value mismatch row {i} col {c}: spark={a!r} oracle={b!r}",
                )
    return CompareResult(spec.name, True, f"{len(sdf)} rows exact")


def dijkstra(edges, seeds) -> dict:
    """Exact multi-source shortest distances over weighted directed
    ``edges`` ((src, dst, w) with w >= 0): the driver-side reference the
    Spark SSSP operators (operators/sssp.py) are checked against."""
    adj = {}
    for s, d, w in edges:
        adj.setdefault(s, []).append((d, w))
    dist = {n: 0 for n in seeds}
    pq = [(0, n) for n in dist]
    heapq.heapify(pq)
    while pq:
        dd, u = heapq.heappop(pq)
        if dd > dist[u]:
            continue
        for v, w in adj.get(u, []):
            nd = dd + w
            if nd < dist.get(v, float("inf")):
                dist[v] = nd
                heapq.heappush(pq, (nd, v))
    return dist
