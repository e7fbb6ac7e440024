"""Vector math over ArrayType(Float/Double) columns (SURVEY.md §2.10 L3/L4).

Pure Column expressions — higher-order functions (zip_with/aggregate),
no UDFs, no Python round-trips.

Determinism WITHOUT decimals: the decimal policy in functions/numeric.py
exists because cross-ROW aggregation order varies with shuffle
partitioning. A within-row array fold has a FIXED left-to-right order in
both engines, and per-element double multiply/add are IEEE-exact given
identical inputs — so a plain double fold is bit-identical to a DuckDB
``list_reduce`` twin (verified empirically on the fixture vectors: 0/500
mismatches). Plain doubles are ~5× cheaper than decimal accumulation in
the interpreted higher-order-function path, which matters because
similarity search evaluates dot() per candidate pair.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column


def dot(a: Column, b: Column) -> Column:
    """Dot product as a sequential double fold → double.

    Seeded with 0.0: 0.0 + p1 == p1 exactly, so this equals DuckDB's
    seedless list_reduce fold.
    """
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """cos(a,b) = dot/(|a||b|) — all IEEE double ops, cross-engine exact.

    PERF: when scoring many pairs, precompute norms once per vector
    (``withColumn("vnorm", norm(...))`` before the join) instead of
    calling this per pair — see queries/llm.py l3/l4.
    """
    return dot(a, b) / (norm(a) * norm(b))


# DuckDB SQL twins, kept adjacent so the two sides can never drift.
# {a}/{b} are SQL expressions for list columns. list_reduce is the
# explicitly-sequential fold matching Spark's aggregate().
SQL_DOT = (
    "list_reduce(list_transform(list_zip({a}, {b}), "
    "p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), (acc, x) -> acc + x)"
)


def sql_dot(a: str, b: str) -> str:
    return SQL_DOT.format(a=a, b=b)


def sql_norm(a: str) -> str:
    return f"sqrt({sql_dot(a, a)})"


def sql_cosine(a: str, b: str) -> str:
    return f"({sql_dot(a, b)} / ({sql_norm(a)} * {sql_norm(b)}))"
