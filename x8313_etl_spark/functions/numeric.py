"""Deterministic numeric aggregation (the fp-determinism policy).

Problem (SURVEY.md §7 risk #1): the driver compares Spark results to a
DuckDB oracle with an order-insensitive *value hash*. Floating-point
sums are order-dependent, and neither engine guarantees a summation
order — so ``SUM(double)`` can differ in low-order bits between Spark
and DuckDB (and even between Spark runs, since shuffle partial-agg
order varies).

Policy: monetary/quantity aggregates go through fixed-point decimal.

    dsum(x)  = CAST(SUM(CAST(x AS DECIMAL(25,6))) AS DOUBLE)
    davg(x)  = dsum(x) / COUNT(*)        (one double division at the end)

Decimal addition is exact and associative → the sum is identical no
matter the partitioning/order, in both engines; the final decimal →
double conversion is IEEE round-to-nearest on an identical exact value.
The double → decimal(…,6) cast is cross-engine deterministic ONLY when
(a) |value| ≲ 1e8, so ulp(value) ≪ 1e-6 — Spark casts via the
shortest-repr string (BigDecimal.valueOf) while DuckDB rounds the exact
binary expansion, and once ulp approaches the grid these two diverge
per element; and (b) the value's exact rational is not ON a
half-boundary of the 1e-6 grid. Fixture money columns are 2-dp
rationals, so raw values and 2dp×2dp products are grid-safe. Corollary:
when rescaling to satisfy (a), scale by a power of TEN, never two —
dividing a 2-dp rational by 2^k parks ~1/2^(k-4) of rows exactly on
half-boundaries, where the engines' tie-breaking differs (discovered
empirically; see a8_statistical_aggs).

Cost: decimal partial aggregation is ~2x a double sum. We pay it only
in oracle-checked queries; it is still map-side partial-aggregated and
codegen'd, and at 100 TB the scan, not the add, dominates. For
non-verified production runs callers can use plain ``F.sum``.

SQL-side twins are generated by ``sql_dsum``/``sql_davg`` so the two
sides can never drift apart.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

#: 25 integer+fraction digits, 6 fractional — headroom for sums of 1e9
#: values of magnitude 1e7 (100-TB-scale facts) without overflow.
DEC = "decimal(25,6)"


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def dsum(c: Column | str) -> Column:
    """Order-insensitive, cross-engine-exact sum of a double column/expr."""
    return F.sum(_col(c).cast(DEC)).cast("double")


def davg(c: Column | str) -> Column:
    """Order-insensitive average: exact decimal sum, one double division."""
    return F.sum(_col(c).cast(DEC)).cast("double") / F.count(F.lit(1))


def sql_dsum(expr: str) -> str:
    return f"CAST(SUM(CAST(({expr}) AS DECIMAL(25,6))) AS DOUBLE)"


def sql_davg(expr: str) -> str:
    return f"(CAST(SUM(CAST(({expr}) AS DECIMAL(25,6))) AS DOUBLE) / COUNT(*))"


def dsum_cents(c: Column | str) -> Column:
    """Exact sum for a column known to sit on a 1/100 grid (2-dp money,
    integer-ish quantities): scale to int64 cents, sum longs, divide once.

    ~2× cheaper than the decimal path (pure long adds in the hash agg)
    and equally order-independent. ROUND absorbs the ≤1-ulp error of
    x*100 identically in both engines (values are never near .5 after
    a grid-true scale). Valid while the group's scaled sum < 2^53
    (~$90T in cents) — far beyond any fixture or 100 TB group here; use
    dsum() when in doubt.
    """
    scaled = F.round(_col(c) * 100, 0).cast("bigint")
    return F.sum(scaled).cast("double") / F.lit(100.0)


def sql_dsum_cents(expr: str) -> str:
    return f"(CAST(SUM(CAST(ROUND(({expr}) * 100) AS BIGINT)) AS DOUBLE) / 100.0)"
