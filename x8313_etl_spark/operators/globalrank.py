"""Two-phase global rank — total-order row numbering with NO all-to-one
stage (SURVEY.md §2.6; the o4 terasort rank, factored for reuse).

A naive ``row_number() OVER (ORDER BY ...)`` funnels every row through
one task — the canonical 100 TB failure (the shuffle audit flags it as
``Exchange SinglePartition``). The two-phase form:

1. range-exchange on the sort expressions (Spark's sampled boundaries
   decide only WHERE rows sit, never the rank — RangePartitioning
   orders partition ids by key range, so pid order == key order) and
   rank locally per partition;
2. aggregate per-partition row counts (bounded by the partition count
   at any data size), turn them into cumulative offsets with the one
   permissible single-partition window — over that bounded count
   table — and broadcast them back: global rank = offset + local rank.

The ranked intermediate persists via the keyed swap-pool because both
the counts branch and the rank branch consume it (pid must be assigned
once, not re-derived per branch).
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

from .cachepool import swap_persist


def with_global_rank(
    df: DataFrame,
    order: Sequence[Column],
    partitions: int,
    key: str,
    rank_col: str = "rn",
    count_col: str | None = None,
) -> DataFrame:
    """Add a 0-based ``rank_col`` over the TOTAL order ``order``.

    ``order`` must break all ties (include a unique key) or ranks are
    nondeterministic. ``key`` names the swap-pool slot (unique per call
    site). ``count_col``, if given, adds the total row count to every
    row (broadcast-joined, no extra pass over ``df``).
    """
    reserved = {"__pid", "__lrn", "__off", "__cnt", rank_col}
    if count_col is not None:
        reserved.add(count_col)
    clash = reserved.intersection(df.columns)
    if clash:
        # withColumn would silently REPLACE these and the final drop
        # would delete caller data — fail loudly instead
        raise ValueError(f"with_global_rank: input already has columns {sorted(clash)}")
    r = df.repartitionByRange(partitions, *order).withColumn(
        "__pid", F.spark_partition_id()
    )
    wloc = Window.partitionBy("__pid").orderBy(*order)
    # two consumers: the per-partition count table and the offset join
    r = swap_persist(key, r.withColumn("__lrn", F.row_number().over(wloc) - 1))
    counts = r.groupBy("__pid").agg(F.count(F.lit(1)).alias("__c"))
    woff = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "__pid",
        F.coalesce(F.sum("__c").over(woff), F.lit(0)).alias("__off"),
        F.sum("__c")
        .over(
            Window.orderBy("__pid").rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        )
        .alias("__cnt"),
    )
    out = (
        r.join(F.broadcast(offsets), "__pid")
        .withColumn(rank_col, F.col("__off") + F.col("__lrn"))
    )
    if count_col is not None:
        out = out.withColumn(count_col, F.col("__cnt"))
    return out.drop("__pid", "__lrn", "__off", "__cnt")
