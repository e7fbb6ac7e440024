"""Distributed triangle counting via degree-ordered edge orientation
(SURVEY.md §2.12 g3_triangle_count).

The naive triangle join builds wedges at EVERY corner — Σ deg(v)² work,
which a hub node turns quadratic. Orienting each edge from its lower
(degree, id)-ranked endpoint to the higher and building wedges only at
each triangle's lowest-ranked corner bounds total wedge volume at
O(m^1.5) (the arboricity bound): a node of out-degree d must rank below
d neighbors of degree ≥ d, so out-degrees cap at ~√(2m) even for hubs.

Orientation never changes the RESULT — any total node order enumerates
each triangle exactly once (at its unique minimum corner) — only which
join builds it. ``test_properties.py`` pins this: corner counts from
this operator equal a brute-force count on random graphs.

All three stages (rank attach, wedge build, closure probe) are equi
joins; the rank inequality stays a post-join filter, so no plan can
degenerate to a nested loop (asserted in tests/test_overlap_triangles).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

#: rank = deg << 31 | node — one bigint carrying the (degree, id) total
#: order; node ids must fit 31 bits (fixture keys are far smaller).
_RANK_SHIFT = 2147483648


def triangle_corner_counts(e: DataFrame) -> DataFrame:
    """Per-node triangle counts over an undirected simple graph.

    ``e``: canonical edge list — columns ``s1 < s2``, no duplicates.
    Returns ``(node, tri_cnt)`` for every node in ≥1 triangle.

    Both ``e`` and the oriented table feed THREE consumers each (degree
    union + rank joins; o1/o2/closing), so both are materialized: the
    caller checkpoints ``e`` (g3's edge table), and the oriented table
    is persisted here via the keyed swap-pool so repeated invocations
    reuse instead of leak.
    """
    from .cachepool import swap_persist

    deg = (
        e.select(F.col("s1").alias("node"))
        .unionAll(e.select(F.col("s2").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
        .select(
            "node", (F.col("deg") * F.lit(_RANK_SHIFT) + F.col("node")).alias("rnk")
        )
    )
    r1 = deg.select(F.col("node").alias("s1"), F.col("rnk").alias("rnk1"))
    r2 = deg.select(F.col("node").alias("s2"), F.col("rnk").alias("rnk2"))
    er = e.join(r1, "s1").join(r2, "s2")
    oriented = er.select(
        F.when(F.col("rnk1") < F.col("rnk2"), F.col("s1"))
        .otherwise(F.col("s2"))
        .alias("src"),
        F.when(F.col("rnk1") < F.col("rnk2"), F.col("s2"))
        .otherwise(F.col("s1"))
        .alias("dst"),
        F.greatest("rnk1", "rnk2").alias("rdst"),
    )
    oriented = swap_persist("triangles.oriented", oriented)
    o1 = oriented.select("src", F.col("dst").alias("w1"), F.col("rdst").alias("rw1"))
    o2 = oriented.select("src", F.col("dst").alias("w2"), F.col("rdst").alias("rw2"))
    wedges = (
        o1.join(o2, ["src"])
        .filter(F.col("rw1") < F.col("rw2"))
        .select(F.col("src").alias("apex"), "w1", "w2")
    )
    closing = oriented.select(F.col("src").alias("w1"), F.col("dst").alias("w2"))
    tri = wedges.join(closing, ["w1", "w2"])
    corners = (
        tri.select(F.col("apex").alias("node"))
        .unionAll(tri.select(F.col("w1").alias("node")))
        .unionAll(tri.select(F.col("w2").alias("node")))
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("bigint").alias("tri_cnt")
    )
