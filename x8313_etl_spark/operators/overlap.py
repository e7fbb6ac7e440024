"""Equi-key-free interval-overlap join via temporal blocking
(SURVEY.md §2.12 j14_interval_overlap_join).

Overlap joins with no equi conjunct plan as nested loops — |A|×|B|
predicate evaluations. Blocking restores an equi key: every interval
explodes into the fixed-width blocks it covers, candidates meet through
an equi join on the block id, the exact closed-interval predicate
filters within the block, and each surviving pair is emitted EXACTLY
once — at the block containing ``greatest(starts)``, which any
overlapping pair covers on both sides (that instant lies inside both
closed intervals). Dedup is therefore a filter, not a distinct shuffle.

Block width is the operator's dial: candidate volume is
Σ_blocks |A_blk|·|B_blk| (co-occurrence per block, not corpus²), and
per-interval fanout is duration/width + 1 — pick the width near the
median interval length so each interval covers O(1) blocks.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def interval_overlap_join(a: DataFrame, b: DataFrame, block_width: int) -> DataFrame:
    """All (a, b) row pairs whose closed integer intervals overlap:
    ``a``'s interval is [s0, s1], ``b``'s is [i0, i1].

    Interval bounds are non-negative integers (epoch µs in j14); the
    floor divisions below rely on that sign. Output: all columns of
    ``a`` then ``b`` (names must not collide), one row per overlapping
    pair, no duplicates.
    """
    blk = lambda c: F.expr(f"{c} div {block_width}")  # noqa: E731
    ab = a.withColumn("__blk", F.explode(F.sequence(blk("s0"), blk("s1"))))
    bb = b.withColumn("__blk", F.explode(F.sequence(blk("i0"), blk("i1"))))
    return (
        ab.join(bb, "__blk")
        .filter(
            (F.col("s0") <= F.col("i1"))
            & (F.col("i0") <= F.col("s1"))
            & (F.col("__blk") == F.expr(f"greatest(s0, i0) div {block_width}"))
        )
        .drop("__blk")
    )
