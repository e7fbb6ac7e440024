"""Gap-based session numbering — the shared core behind w8_sessionize,
t3's batch twin, and j14's session/incident interval build.

One window spec carries both passes (the lag gap test and the running
sum of break flags), so Catalyst evaluates them in a single Window exec
over a single shuffle on the partition key — the plan property
w8_sessionize documents. The gap test runs in integer microseconds
(exact in any engine); a row opens a new session when its gap to the
previous row in the partition exceeds ``gap_us`` (strict >) or it is
the partition's first row.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def with_session_seq(
    df: DataFrame, partition_cols: Sequence[str], gap_us: int
) -> DataFrame:
    """Add a bigint ``session_seq`` (1-based per partition) to ``df``.

    ``df.um`` must be an integer-microseconds column; ties in it are
    session-equivalent (gap 0), so ordering among tied rows cannot
    change the numbering.
    """
    w = Window.partitionBy(*partition_cols).orderBy("um")
    gap = F.col("um") - F.lag("um").over(w)
    brk = F.when(gap.isNull() | (gap > gap_us), 1).otherwise(0)
    return (
        df.withColumn("__brk", brk)
        .withColumn(
            "session_seq",
            F.sum("__brk")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("bigint"),
        )
        .drop("__brk")
    )
