"""Guarded LSH band-bucket self-join (shared by L2 MinHash, SimHash and
hyperplane-LSH near-dup — SURVEY.md §2.10/§2.12).

Every banded-LSH pipeline here ends the same way: an exploded
``(id, band, key)`` table self-joined on the bucket columns to produce
candidate pairs. A bucket holding B rows emits B² candidates, so one
degenerate bucket (boilerplate text hashing to a common band; a
zero-vector band) turns the O(candidates) design back into O(n²).

``guarded_band_self_join`` adds the ``max_bucket_size`` guard promised
in operators/minhash.py's scale notes: bucket sizes are counted with a
map-side-combining aggregation (skew-safe — partial counts merge before
the hot key concentrates anywhere), buckets above the cap are excluded
from pairing, and callers can surface exactly what was skipped.

Dropping a mega-bucket trades recall for a hard upper bound on shuffle
fan-out — the standard LSH-at-scale posture (a bucket shared by 10⁶
documents carries ~no signal; its 10¹² candidate pairs would stall any
cluster). The drop is opt-out (``max_bucket_size=None``) and
inspectable (``hot_buckets`` lists what is over the cap), never
silent-by-design.

``hot_buckets`` is the one definition of "over the cap": the guard
(``drop_hot_buckets``, which the MinHash batch-vs-index probe and the
streaming sink call directly) reads it.

The exclusion is a broadcast ANTI-join against the HOT bucket set only
— never a join against the full size table (which has ~one row per
distinct bucket and must not be assumed broadcastable). The hot set is
provably tiny by pigeonhole: every hot bucket holds > max_bucket_size
rows, so there are at most N / max_bucket_size of them no matter how
adversarial the corpus — the broadcast is safe at any scale, and the
banded table itself never takes an extra shuffle for the guard.
"""

from __future__ import annotations

from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

#: Default bucket cap. Big enough that honest near-dup clusters (even a
#: thousand-document template family) pair exhaustively; small enough
#: that one bucket can contribute at most ~25M candidate pairs.
DEFAULT_MAX_BUCKET_SIZE = 5_000

def hot_buckets(
    banded: DataFrame, bucket_cols: Sequence[str], max_bucket_size: int
) -> DataFrame:
    """Buckets exceeding the cap: (*bucket_cols, bucket_size). Lazy —
    callers decide whether inspecting it is worth a job."""
    return (
        banded.groupBy(*bucket_cols)
        .agg(F.count(F.lit(1)).alias("bucket_size"))
        .filter(F.col("bucket_size") > max_bucket_size)
    )


def drop_hot_buckets(
    banded: DataFrame, bucket_cols: Sequence[str], max_bucket_size: int | None
) -> DataFrame:
    """``banded`` without the rows of over-cap buckets: a broadcast
    anti-join against ``hot_buckets`` (≤ N/max_bucket_size rows by
    pigeonhole → always broadcastable). ``None`` returns ``banded``
    unchanged."""
    if max_bucket_size is None:
        return banded
    hot = hot_buckets(banded, bucket_cols, max_bucket_size).select(*bucket_cols)
    return banded.join(F.broadcast(hot), list(bucket_cols), "left_anti")


def guarded_band_self_join(
    banded: DataFrame,
    id_col: str,
    bucket_cols: Sequence[str],
    *,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    carry: Sequence[str] = (),
) -> DataFrame:
    """Candidate pairs from a banded table, hot buckets excluded.

    ``banded``: one row per (row, band) with the bucket key in
    ``bucket_cols``. Returns distinct pairs ``(<stem>_a, <stem>_b,
    carry...)`` with ``<stem>_a < <stem>_b``, where ``<stem>`` is
    ``id_col`` less a trailing ``_id``; each ``carry`` column rides
    along from its own side as ``<c>_a``/``<c>_b`` (it must be
    functionally dependent on ``id_col``). Lazy: building it runs no
    job.
    """
    banded = drop_hot_buckets(banded, bucket_cols, max_bucket_size)
    stem = id_col[:-3] if id_col.endswith("_id") else id_col
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(
            b,
            on=[
                *[F.col(f"a.{c}") == F.col(f"b.{c}") for c in bucket_cols],
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias(f"{stem}_a"),
            F.col(f"b.{id_col}").alias(f"{stem}_b"),
            *[F.col(f"a.{c}").alias(f"{c}_a") for c in carry],
            *[F.col(f"b.{c}").alias(f"{c}_b") for c in carry],
        )
        .distinct()
    )
