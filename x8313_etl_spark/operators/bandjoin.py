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
cluster). The drop is opt-out (``max_bucket_size=None``) and observable
(``log_dropped`` / ``hot_buckets``), never silent-by-design.

When the hot rows must NOT be dropped (a template family that is
genuinely near-duplicate, not noise), ``salted_band_self_join`` keeps
full recall instead: hot buckets are split into K salt blocks and
paired via triangular (block_i ≤ block_j) join keys, so the B²
candidate pairs still exist — full recall is exactly B² work, there is
no cheaper complete answer — but land spread over K(K+1)/2 join tasks
of ≤ block² pairs each instead of one degenerate straggler task.

``hot_buckets`` is the one definition of "over the cap": the guard
(``drop_hot_buckets``, which the MinHash batch-vs-index probe and the
streaming sink call directly) and the salted join both read it.

The exclusion is a broadcast ANTI-join against the HOT bucket set only
— never a join against the full size table (which has ~one row per
distinct bucket and must not be assumed broadcastable). The hot set is
provably tiny by pigeonhole: every hot bucket holds > max_bucket_size
rows, so there are at most N / max_bucket_size of them no matter how
adversarial the corpus — the broadcast is safe at any scale, and the
banded table itself never takes an extra shuffle for the guard.
"""

from __future__ import annotations

import logging
from collections.abc import Sequence

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

logger = logging.getLogger(__name__)

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
    log_dropped: bool = False,
    log_label: str = "band-join",
) -> DataFrame:
    """Candidate pairs from a banded table, hot buckets excluded.

    ``banded``: one row per (row, band) with the bucket key in
    ``bucket_cols``. Returns distinct pairs ``(<stem>_a, <stem>_b,
    carry...)`` with ``<stem>_a < <stem>_b``, where ``<stem>`` is
    ``id_col`` less a trailing ``_id``; each ``carry`` column rides
    along from its own side as ``<c>_a``/``<c>_b`` (it must be
    functionally dependent on ``id_col``).

    ``log_dropped=True`` eagerly counts the excluded buckets (one small
    job over the size aggregate — callers that persist the banded stage
    pay ~nothing) and WARNs with the worst offenders; default is lazy so
    registered queries stay pure plan builders.
    """
    if log_dropped and max_bucket_size is not None:
        top = (
            hot_buckets(banded, bucket_cols, max_bucket_size)
            .orderBy(F.col("bucket_size").desc())
            .limit(5)
            .collect()
        )
        if top:
            logger.warning(
                "%s: dropping buckets over max_bucket_size=%d "
                "(worst: %s) — near-dup recall is reduced for rows "
                "confined to these buckets",
                log_label,
                max_bucket_size,
                [(tuple(r[c] for c in bucket_cols), r["bucket_size"]) for r in top],
            )
    banded = drop_hot_buckets(banded, bucket_cols, max_bucket_size)
    return _pair_self_join(banded, id_col, bucket_cols, carry)


def _stem(id_col):
    return id_col[:-3] if id_col.endswith("_id") else id_col


def _pair_cols(id_col, carry):
    stem = _stem(id_col)
    return [
        F.col(f"a.{id_col}").alias(f"{stem}_a"),
        F.col(f"b.{id_col}").alias(f"{stem}_b"),
        *[F.col(f"a.{c}").alias(f"{c}_a") for c in carry],
        *[F.col(f"b.{c}").alias(f"{c}_b") for c in carry],
    ]


def _pair_self_join(banded, id_col, bucket_cols, carry, dedup=True):
    """``dedup=False`` skips the per-branch distinct — callers that
    union this output with another pair source and distinct THAT must
    not pay three shuffle+dedup rounds where one suffices."""
    a, b = banded.alias("a"), banded.alias("b")
    pairs = a.join(
        b,
        on=[
            *[F.col(f"a.{c}") == F.col(f"b.{c}") for c in bucket_cols],
            F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
        ],
    ).select(*_pair_cols(id_col, carry))
    return pairs.distinct() if dedup else pairs


_SALT_I, _SALT_J = "__x8313_salt_i", "__x8313_salt_j"
_NBLK = "__x8313_n_blocks"


def salted_band_self_join(
    banded: DataFrame,
    id_col: str,
    bucket_cols: Sequence[str],
    *,
    max_bucket_size: int = DEFAULT_MAX_BUCKET_SIZE,
    salt_block: int = 1_024,
    carry: Sequence[str] = (),
) -> DataFrame:
    """RECALL-COMPLETE variant of ``guarded_band_self_join``: hot
    buckets are salted (split + block-pair join) instead of dropped.

    Rows in buckets ≤ ``max_bucket_size`` pair exactly as in the guarded
    join. Rows in hot buckets get a deterministic salt block
    ``pmod(xxhash64(id), K)`` with ``K = ceil(bucket_size /
    salt_block)``, and pairs are produced through triangular join keys
    ``(bucket, i, j)`` with ``i ≤ j``: the a-side replicates each row to
    blocks ``j ∈ [salt .. K-1]``, the b-side to blocks ``i ∈ [0 ..
    salt]``, so every (row_a, row_b) pair of the bucket meets in exactly
    the one task keyed by their ordered salt pair. Per-task candidate
    volume is ≤ ``salt_block²`` no matter how big the bucket; the full
    B² candidate work still happens — full recall IS B² — but as
    K(K+1)/2 parallel tasks instead of one straggler.

    The hot-bucket set (with sizes) is broadcast — ≤ N/max_bucket_size
    rows by pigeonhole, same argument as the guard — so the only
    shuffles are the two pair joins themselves. Replication factor on
    the hot subset is (K+1)/2 per side, i.e. memory-bounded by
    ``bucket_size²/salt_block`` extra rows, which is the candidate
    volume divided by salt_block — strictly cheaper than the pairs it
    produces.
    """
    hot = hot_buckets(banded, bucket_cols, max_bucket_size).select(
        *bucket_cols,
        F.ceil(F.col("bucket_size") / F.lit(salt_block)).cast("int").alias(_NBLK),
    )
    tagged = banded.join(F.broadcast(hot), list(bucket_cols), "left")
    cold = tagged.filter(F.col(_NBLK).isNull()).drop(_NBLK)
    # no distinct on either branch: the one distinct after the union
    # below collapses cross-band duplicates AND diagonal orientations
    cold_pairs = _pair_self_join(cold, id_col, bucket_cols, carry, dedup=False)

    # Triangular block pairing. Role assignment in task (i, j) follows
    # SALT order (a-side holds the block-i rows, b-side the block-j
    # rows), which need not agree with id order — so the hot join
    # cannot use an `id_a < id_b` join condition (it would drop every
    # pair whose smaller id landed in the larger salt block). Instead it
    # joins on id_a != id_b and NORMALIZES the emitted pair (id and
    # carry columns swap together); diagonal (i == i) tasks produce both
    # orientations, which normalization + distinct collapse.
    hotrows = tagged.filter(F.col(_NBLK).isNotNull()).withColumn(
        "__salt", F.pmod(F.xxhash64(F.col(id_col)), F.col(_NBLK)).cast("int")
    )
    a_side = (
        hotrows.withColumn(
            _SALT_J, F.explode(F.sequence(F.col("__salt"), F.col(_NBLK) - 1))
        )
        .withColumn(_SALT_I, F.col("__salt"))
        .drop("__salt", _NBLK)
    )
    b_side = (
        hotrows.withColumn(
            _SALT_I, F.explode(F.sequence(F.lit(0), F.col("__salt")))
        )
        .withColumn(_SALT_J, F.col("__salt"))
        .drop("__salt", _NBLK)
    )
    hot_pairs = _pair_join_normalized(
        a_side,
        b_side,
        id_col,
        [*bucket_cols, _SALT_I, _SALT_J],
        carry,
    )
    return cold_pairs.unionByName(hot_pairs).distinct()


def _pair_join_normalized(a_df, b_df, id_col, key_cols, carry):
    """Join a_df×b_df on key equality + id inequality, emitting each
    pair id-ordered regardless of which side it arrived on (carry
    columns swap together with their id). No distinct: the caller
    distincts the combined output."""
    stem = _stem(id_col)
    a, b = a_df.alias("a"), b_df.alias("b")
    lt = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")

    def pick(col: str, low_side: bool):
        first, second = ("a", "b") if low_side else ("b", "a")
        return F.when(lt, F.col(f"{first}.{col}")).otherwise(
            F.col(f"{second}.{col}")
        )

    cols = [
        pick(id_col, True).alias(f"{stem}_a"),
        pick(id_col, False).alias(f"{stem}_b"),
        *[pick(c, True).alias(f"{c}_a") for c in carry],
        *[pick(c, False).alias(f"{c}_b") for c in carry],
    ]
    return a.join(
        b,
        on=[
            *[F.col(f"a.{c}") == F.col(f"b.{c}") for c in key_cols],
            F.col(f"a.{id_col}") != F.col(f"b.{id_col}"),
        ],
    ).select(*cols)
