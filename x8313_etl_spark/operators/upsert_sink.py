"""foreachBatch MERGE sink: maintain a keyed state table from a stream.

The production pattern when the sink has no native upsert (plain
parquet/object storage): every micro-batch pre-aggregates a per-key
delta, then full-outer-merges it into a copy-on-write state table.
Used by t15_foreach_batch_upsert (queries/streaming_q.py); kept as an
operator so the exactly-once replay contract is unit-testable without
running a stream (tests/test_streaming.py::test_t15_replay_is_idempotent).

Correctness requirements on the merged quantities (the caller's
aggregate spec must satisfy both — t15's docstring spells out why its
count/decimal-sum/max-struct columns do):

1. **Monoid per column** — cross-batch combination must be associative
   and commutative, because micro-batch boundaries are not part of the
   semantics (a batch-split-proof final state is what lets a batch twin
   be the oracle).
2. **Idempotent per epoch** — a replayed batch_id (driver crash between
   sink commit and checkpoint commit → Spark re-delivers the epoch)
   must not double-apply. Achieved structurally: state version
   ``v{batch_id}`` commits via write-to-temp + atomic rename; a replay
   finds its version directory already present and skips.

Operational contract: the idempotency token is the batch_id, which is
only meaningful relative to ONE checkpoint lineage. The checkpoint
directory and state_root must be retained or deleted TOGETHER — keeping
the state_root while resetting the checkpoint makes the re-delivered
epochs 0..N look like replays (nothing applies, stale state is served).
Reprocessing from scratch = delete both.

Scale: the merge is one state∪delta shuffle on the key per batch and a
copy-on-write rewrite of the whole state — O(state) written per epoch,
unlike operators/snapshots.py apply_cdc, which is merge-on-read and
writes O(change). State never transits the driver, and the next epoch
reads it under the schema this sink last wrote, so it plans without a
footer-inference job.
"""

from __future__ import annotations

import os
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .verdir import VersionedStateDir

#: (old_col, delta_col) -> merged_col, applied per non-key column.
MergeExpr = Callable[[F.Column, F.Column], F.Column]


class KeyedUpsertSink(VersionedStateDir):
    """Copy-on-write keyed state table driven by foreachBatch epochs.
    Commit/replay/prune discipline inherited from VersionedStateDir
    (operators/verdir.py) — crash recovery works because the committed
    version directories ARE the durable state and the base class
    recovers the pointer from the highest one on disk."""

    def __init__(
        self,
        state_root: str,
        key: str,
        delta_fn: Callable[[DataFrame], DataFrame],
        merge_exprs: dict[str, MergeExpr],
    ) -> None:
        super().__init__(state_root)
        self.key = key
        self.delta_fn = delta_fn
        self.merge_exprs = merge_exprs
        # schema of the state this object last committed: the next
        # epoch's merge and read_state pass it to the reader, which then
        # plans without a footer-inference job (None after a restart)
        self._schema = None

    def _read_current(self, spark) -> DataFrame:
        reader = spark.read
        if self._schema is not None:
            reader = reader.schema(self._schema)
        return reader.parquet(self.current)

    def apply_batch(self, batch: DataFrame, batch_id: int) -> None:
        """Merge one epoch's rows into the state table (idempotent)."""
        if os.path.exists(self._version_dir(batch_id)):
            self._note_replay(batch_id)
            return
        delta = self.delta_fn(batch)
        if self.current is not None:
            old = self._read_current(batch.sparkSession)
            o, d = old.alias("o"), delta.alias("d")
            cols = [
                F.coalesce(
                    F.col(f"o.{self.key}"), F.col(f"d.{self.key}")
                ).alias(self.key)
            ]
            for name, expr in self.merge_exprs.items():
                cols.append(
                    expr(F.col(f"o.{name}"), F.col(f"d.{name}")).alias(name)
                )
            merged = o.join(
                d, F.col(f"o.{self.key}") == F.col(f"d.{self.key}"), "full_outer"
            ).select(*cols)
        else:
            merged = delta
        self._commit(
            batch_id, lambda tmp: merged.write.mode("overwrite").parquet(tmp)
        )
        self._schema = merged.schema

    def read_state(self, spark) -> DataFrame:
        assert self.current is not None, "no epoch has been applied"
        return self._read_current(spark)


def counter_add(o: F.Column, d: F.Column) -> F.Column:
    return F.coalesce(o, F.lit(0)) + F.coalesce(d, F.lit(0))


def decimal_add(dec: str) -> MergeExpr:
    def _add(o: F.Column, d: F.Column) -> F.Column:
        return (
            F.coalesce(o, F.lit(0).cast(dec)) + F.coalesce(d, F.lit(0).cast(dec))
        ).cast(dec)

    return _add


def latest(o: F.Column, d: F.Column) -> F.Column:
    # greatest() skips NULLs -> an unmatched side keeps its struct
    return F.greatest(o, d)


def user_profile_sink(state_root: str) -> KeyedUpsertSink:
    """t15's concrete sink: per-user event count, exact decimal value
    total, and latest (ts, event_id, event_type) struct."""
    from ..functions.numeric import DEC

    def delta(batch: DataFrame) -> DataFrame:
        return batch.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC)).alias("sum_dec"),
            F.max(F.struct("ts", "event_id", "event_type")).alias("last"),
        )

    return KeyedUpsertSink(
        state_root,
        key="user_id",
        delta_fn=delta,
        merge_exprs={
            "n_events": counter_add,
            "sum_dec": decimal_add(DEC),
            "last": latest,
        },
    )
