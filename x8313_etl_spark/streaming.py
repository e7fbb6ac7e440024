"""Structured Streaming operators (SURVEY.md §2.9 T1-T8).

Execution contract for deterministic verification: every streaming query
replays the ``events`` parquet through ``spark.readStream`` (io.py S7),
runs with ``trigger(availableNow=True)`` to a named memory sink, and the
*final sink state* is compared against a batch-SQL twin (the DuckDB
oracle). The fixture is a single parquet file → a single data batch (+
Spark's trailing no-data batch that advances the watermark and flushes
finalized state), so final state is reproducible run-to-run.

Output-mode choices per operator are part of the semantics under test:

- ``complete`` for unbounded-state aggregations (T1/T2/T3/T8): the sink
  holds the full result — robust to any batch split.
- ``append`` + watermark for T4: only watermark-finalized windows are
  emitted, so the result *differs* from the plain batch aggregate by
  exactly the trailing windows — the twin encodes that.
- ``append`` for row-wise ops (T5 dedup, T6 stream-static join).
- ``update`` for T7/T8u: per-batch deltas; with the single-batch fixture
  the final table equals the batch aggregate.

Scale notes: these are the same physical plans a 1000-executor streaming
job runs — stateful aggs shuffle by (group keys) into the state store,
stream-static joins broadcast the static side per microbatch, and
watermarks bound state size. The memory sink is test scaffolding only;
production sinks are kafka/parquet (io.py S8).
"""

from __future__ import annotations

import tempfile

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

#: transformWithStateInPandas output/state schemas for T7 (module-level so
#: the processor is unit-testable even where the state server can't run).
T7_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("max_value", DoubleType()),
    ]
)
T7_STATE_SCHEMA = StructType(
    [StructField("n", LongType()), StructField("mx", DoubleType())]
)


class UserCounter(StatefulProcessor):
    """T7 primary path: per-user (count, max) ValueState, update mode.

    The class itself is pure logic over the handle/state interfaces, so
    its cross-batch merge semantics are covered by direct unit tests
    (tests/test_streaming.py) with a fake ValueState; the live
    state-server wiring only runs where python protobuf is installed
    (has_state_server_deps)."""

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState("counter", T7_STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd

        n, mx = 0, None
        if self._state.exists():
            n, mx = self._state.get()
        for pdf in rows:
            n += len(pdf)
            batch_max = float(pdf["value"].max())
            mx = batch_max if mx is None else max(mx, batch_max)
        self._state.update((n, mx))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "max_value": [mx]}
        )

    def close(self) -> None:
        pass


def apws_counter(pdfs_key, pdfs, state):
    """applyInPandasWithState body for T7b: per-key (count, max) in
    GroupState, update mode. Unlike transformWithStateInPandas, this API
    speaks the classic GroupState protocol — no python-protobuf state
    server — so it runs live everywhere this repo runs. Module-level so
    it is also unit-testable with a fake GroupState."""
    import pandas as pd

    n, mx = state.get if state.exists else (0, None)
    for pdf in pdfs:
        n += len(pdf)
        batch_max = float(pdf["value"].max())
        mx = batch_max if mx is None else max(mx, batch_max)
    state.update((n, mx))
    yield pd.DataFrame(
        {"user_id": [pdfs_key[0]], "n_events": [n], "max_value": [mx]}
    )


def has_state_server_deps() -> bool:
    """transformWithStateInPandas talks to a JVM state server over a
    protobuf protocol; the python 'protobuf' package is an optional
    runtime dep of pyspark that this container does not ship."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


#: State-store partition count for streaming starts. A stateful
#: operator creates one state-store instance per shuffle partition, and
#: every microbatch pays a per-instance commit (delta file + snapshot
#: bookkeeping) regardless of how little state it holds — measured at
#: sf0.1: 32 instances ≈ 1.8s per run vs 8 ≈ 0.97s for t1. Size state
#: partitions to STATE VOLUME (≈ state / 128 MB per instance), not to
#: core count; the checkpoint pins the value at the first batch, so this
#: is a per-query-start decision, exactly like here.
STREAM_STATE_PARTITIONS = 8
#: how long a bounded (availableNow) query may run before it is stopped
STREAM_TIMEOUT_SEC = 180


class _stream_state_partitions:
    """Scoped override of shuffle partitions around a streaming START.

    Only the FIRST microbatch's setting matters (the checkpoint pins the
    state partitioning thereafter), so restoring the session value right
    after q.start() would be enough; we restore in __exit__ which also
    covers start() raising."""

    def __init__(self, spark: SparkSession, n: int):
        self.spark, self.n = spark, n

    def __enter__(self):
        self.prev = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.prev)


def run_to_memory(
    spark: SparkSession,
    sdf: DataFrame,
    name: str,
    output_mode: str,
) -> DataFrame:
    """Run a streaming DataFrame to completion (availableNow) into a
    memory sink and return the final sink table.

    Each run gets a fresh checkpoint dir; the memory sink table is
    replaced on restart, so repeated calls are idempotent.
    """
    ckpt = tempfile.mkdtemp(prefix=f"x8313-ckpt-{name}-")
    with _stream_state_partitions(spark, STREAM_STATE_PARTITIONS):
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(STREAM_TIMEOUT_SEC)
    if q.isActive:  # pragma: no cover - defensive: hung query
        q.stop()
        raise TimeoutError(
            f"streaming query {name} did not finish in {STREAM_TIMEOUT_SEC}s"
        )
    return spark.table(name)


def stateful_merge_counter(spark: SparkSession, stream: DataFrame) -> DataFrame:
    """Custom cross-batch stateful per-``user_id`` counters WITHOUT the Python
    state-server: state lives as a compacted parquet table that each
    microbatch merges into (foreachBatch → batch-agg → union with prior
    state → re-agg → write next state version).

    This is a classic scalable stateful pattern in its own right — every
    step is a distributed DataFrame op, state is partitioned by the
    group key, and merge cost is O(state + batch) per trigger. The
    tracked stats (count, max) are associative + order-free, so the
    final state equals the batch aggregate no matter how the input was
    split into batches.
    """
    base = tempfile.mkdtemp(prefix="x8313-state-t7-")
    ckpt = tempfile.mkdtemp(prefix="x8313-ckpt-t7-")
    latest: dict[str, str | None] = {"dir": None}

    def process(bdf: DataFrame, batch_id: int) -> None:
        agg = bdf.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"), F.max("value").alias("max_value")
        )
        if latest["dir"] is not None:
            prev = spark.read.parquet(latest["dir"])
            agg = (
                prev.unionByName(agg)
                .groupBy("user_id")
                .agg(
                    F.sum("n_events").alias("n_events"),
                    F.max("max_value").alias("max_value"),
                )
            )
        out = f"{base}/v{batch_id}"
        agg.write.mode("overwrite").parquet(out)
        latest["dir"] = out

    with _stream_state_partitions(spark, STREAM_STATE_PARTITIONS):
        q = (
            stream.writeStream.foreachBatch(process)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(STREAM_TIMEOUT_SEC)
    if q.isActive:  # pragma: no cover
        q.stop()
        raise TimeoutError(f"stateful merge did not finish in {STREAM_TIMEOUT_SEC}s")
    assert latest["dir"] is not None, "stream produced no batches"
    return spark.read.parquet(latest["dir"])


#: t16 session-flush gap: longer than any one micro-batch's time span
#: (ts-quartile batches cover ~7.5 days), so a user absent from one
#: batch cannot time out early — only the sentinel watermark jump
#: flushes (see queries/streaming_q.py t16_stateful_timeout).
T16_GAP_MS = 8 * 86_400 * 1000


def apws_session_flush(pdfs_key, pdfs, state):
    """applyInPandasWithState body for T16: accumulate per-key
    (count, max) silently; rows are emitted ONLY from the
    ``state.hasTimedOut`` branch (event-time timeout = the session
    flush), then state is removed. The update branch re-arms the
    timeout at last-event-time + gap — the canonical
    session-with-timeout pattern. Module-level so a fake GroupState
    can unit-test both branches."""
    import pandas as pd

    if state.hasTimedOut:
        n, mx = state.get
        state.remove()
        yield pd.DataFrame(
            {"user_id": [pdfs_key[0]], "n_events": [n], "max_value": [mx]}
        )
        return
    n, mx = state.get if state.exists else (0, None)
    last_ms = None
    for pdf in pdfs:
        n += len(pdf)
        batch_max = float(pdf["value"].max())
        mx = batch_max if mx is None else max(mx, batch_max)
        ts_ms = int(pdf["ts"].max().value // 10**6)
        last_ms = ts_ms if last_ms is None else max(last_ms, ts_ms)
    state.update((n, mx))
    state.setTimeoutTimestamp(last_ms + T16_GAP_MS)
    return
    yield  # pragma: no cover — makes this branch a generator with no rows
