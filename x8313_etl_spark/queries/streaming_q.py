"""Streaming operators T1-T14 (SURVEY.md §2.9 + §2.12) over the events stream.

Each query replays the events parquet as a stream (io.py S7), runs to
completion with availableNow into a memory sink (streaming.py), and
returns the final sink state; the oracle is the equivalent batch SQL.
See x8313_etl_spark/streaming.py for the determinism contract and
output-mode rationale.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions.numeric import dsum, sql_dsum
from ..io import load_table, stream_events
from ..operators.minhash import NEAR_DUP_THRESHOLD
from ..registry import register
from ..streaming import run_to_memory


@register(
    "t1_tumbling_window",
    category="streaming",
    bench=True,
    oracle=f"""
SELECT time_bucket(INTERVAL '10 minutes', ts) AS wstart,
       time_bucket(INTERVAL '10 minutes', ts) + INTERVAL 10 MINUTE AS wend,
       event_type,
       count(*) AS n_events,
       {sql_dsum('value')} AS sum_value
FROM events
GROUP BY 1, 2, 3
""",
)
def t1_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: per-10-minute tumbling counts/sums by event type, complete
    mode (sink holds the whole result — batch-split-proof). Spark
    window() and DuckDB time_bucket() share the 1970-01-01 UTC anchor."""
    s = stream_events(spark, sf_dir)
    agg = (
        s.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("wstart"),
            F.col("w.end").alias("wend"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return run_to_memory(spark, agg, "t1_tumbling", "complete")


@register(
    "t2_sliding_window",
    category="streaming",
    oracle=f"""
WITH x AS (
  SELECT time_bucket(INTERVAL '5 minutes', ts) AS s5, event_type, value FROM events
),
u AS (
  SELECT unnest([s5 - INTERVAL 5 MINUTE, s5]) AS wstart, event_type, value FROM x
)
SELECT wstart, wstart + INTERVAL 10 MINUTE AS wend, event_type,
       count(*) AS n_events, {sql_dsum('value')} AS sum_value
FROM u
GROUP BY 1, 2, 3
""",
)
def t2_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: 10-minute window sliding every 5 — each event lands in two
    windows (twin: unnest of the two aligned starts). Complete mode."""
    s = stream_events(spark, sf_dir)
    agg = (
        s.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("wstart"),
            F.col("w.end").alias("wend"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return run_to_memory(spark, agg, "t2_sliding", "complete")


@register(
    "t3_session_window",
    category="streaming",
    oracle=f"""
WITH o AS (
  SELECT user_id, ts, value, event_id,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                OR ts >= lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         + INTERVAL 30 MINUTE
              THEN 1 ELSE 0 END AS new_s
  FROM events
),
s AS (
  SELECT user_id, ts, value,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM o
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events,
       {sql_dsum('value')} AS sum_value
FROM s GROUP BY user_id, sid
""",
)
def t3_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3: gap-based session windows (30-min inactivity) per user. The
    batch twin is the classic lag → new-session flag → cumulative-sum
    sessionization (W3/W4 composition); Spark's session_window closes a
    session when the next event is ≥ gap after the previous (mirrored by
    the twin's >= comparison). Complete mode."""
    s = stream_events(spark, sf_dir)
    agg = (
        s.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
    return run_to_memory(spark, agg, "t3_session", "complete")


@register(
    "t4_watermark_append",
    category="streaming",
    oracle=f"""
WITH m AS (SELECT max(ts) AS mx FROM events),
b AS (
  SELECT time_bucket(INTERVAL '10 minutes', ts) AS wstart, event_type, value
  FROM events
)
SELECT wstart, wstart + INTERVAL 10 MINUTE AS wend, event_type,
       count(*) AS n_events, {sql_dsum('value')} AS sum_value
FROM b
GROUP BY 1, 2, 3
HAVING wstart + INTERVAL 10 MINUTE <= (SELECT mx - INTERVAL 10 MINUTE FROM m)
""",
)
def t4_watermark_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4: watermarked tumbling agg in APPEND mode — only windows whose
    end ≤ final watermark (max event time − 10 min) are emitted; the
    trailing windows stay in state forever. The twin encodes exactly
    that cutoff, making watermark semantics themselves oracle-checked.
    (Late-row *dropping* needs a multi-batch replay — covered by the
    crafted-fixture unit test, tests/test_streaming.py.)

    Watermarks require a zoned TIMESTAMP column; with the session pinned
    to UTC the ntz→timestamp→ntz casts are wall-clock identities."""
    s = stream_events(spark, sf_dir).withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).withWatermark("ts", "10 minutes")
    agg = (
        s.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("sum_value"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("wstart"),
            F.col("w.end").cast("timestamp_ntz").alias("wend"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    return run_to_memory(spark, agg, "t4_watermark", "append")


@register(
    "t5_stream_dedup",
    category="streaming",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def t5_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5: streaming dedup — first occurrence of each (user, event_type)
    passes, duplicates drop against the state store. Output = key set
    (value columns would be arrival-order-dependent). Production bounds
    the state with dropDuplicatesWithinWatermark; the fixture replay has
    no watermark so state is exact."""
    s = stream_events(spark, sf_dir)
    dedup = s.select("user_id", "event_type").dropDuplicates(["user_id", "event_type"])
    return run_to_memory(spark, dedup, "t5_dedup", "append")


@register(
    "t14_dedup_within_watermark",
    category="streaming",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def t14_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T14: BOUNDED-STATE streaming dedup — the production-viable form
    of t5. ``dropDuplicatesWithinWatermark`` only guarantees dedup for
    duplicates arriving within the watermark horizon of the first
    occurrence, which is precisely what lets it EVICT state: at 100 TB/
    day, t5's plain dropDuplicates holds every key ever seen, while
    this holds one horizon's worth. On the single-file fixture replay
    (one data batch) every duplicate is within the horizon, so the twin
    is the same DISTINCT as t5's — the semantic difference (a duplicate
    arriving after its key's state expired is RE-EMITTED) cannot appear
    in a single batch and is pinned by the crafted 3-batch unit test in
    tests/test_streaming.py instead."""
    s = stream_events(spark, sf_dir).withColumn(
        "ts", F.col("ts").cast("timestamp")
    ).withWatermark("ts", "24 hours")
    dedup = s.select("user_id", "event_type", "ts").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )
    return run_to_memory(
        spark, dedup.select("user_id", "event_type"), "t14_dedup_wm", "append"
    )


@register(
    "t6_stream_static_join",
    category="streaming",
    oracle="""
SELECT e.event_id, e.user_id, e.event_type, c.c_mktsegment
FROM events e JOIN customer c ON e.user_id = c.c_custkey
""",
)
def t6_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6: enrich the event stream with a static dimension (broadcast
    per microbatch — no stream state at all). Append mode."""
    s = stream_events(spark, sf_dir)
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )
    joined = s.join(F.broadcast(c), s.user_id == c.c_custkey).select(
        "event_id", "user_id", "event_type", "c_mktsegment"
    )
    return run_to_memory(spark, joined, "t6_join", "append")


@register(
    "t7_stateful_counter",
    category="streaming",
    oracle="""
SELECT user_id, count(*) AS n_events, max(value) AS max_value
FROM events GROUP BY user_id
""",
)
def t7_stateful_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7: custom stateful per-key processing — a per-user counter/max
    that survives across microbatches. Primary path: Spark 4's
    transformWithStateInPandas (ValueState per key, update mode). This
    container lacks the python protobuf package that API's state-server
    protocol needs, so when it is unavailable the op runs as a
    foreachBatch state-table merge with identical semantics
    (streaming.stateful_merge_counter — itself a scalable pattern, not a
    toy). Tracked stats (count, max) are arrival-order-free, so the
    final state equals the batch aggregate regardless of batch splits."""
    from ..streaming import (
        T7_OUTPUT_SCHEMA,
        UserCounter,
        has_state_server_deps,
        stateful_merge_counter,
    )

    s = stream_events(spark, sf_dir)
    if not has_state_server_deps():
        return stateful_merge_counter(spark, s)

    counted = s.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=UserCounter(),
        outputStructType=T7_OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
    return run_to_memory(spark, counted, "t7_stateful", "update")


@register(
    "t7b_stateful_apws",
    category="streaming",
    oracle="""
SELECT user_id, count(*) AS n_events, max(value) AS max_value
FROM events GROUP BY user_id
""",
)
def t7b_stateful_apws(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7b: the same per-user stateful counter as t7, but through
    ``applyInPandasWithState`` (GroupState, Arrow-batched) — the classic
    custom-stateful-operator API, which runs LIVE here (no state-server
    protobuf dependency), so unlike t7's gated primary path this one
    exercises real cross-batch streaming state end-to-end. Count/max are
    order-free, so final state equals the batch aggregate under any
    batch split."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..streaming import apws_counter

    s = stream_events(spark, sf_dir)
    out = s.groupBy("user_id").applyInPandasWithState(
        apws_counter,
        "user_id long, n_events long, max_value double",
        "n long, mx double",
        "update",
        GroupStateTimeout.NoTimeout,
    )
    return run_to_memory(spark, out, "t7b_apws", "update")


@register(
    "t8_update_mode_counts",
    category="streaming",
    oracle="SELECT event_type, count(*) AS n_events FROM events GROUP BY event_type",
)
def t8_update_mode_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T8: output-mode semantics — the same agg as a complete-mode query
    but in UPDATE mode, emitting only per-batch deltas. With the
    single-file fixture there is exactly one delta = the batch result;
    a multi-batch sink would hold one row per (key, updating batch)."""
    s = stream_events(spark, sf_dir)
    agg = s.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    return run_to_memory(spark, agg, "t8_update", "update")


@register(
    "t9_stream_parquet_sink",
    category="streaming",
    oracle="""
SELECT event_id, user_id, event_type, value
FROM events WHERE event_type IN ('purchase', 'signup')
""",
)
def t9_stream_parquet_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/T8: durable file sink — filtered stream appended to a parquet
    directory (exactly-once via the checkpoint/commit log), then read
    back. The read-back equals the batch filter, which is precisely the
    end-to-end exactly-once guarantee under test. Production shape: this
    plus partitionBy on the sink for downstream partition pruning."""
    import tempfile

    out = tempfile.mkdtemp(prefix="x8313-t9-sink-")
    ckpt = tempfile.mkdtemp(prefix="x8313-ckpt-t9-")
    s = stream_events(spark, sf_dir).filter(
        F.col("event_type").isin("purchase", "signup")
    ).select("event_id", "user_id", "event_type", "value")
    q = (
        s.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(180):
        # A hung query must fail loudly here — falling through would read
        # a partially-written sink and return silently incomplete rows.
        q.stop()
        raise TimeoutError("t9 parquet-sink stream did not finish in 180s")
    return spark.read.schema("event_id long, user_id long, event_type string, value double").parquet(out)


@register(
    "t10_stream_stream_join",
    category="streaming",
    oracle="""
SELECT a.user_id,
       a.event_id AS view_id,
       b.event_id AS click_id,
       CAST((epoch_us(b.ts) - epoch_us(a.ts)) // 1000000 AS BIGINT) AS delay_s
FROM events a
JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'view'
 AND b.event_type = 'click'
 AND b.ts > a.ts
 AND b.ts <= a.ts + INTERVAL 60 MINUTE
""",
)
def t10_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T10: stream-STREAM inner join (T6 is stream-static) — views paired
    with same-user clicks that land within the following hour. Both
    sides carry watermarks and the join has a two-sided time-range
    predicate, which is what lets Spark bound and expire the join state
    buffers (without them an inner stream-stream join must buffer both
    streams forever — the unbounded-state trap at 100 TB). Append mode:
    a matched pair is final once emitted, so the batch twin is the plain
    interval self-join."""
    views = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("view_id"),
            F.col("ts").cast("timestamp").alias("view_ts"),
        )
        .withWatermark("view_ts", "2 hours")
    )
    clicks = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").cast("timestamp").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    joined = views.join(
        clicks,
        on=[
            F.col("user_id") == F.col("c_user_id"),
            F.col("click_ts") > F.col("view_ts"),
            F.col("click_ts") <= F.col("view_ts") + F.expr("INTERVAL 60 MINUTES"),
        ],
    ).select(
        "user_id",
        "view_id",
        "click_id",
        F.expr("(unix_micros(click_ts) - unix_micros(view_ts)) div 1000000").alias(
            "delay_s"
        ),
    )
    return run_to_memory(spark, joined, "t10_ss_join", "append")


_T11_GAP_US = 4 * 3600 * 1_000_000  # native session gap, mirrors w8's 4h


@register(
    "t11_session_window",
    category="streaming",
    oracle=f"""
WITH g AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w >= {_T11_GAP_US}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, ts, value,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM g
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 4 HOUR AS session_end,
       CAST(count(*) AS BIGINT) AS n_events,
       {sql_dsum('value')} AS sum_value
FROM s
GROUP BY user_id, sid
""",
)
def t11_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T11: the ENGINE-NATIVE session window — ``F.session_window``
    merges per-user events into dynamic-length sessions (window end =
    last event + 4h gap) inside a single windowed aggregate, the same
    operator that runs incrementally under Structured Streaming with
    watermark-driven state eviction. Executed here in batch mode (the
    API is mode-agnostic), which is also the 100 TB backfill path: one
    shuffle on user_id, session merging inside the agg, no self-join.
    w8 is the hand-rolled gaps-and-islands twin; the oracle replays
    that logic with the session-window boundary rule (a new session
    when the gap is >= the timeout, since the previous window ends at
    prev_ts + gap exclusive)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "4 hours"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dsum("value").alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


@register(
    "t12_outer_stream_join",
    category="streaming",
    oracle="""
WITH v AS (SELECT user_id, event_id AS view_id, ts AS view_ts
           FROM events WHERE event_type = 'view'),
c AS (SELECT user_id AS c_user_id, event_id AS click_id, ts AS click_ts
      FROM events WHERE event_type = 'click'),
wm AS (
  -- global watermark = min over both input streams' max event time,
  -- floored to ms (Spark tracks event-time stats at ms), minus delay
  SELECT make_timestamp(
           least((SELECT max(epoch_us(view_ts)) FROM v),
                 (SELECT max(epoch_us(click_ts)) FROM c)) // 1000 * 1000
         ) - INTERVAL 2 HOUR AS wm_ts
),
j AS (
  SELECT v.user_id, v.view_id, v.view_ts, c.click_id,
         CAST((epoch_us(c.click_ts) - epoch_us(v.view_ts)) // 1000000 AS BIGINT)
           AS delay_s
  FROM v LEFT JOIN c
    ON v.user_id = c.c_user_id
   AND c.click_ts > v.view_ts
   AND c.click_ts <= v.view_ts + INTERVAL 60 MINUTE
)
SELECT user_id, view_id, click_id, delay_s
FROM j, wm
WHERE click_id IS NOT NULL
   -- state eviction carries a conservative 1 ms margin (measured:
   -- tests/test_streaming.py boundary probe): a view's null row is
   -- emitted iff view_ts + 60min + 1ms <= watermark, NOT iff
   -- view_ts + 60min < watermark
   OR view_ts + INTERVAL 60 MINUTE + INTERVAL 1 MILLISECOND <= wm_ts
""",
)
def t12_outer_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T12: stream-stream LEFT OUTER join — T10's view→click pairing,
    but views with no click within the hour are emitted with nulls once
    the watermark proves no match can still arrive. This is the
    abandonment/attrition shape (impressions without conversion) that
    an inner join silently drops. State bounding is identical to T10
    (two-sided watermark + time-range bound); the extra semantics is
    eviction-time null emission: a view's state expires when the
    watermark passes view_ts + 60min, at which point an unmatched view
    is final. The global watermark is the MIN over both input streams'
    watermarks (each: that stream's max event time, ms-floored, minus
    the 2h delay) — calibrated against Spark's recentProgress, which
    showed the naive max(ts)-2h horizon off by the view/click max-ts
    gap. The twin emits the null row exactly when
    view_ts + 60min + 1ms <= that watermark (state eviction keeps a
    conservative 1 ms margin — measured at the µs scale by the boundary
    probe in tests/test_streaming.py, which pins both the ms-floor and
    the margin against recentProgress); unmatched views younger than
    the horizon are (correctly) still pending and absent from both
    sides."""
    views = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("view_id"),
            F.col("ts").cast("timestamp").alias("view_ts"),
        )
        .withWatermark("view_ts", "2 hours")
    )
    clicks = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").cast("timestamp").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    joined = views.join(
        clicks,
        on=[
            F.col("user_id") == F.col("c_user_id"),
            F.col("click_ts") > F.col("view_ts"),
            F.col("click_ts") <= F.col("view_ts") + F.expr("INTERVAL 60 MINUTES"),
        ],
        how="left_outer",
    ).select(
        "user_id",
        "view_id",
        "click_id",
        F.expr("(unix_micros(click_ts) - unix_micros(view_ts)) div 1000000").alias(
            "delay_s"
        ),
    )
    return run_to_memory(spark, joined, "t12_outer_join", "append")


@register(
    "t13_full_outer_stream_join",
    category="streaming",
    oracle="""
WITH v AS (SELECT user_id, event_id AS view_id, ts AS view_ts
           FROM events WHERE event_type = 'view'),
c AS (SELECT user_id AS c_user_id, event_id AS click_id, ts AS click_ts
      FROM events WHERE event_type = 'click'),
wm AS (
  SELECT make_timestamp(
           least((SELECT max(epoch_us(view_ts)) FROM v),
                 (SELECT max(epoch_us(click_ts)) FROM c)) // 1000 * 1000
         ) - INTERVAL 2 HOUR AS wm_ts
),
j AS (
  SELECT coalesce(v.user_id, c.c_user_id) AS user_id,
         v.view_id, v.view_ts, c.click_id, c.click_ts,
         CAST((epoch_us(c.click_ts) - epoch_us(v.view_ts)) // 1000000 AS BIGINT)
           AS delay_s
  FROM v FULL JOIN c
    ON v.user_id = c.c_user_id
   AND c.click_ts > v.view_ts
   AND c.click_ts <= v.view_ts + INTERVAL 60 MINUTE
)
SELECT user_id, view_id, click_id, delay_s
FROM j, wm
WHERE (view_id IS NOT NULL AND click_id IS NOT NULL)
   -- left (view) state expires 1ms-margined past its match window (the
   -- margin comes from the range-condition arithmetic — t12's model)
   OR (click_id IS NULL AND view_ts + INTERVAL 60 MINUTE
                            + INTERVAL 1 MILLISECOND <= wm_ts)
   -- right (click) state keys on the event-time column itself (views
   -- strictly precede clicks), so eviction is the PLAIN watermark
   -- predicate: click_ts <= wm, inclusive, NO margin — measured at µs
   -- grain (tests/test_streaming.py): a click exactly AT the watermark
   -- emits, 1 µs after does not
   OR (view_id IS NULL AND click_ts <= wm_ts)
""",
)
def t13_full_outer_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T13: stream-stream FULL OUTER join — T12's view→click pairing
    emitting BOTH unmatched sides: views with no click in the hour
    (abandonment) AND clicks with no preceding view (attribution gaps —
    direct/invalid traffic). State bounding is T12's; each side's null
    row is emitted when ITS state expires against the shared global
    watermark (ms-floored min over both streams' maxima — see t12).
    The twin models each side's MEASURED eviction rule (both pinned at
    µs grain by tests/test_streaming.py): the view side carries the
    1 ms conservative margin t12 found (view_ts + 60min + 1ms <= wm —
    the margin arises in the range-condition state-watermark
    arithmetic), while the click side keys state on the event-time
    column directly (matching views strictly precede the click) and
    evicts on the PLAIN inclusive watermark predicate click_ts <= wm —
    no margin; asymmetry measured, not assumed."""
    views = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("view_id"),
            F.col("ts").cast("timestamp").alias("view_ts"),
        )
        .withWatermark("view_ts", "2 hours")
    )
    clicks = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").cast("timestamp").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    joined = views.join(
        clicks,
        on=[
            F.col("user_id") == F.col("c_user_id"),
            F.col("click_ts") > F.col("view_ts"),
            F.col("click_ts") <= F.col("view_ts") + F.expr("INTERVAL 60 MINUTES"),
        ],
        how="full_outer",
    ).select(
        F.coalesce(F.col("user_id"), F.col("c_user_id")).alias("user_id"),
        "view_id",
        "click_id",
        F.expr("(unix_micros(click_ts) - unix_micros(view_ts)) div 1000000").alias(
            "delay_s"
        ),
    )
    return run_to_memory(spark, joined, "t13_full_outer_join", "append")


@register(
    "t15_foreach_batch_upsert",
    category="streaming",
    oracle=f"""
WITH last AS (
  SELECT user_id, event_type,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT e.user_id,
       COUNT(*) AS n_events,
       {sql_dsum('e.value')} AS sum_value,
       l.event_type AS last_event_type
FROM events e
JOIN last l ON e.user_id = l.user_id AND l.rn = 1
GROUP BY e.user_id, l.event_type
""",
)
def t15_foreach_batch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8/T15: foreachBatch MERGE sink — the production pattern for
    maintaining a keyed serving table (per-user profile: event count,
    value total, latest event type) from a stream when the sink has no
    native upsert. Each micro-batch pre-aggregates its delta per key
    (map-side combine BEFORE the merge — the merge join only ever sees
    one row per key per batch, not raw events), then full-outer-merges
    it into the copy-on-write state table.

    Batch-split-proofing (run_to_memory's determinism contract, applied
    to a sink): every merged quantity is an associative, commutative
    monoid — counts add, value totals add in DECIMAL (exact, so
    cross-batch addition order cannot perturb low bits vs the batch
    twin), and "latest event" is max over the totally-ordered
    (ts, event_id, event_type) struct (event_id is unique, so the
    struct order is total and ties are impossible). The fixture is
    re-written as 4 part-files and streamed with maxFilesPerTrigger=1,
    so the registered query REALLY exercises a multi-batch merge chain,
    not a degenerate single merge.

    Exactly-once: state version v{{batch_id}} is committed via
    write-to-temp + atomic rename keyed by batch_id — a replayed batch
    (sink-side retry after a crash) finds its version already present
    and skips the re-apply, making the merge idempotent per epoch
    (pinned by tests/test_streaming.py::test_t15_replay_is_idempotent).
    At 100 TB the state table is a keyed parquet table; the full-outer
    merge shuffles state ∪ delta on the key once per batch and rewrites
    the whole state — m1's copy-on-write cost model, O(state) written
    per batch. SnapshotTable.apply_cdc's MERGE is merge-on-read instead
    and writes O(change)."""
    import os
    import shutil

    from ..schemas import SCHEMAS
    from ..operators.upsert_sink import user_profile_sink
    from .sources_q import scratch, _tag

    import time as _time
    import uuid as _uuid

    # Per-invocation UNIQUE dir (concurrent invocations must not rmtree
    # each other's live checkpoint/state mid-stream), with best-effort
    # pruning of aged-out siblings (a bare mkdtemp leaked a full events
    # copy per invocation across a sweep). 30 min is far beyond any
    # single invocation's lifetime here.
    family = scratch(f"t15_upsert_{_tag(sf_dir)}")
    cutoff = _time.time() - 1800
    for d in os.listdir(family) if os.path.isdir(family) else []:
        p = os.path.join(family, d)
        try:
            if os.path.getmtime(p) < cutoff:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    work = os.path.join(family, _uuid.uuid4().hex[:12])
    src_dir = os.path.join(work, "src")
    ckpt = os.path.join(work, "ckpt")

    # 4 part-files -> 4 micro-batches under maxFilesPerTrigger=1
    load_table(spark, sf_dir, "events").repartition(4).write.parquet(src_dir)

    stream = (
        spark.readStream.schema(SCHEMAS["events"])
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    sink = user_profile_sink(os.path.join(work, "state"))
    q = (
        stream.writeStream.foreachBatch(sink.apply_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError("t15 foreachBatch stream did not finish in 180s")
    return sink.read_state(spark).select(
        "user_id",
        "n_events",
        F.col("sum_dec").cast("double").alias("sum_value"),
        F.col("last.event_type").alias("last_event_type"),
    )


@register(
    "t16_stateful_timeout",
    category="streaming",
    oracle="""
SELECT user_id, count(*) AS n_events, max(value) AS max_value
FROM events GROUP BY user_id
""",
)
def t16_stateful_timeout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T16: EVENT-TIME TIMEOUT firing in applyInPandasWithState — the
    stateful-streaming capability t7b (NoTimeout) does not exercise:
    output rows are produced ONLY when a group's timer fires with no
    new input, i.e. by the timeout machinery itself, never by the
    update path. The stream is the events table split into FOUR
    ts-quartile files (maxFilesPerTrigger=1 → four real micro-batches
    with an advancing watermark) plus two far-future sentinel files; the
    per-user timeout re-arms at last-event + 8 days — LONGER than any
    quartile's span, so no real user can flush early even if absent
    from a batch — and the sentinels' watermark jump expires every
    user's timer, flushing exactly one (count, max) session row per
    user. Final output therefore equals the batch aggregate (sentinel
    user filtered out), which is what the twin states; the timeout
    branch being the only emitter is pinned by
    tests/test_streaming.py's fake-GroupState unit tests. At scale this
    is the standard session-expiry pattern: state is per-key and
    bounded, timers fire on watermark progress, and the flush batch
    costs O(expired keys)."""
    import os
    import shutil
    import time as _time
    import uuid as _uuid

    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..schemas import SCHEMAS
    from ..streaming import apws_session_flush, run_to_memory
    from .sources_q import scratch, _tag

    family = scratch(f"t16_timeout_{_tag(sf_dir)}")
    cutoff = _time.time() - 1800
    for d in os.listdir(family) if os.path.isdir(family) else []:
        p = os.path.join(family, d)
        try:
            if os.path.getmtime(p) < cutoff:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    work = os.path.join(family, _uuid.uuid4().hex[:12])
    src_dir = os.path.join(work, "src")
    os.makedirs(src_dir)

    ev = load_table(spark, sf_dir, "events")
    qtile = F.ntile(4).over(Window.orderBy("ts", "event_id"))
    slices = ev.withColumn("__q", qtile)
    mx = ev.agg(F.max("ts").alias("m")).collect()[0].m
    sentinels = [
        [(10**12 + i, mx + __import__("datetime").timedelta(days=30 * (i + 1)),
          -1, "sentinel", 0.0, "{}")]
        for i in range(2)
    ]
    batches = [slices.filter(F.col("__q") == q + 1).drop("__q") for q in range(4)]
    batches += [
        spark.createDataFrame(s, SCHEMAS["events"]) for s in sentinels
    ]
    base_mtime = _time.time() - 600
    for i, bdf in enumerate(batches):
        tmp = os.path.join(work, f"tmp{i}")
        bdf.coalesce(1).write.parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
        dst = os.path.join(src_dir, f"f{i}.parquet")
        os.rename(os.path.join(tmp, part), dst)
        shutil.rmtree(tmp, ignore_errors=True)
        # the file source orders by modification time — pin the batch
        # order explicitly instead of trusting write latency
        os.utime(dst, (base_mtime + i * 10, base_mtime + i * 10))

    stream = (
        spark.readStream.schema(SCHEMAS["events"])
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", "1 minute")
    )
    out = stream.groupBy("user_id").applyInPandasWithState(
        apws_session_flush,
        "user_id long, n_events long, max_value double",
        "n long, mx double",
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )
    res = run_to_memory(spark, out, "t16_timeout", "append")
    return res.filter(F.col("user_id") >= 0)


# ---------------------------------------------------------------------------
# T17: streaming delta-join view maintenance (registered round 7; fn +
# twin pre-verified in tests/test_r7_candidates.py before
# registration). The oracle IS m8's registered oracle verbatim — the
# streamed epochs must land on exactly the full post-CDC recompute.
# ---------------------------------------------------------------------------

from . import etl_q as _etl_q  # noqa: E402  (m8 zset builders + oracle)
from ..registry import _REGISTRY as _REG  # noqa: E402


@register(
    "t17_stream_delta_join",
    category="streaming",
    oracle=_REG["m8_delta_join_view"].oracle,
)
def t17_stream_delta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T17: incremental JOIN-view maintenance as a STREAM — m8's
    Z-set delta-join rule (ΔV = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB, the DBSP/
    differential-dataflow algebra, public) applied per micro-batch by a
    foreachBatch sink (operators/viewmaint.py JoinViewSink): both
    sides' CDC deltas arrive interleaved on ONE stream (side-tagged
    rows), each epoch folds its delta batch into the maintained join
    view with multiplicity consolidation, and the final view must equal
    the one-shot post-CDC recompute — m8's own registered oracle is the
    twin VERBATIM, so incrementality is verified as an algebraic
    identity (the m3/m8 discipline, streamed).

    Harness: the feed is written as 4 part-files and replayed under
    maxFilesPerTrigger=1 + trigger(availableNow) → 4 REAL micro-batches
    through the checkpointed foreachBatch path; stale scratch families
    are vacuumed by mtime (the t9 convention).

    Scale: per epoch, work is delta-sized — two delta×base equi-joins
    keyed on the view's own join key (co-partitioned with view storage
    in a real deployment; AQE broadcasts the <1% delta side) plus one
    delta×delta join; the base is NEVER rescanned. State/commit:
    VersionedStateDir copy-on-write with atomic rename, replay
    idempotent (tests/test_viewmaint.py)."""
    import os
    import shutil
    import time as _time
    import uuid as _uuid

    from ..operators.viewmaint import JoinViewSink
    from .sources_q import _tag, scratch

    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    a0 = customer.select(
        "c_custkey", "c_nationkey", F.col("c_acctbal").alias("bal")
    )
    b0 = orders.select(
        "o_orderkey", "o_custkey", F.col("o_totalprice").alias("price")
    )
    da = _etl_q.m8_customer_zset(customer).select(
        F.lit("A").alias("side"), "c_custkey", "c_nationkey", "bal",
        F.col("am").alias("m"),
    )
    db = _etl_q.m8_orders_zset(orders).select(
        F.lit("B").alias("side"), "o_orderkey", "o_custkey", "price",
        F.col("bm").alias("m"),
    )
    feed = da.unionByName(db, allowMissingColumns=True).select(
        "side", "c_custkey", "c_nationkey", "bal",
        "o_orderkey", "o_custkey", "price", "m",
    )
    family = scratch(f"t17_deltajoin_{_tag(sf_dir)}")
    cutoff = _time.time() - 1800
    for d in os.listdir(family) if os.path.isdir(family) else []:
        p = os.path.join(family, d)
        try:
            if os.path.getmtime(p) < cutoff:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    work = os.path.join(family, _uuid.uuid4().hex[:12])
    src, ckpt = os.path.join(work, "src"), os.path.join(work, "ckpt")
    # 4 part-files -> 4 real micro-batches under maxFilesPerTrigger=1
    feed.repartition(4).write.parquet(src)
    sink = JoinViewSink(os.path.join(work, "state"))
    sink.init_bases(a0, b0)
    stream = (
        spark.readStream.schema(feed.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(sink.apply_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError("t17 delta-join stream did not finish in 180s")
    return sink.read_view(spark)


# ---------------------------------------------------------------------------
# t18_stream_ingest_dedup (registered round 8; twin pre-verified in
# tests/test_r7_candidates_b.py — retired at registration; its
# nontriviality guards live on in tests/test_registered_guards.py and
# the record in ROADMAP's r8 summary).
# ---------------------------------------------------------------------------

_T18_DELTA_MOD = 5  # pipeline_q's batch/index split, shared convention


def _t18_sql() -> str:
    from .llm import _SQL_SHINGLE_CTES

    return f"""
WITH {_SQL_SHINGLE_CTES},
pairs AS (
  SELECT n.doc_id AS new_id, o.doc_id AS old_id,
         CAST(len(list_intersect(n.sh, o.sh)) AS DOUBLE)
           / len(list_distinct(n.sh || o.sh)) AS jaccard,
         len(list_filter(generate_series(0, 7), bi ->
             list_slice(n.sig, bi*4 + 1, bi*4 + 4)
               = list_slice(o.sig, bi*4 + 1, bi*4 + 4))) AS n_band_hits
  FROM sig n JOIN sig o
    ON n.doc_id % {_T18_DELTA_MOD} = 0
   AND (o.doc_id % {_T18_DELTA_MOD} <> 0 OR o.doc_id < n.doc_id)
),
best AS (
  SELECT new_id, old_id, jaccard FROM (
    SELECT new_id, old_id, jaccard,
           row_number() OVER (
             PARTITION BY new_id ORDER BY jaccard DESC, old_id
           ) AS rn
    FROM pairs WHERE n_band_hits > 0 AND jaccard >= {NEAR_DUP_THRESHOLD}
  ) WHERE rn = 1
)
SELECT d.doc_id,
       best.old_id IS NOT NULL AS is_dup,
       best.old_id AS dup_of,
       best.jaccard
FROM (SELECT doc_id FROM documents WHERE doc_id % {_T18_DELTA_MOD} = 0) d
LEFT JOIN best ON best.new_id = d.doc_id
"""


@register(
    "t18_stream_ingest_dedup",
    category="streaming",
    oracle=_t18_sql(),
)
def t18_stream_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T18: STREAMING ingest dedup — p_incremental_dedup's semantics as
    a live foreachBatch state machine (operators/ingestdedup.py): each
    micro-batch is sketched, probed against the accumulated index
    (initial corpus + EVERY earlier arrival — accepted and rejected
    alike: the exact all-pairs-vs-smaller-ids semantics, so a
    dup-of-a-dup still reports its true nearest partner; an
    accepted-only index is the other defensible policy but would
    change those chains' verdicts and break the whole-feed twin),
    verdicts are appended, and the batch's signatures join the index
    for the NEXT batch — arrival-order semantics, exactly what a
    100 TB training-data ingest runs daily. The feed here is 4 id-range
    parquet files with increasing mtimes so the file source's
    oldest-first order makes micro-batch boundaries respect id order;
    the twin is then ONE-SHOT SQL over the whole feed: dup iff a
    band-colliding Jaccard ≥ τ partner exists among the index OR any
    smaller-id arrival — so batch-split invariance is part of what the
    hash compare verifies (plus the dedicated replay-idempotency and
    split-invariance unit tests, tests/test_ingestdedup.py).

    Scale: per batch, work is |batch| sketching + banded batch×index
    probing (never index×index); the within-batch self-check caps hot
    buckets (the r7 cap fix). State (signature/band tables) lives as
    parquet appends — the restart-safe layout. The index grows by
    arrivals only; per-batch cost is independent of history outside
    collided buckets (same growth law as
    git show 0b946b4:scripts/scale10x_increment.py measures for the
    batch form)."""
    import os
    import shutil
    import time as _time
    import uuid as _uuid

    from ..operators.ingestdedup import IngestDedupSink
    from .sources_q import _tag, scratch

    d = load_table(spark, sf_dir, "documents")
    index = d.filter(F.col("doc_id") % _T18_DELTA_MOD != 0)
    batch = d.filter(F.col("doc_id") % _T18_DELTA_MOD == 0).select(
        "doc_id", "text"
    )

    family = scratch(f"t18_ingestdedup_{_tag(sf_dir)}")
    cutoff = _time.time() - 1800
    for sub in os.listdir(family) if os.path.isdir(family) else []:
        p = os.path.join(family, sub)
        try:
            if os.path.getmtime(p) < cutoff:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    work = os.path.join(family, _uuid.uuid4().hex[:12])
    src, ckpt = os.path.join(work, "src"), os.path.join(work, "ckpt")
    os.makedirs(src)

    # 4 id-RANGE files with increasing mtimes: the file source takes the
    # oldest first under maxFilesPerTrigger=1, so micro-batch boundaries
    # respect id order — the sink's "earlier document" feed contract.
    # Range cuts come from a 3-value quantile scalar (the t16 bounded
    # sentinel pattern), never a row collect of the id set; WHERE the
    # cuts land doesn't matter (the one-shot twin is split-invariant),
    # only that batches are id-ranged in increasing order.
    cuts = batch.agg(
        F.expr("percentile(doc_id, array(0.25, 0.5, 0.75))").alias("c")
    ).first()["c"]
    bounds = [float("-inf")] + [float(c) for c in cuts] + [float("inf")]
    t0 = _time.time() - 100
    for i in range(4):
        tmp = os.path.join(work, f"w{i}")
        batch.filter(
            (F.col("doc_id") > F.lit(bounds[i]))
            & (F.col("doc_id") <= F.lit(bounds[i + 1]))
        ).coalesce(1).write.parquet(tmp)
        part = next(
            f for f in os.listdir(tmp)
            if f.endswith(".parquet") and f.startswith("part-")
        )
        dst = os.path.join(src, f"b{i}.parquet")
        os.rename(os.path.join(tmp, part), dst)
        shutil.rmtree(tmp, ignore_errors=True)
        os.utime(dst, (t0 + 10 * i, t0 + 10 * i))

    sink = IngestDedupSink(os.path.join(work, "state"))
    sink.init_index(index)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(sink.apply_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError("t18 ingest-dedup stream did not finish in 180s")
    return sink.read_verdicts(spark)


_T19_SQL = """
SELECT e.user_id, e.event_id AS view_id, CAST(e.ts AS TIMESTAMP) AS view_ts
FROM events e
WHERE e.event_type = 'view'
  AND EXISTS (
    SELECT 1 FROM events c
    WHERE c.event_type = 'click' AND c.user_id = e.user_id
      AND c.ts > e.ts AND c.ts <= e.ts + INTERVAL 60 MINUTE
  )
"""


@register(
    "t19_stream_semi_join",
    category="streaming",
    oracle=_T19_SQL,
)
def t19_stream_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT SEMI join: each view is emitted AT MOST ONCE —
    iff some click by the same user lands in (view_ts, view_ts+60min] —
    and unmatched views are dropped at state eviction instead of
    null-padded (t12's louter form). This is the 'which impressions
    converted' shape: an inner join fans out per matching click and
    then needs a distinct; the semi join keeps state bounded the same
    way (two-sided watermark + time-range bound) but emits existence.
    The final availableNow sink state equals batch EXISTS semantics —
    the twin — independent of micro-batch splits. Pre-verified in the
    retired r9 candidate module; registered round 9 (state-probe volume
    measured ~flat at 10x events, git show 0b946b4:scripts/scale10x_r9.py)."""
    views = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id"),
            F.col("event_id").alias("view_id"),
            F.col("ts").cast("timestamp").alias("view_ts"),
        )
        .withWatermark("view_ts", "2 hours")
    )
    clicks = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user_id"),
            F.col("ts").cast("timestamp").alias("click_ts"),
        )
        .withWatermark("click_ts", "2 hours")
    )
    joined = views.join(
        clicks,
        on=[
            F.col("user_id") == F.col("c_user_id"),
            F.col("click_ts") > F.col("view_ts"),
            F.col("click_ts") <= F.col("view_ts") + F.expr("INTERVAL 60 MINUTES"),
        ],
        how="left_semi",
    )
    return run_to_memory(spark, joined, "t19_semi_join", "append")


_T20_TOPK = 3

_T20_SQL = f"""
WITH c AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS wstart, event_type,
         count(*) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT wstart, event_type, n_events, rn FROM (
  SELECT wstart, event_type, n_events,
         CAST(row_number() OVER (PARTITION BY wstart
                                 ORDER BY n_events DESC, event_type)
              AS BIGINT) AS rn
  FROM c
) WHERE rn <= {_T20_TOPK}
"""


@register(
    "t20_stream_windowed_topk",
    category="streaming",
    oracle=_T20_SQL,
)
def t20_stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous per-window leaderboard: tumbling 1-hour counts per
    event type in UPDATE mode over a REAL 4-micro-batch feed (t15's
    split-file pattern), then the final top-k per window. Update mode
    emits one row per (key, updating batch); counts are MONOTONE per
    key, so max(n) per key is the final state no matter how the feed
    splits into batches (batch-split invariance by algebra, not by
    luck) — the rank then runs on that reduced state. The twin is the
    batch tumbling top-k. Scale: the streaming agg state is keys-sized;
    the final rank is a WindowGroupLimit over the windows×types
    table."""
    import os
    import shutil
    import time as _time
    import uuid as _uuid

    from ..schemas import SCHEMAS
    from .sources_q import _tag, scratch

    family = scratch(f"t20_topk_{_tag(sf_dir)}")
    cutoff = _time.time() - 1800
    for sub in os.listdir(family) if os.path.isdir(family) else []:
        p = os.path.join(family, sub)
        try:
            if os.path.getmtime(p) < cutoff:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    work = os.path.join(family, _uuid.uuid4().hex[:12])
    src_dir = os.path.join(work, "src")
    load_table(spark, sf_dir, "events").repartition(4).write.parquet(src_dir)

    stream = (
        spark.readStream.schema(SCHEMAS["events"])
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    agg = stream.groupBy(
        F.window(F.col("ts"), "1 hour").alias("w"), F.col("event_type")
    ).agg(F.count(F.lit(1)).alias("n"))
    sink = run_to_memory(spark, agg, "t20_topk", "update")
    final = sink.groupBy(F.col("w.start").alias("wstart"), "event_type").agg(
        F.max("n").cast("bigint").alias("n_events")
    )
    rk = Window.partitionBy("wstart").orderBy(
        F.col("n_events").desc(), F.col("event_type")
    )
    return (
        final.withColumn("rn", F.row_number().over(rk).cast("bigint"))
        .filter(F.col("rn") <= _T20_TOPK)
        .select("wstart", "event_type", "n_events", "rn")
    )
