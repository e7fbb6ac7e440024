"""Window functions (SURVEY.md §2.5, W1-W7).

Determinism: every ORDER BY inside a window is made total with a
unique-key tiebreaker unless tie semantics are the thing under test
(rank/dense_rank use a deliberately coarse key). Running/sliding sums
go through the decimal trick because windowed SUM may be evaluated as a
segment tree, so even a pinned row order doesn't pin double addition
order.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions.numeric import dsum, sql_dsum
from ..io import load_table
from ..registry import register


@register(
    "w1_ranking",
    category="windows",
    oracle="""
SELECT c_custkey,
       c_nationkey,
       CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
       ROW_NUMBER() OVER (PARTITION BY c_nationkey
                          ORDER BY floor(c_acctbal / 1000) DESC, c_custkey) AS rn,
       RANK()       OVER (PARTITION BY c_nationkey
                          ORDER BY floor(c_acctbal / 1000) DESC) AS rnk,
       DENSE_RANK() OVER (PARTITION BY c_nationkey
                          ORDER BY floor(c_acctbal / 1000) DESC) AS drnk
FROM customer
""",
)
def w1_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: row_number / rank / dense_rank. The bucket key is coarse on
    purpose so rank vs dense_rank tie behavior is actually exercised;
    row_number gets a unique tiebreaker."""
    c = load_table(spark, sf_dir, "customer")
    bucket = F.floor(F.col("c_acctbal") / 1000)
    w_unique = Window.partitionBy("c_nationkey").orderBy(
        bucket.desc(), F.col("c_custkey")
    )
    w_ties = Window.partitionBy("c_nationkey").orderBy(bucket.desc())
    return c.select(
        "c_custkey",
        "c_nationkey",
        bucket.cast("bigint").alias("bal_bucket"),
        F.row_number().over(w_unique).alias("rn"),
        F.rank().over(w_ties).alias("rnk"),
        F.dense_rank().over(w_ties).alias("drnk"),
    )


@register(
    "w2_distribution",
    category="windows",
    oracle="""
SELECT o_orderkey,
       o_orderstatus,
       NTILE(4)       OVER w AS quartile,
       PERCENT_RANK() OVER w AS pct_rank,
       CUME_DIST()    OVER w AS cume
FROM orders
WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey)
""",
)
def w2_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: ntile / percent_rank / cume_dist over a total order (both
    engines compute (rank-1)/(n-1) etc. as one double division —
    identical)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w).alias("quartile"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cume"),
    )


@register(
    "w3_lag_lead",
    category="windows",
    oracle="""
SELECT event_id,
       user_id,
       value,
       value - LAG(value) OVER w AS delta,
       LEAD(event_type) OVER w AS next_type,
       LAG(value, 2, -1.0) OVER w AS lag2_filled
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def w3_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: lag/lead with offsets and defaults (value deltas per user)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "value",
        (F.col("value") - F.lag("value").over(w)).alias("delta"),
        F.lead("event_type").over(w).alias("next_type"),
        F.lag("value", 2, -1.0).over(w).alias("lag2_filled"),
    )


@register(
    "w4_running_sum",
    category="windows",
    oracle="""
SELECT o_custkey,
       o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6)))
            OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS lifetime_spend,
       ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
         AS order_seq
FROM orders
""",
)
def w4_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: cumulative (row-frame) sum — customer lifetime spend after each
    order."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.sum(F.col("o_totalprice").cast("decimal(25,6)"))
        .over(wf)
        .cast("double")
        .alias("lifetime_spend"),
        F.row_number().over(w).alias("order_seq"),
    )


@register(
    "w5_sliding_range_sum",
    category="windows",
    oracle="""
SELECT event_id,
       user_id,
       CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ts_sec,
       CAST(SUM(CAST(value AS DECIMAL(25,6)))
            OVER (PARTITION BY user_id
                  ORDER BY CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT)
                  RANGE BETWEEN 600 PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS value_10min
FROM events
""",
)
def w5_sliding_range_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5: sliding range-frame agg — per-user rolling 10-minute value sum
    keyed on epoch seconds (RANGE frames need a numeric order key)."""
    ev = load_table(spark, sf_dir, "events")
    ts_sec = F.col("ts").cast("timestamp").cast("long")
    w = (
        Window.partitionBy("user_id")
        .orderBy(ts_sec)
        .rangeBetween(-600, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        ts_sec.alias("ts_sec"),
        F.sum(F.col("value").cast("decimal(25,6)")).over(w).cast("double").alias("value_10min"),
    )


@register(
    "w6_first_last_nth",
    category="windows",
    oracle="""
SELECT event_id,
       user_id,
       FIRST_VALUE(event_type) OVER w AS first_type,
       LAST_VALUE(event_type)  OVER w AS last_type,
       NTH_VALUE(event_type, 2) OVER w AS second_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
)
def w6_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6: first/last/nth value over an explicit full-partition frame (the
    default frame would make LAST_VALUE mean 'current row' — a classic
    SQL footgun this operator pins down)."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w).alias("last_type"),
        F.nth_value("event_type", 2).over(w).alias("second_type"),
    )


@register(
    "w7_topk_per_group",
    category="windows",
    bench=True,
    oracle="""
SELECT o_custkey, o_orderkey, o_totalprice
FROM orders
QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
                           ORDER BY o_totalprice DESC, o_orderkey) <= 3
""",
)
def w7_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7: top-3 orders per customer. Spark ≥3.5 rewrites the rank filter
    into WindowGroupLimit: each input partition keeps only its local
    top-3 per key *before* the shuffle (asserted in plan tests)."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


_SESSION_GAP_US = 4 * 3600 * 1_000_000  # 4h inactivity closes a session


@register(
    "w8_sessionize",
    category="windows",
    oracle=f"""
WITH g AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {_SESSION_GAP_US}
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
s AS (
  SELECT user_id, ts, value,
         CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM g
)
SELECT user_id, session_seq,
       CAST(count(*) AS BIGINT) AS n_events,
       min(ts) AS session_start,
       max(ts) AS session_end,
       {sql_dsum('value')} AS total_value
FROM s
GROUP BY user_id, session_seq
""",
)
def w8_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8: batch sessionization — a new session starts after >4h of
    per-user inactivity; session_seq is the running count of boundary
    flags (gap test in integer microseconds, exact in both engines).
    The lag and the running sum share one window spec, so Catalyst
    evaluates them in a single Window exec over a single shuffle on
    user_id; the session rollup then aggregates on a superset of that
    key. Batch twin of t3's streaming session_window (which the
    fixtures' single-batch replay can't carry across restarts —
    this form also backfills history at 100 TB scale).

    Event ts values are unique per user in the fixtures AND the gap
    flag only compares consecutive-row differences, so ORDER BY ts is
    total and the result is deterministic."""
    from ..operators.sessionize import with_session_seq

    ev = load_table(spark, sf_dir, "events").withColumn(
        "um", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    sessions = with_session_seq(ev, ["user_id"], _SESSION_GAP_US)
    return sessions.groupBy("user_id", "session_seq").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        dsum("value").alias("total_value"),
    )


#: Named so the SCD2 temporal-lookup candidate's oracle can embed the
#: verified interval build verbatim (the _KMEANS_PREFIX composition
#: rule: share a constant, never string-split finished SQL).
_W9_SQL = """
WITH c AS (
  SELECT user_id, event_type, ts,
         CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY ts)
                   IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS chg
  FROM events
),
v AS (SELECT user_id, event_type, ts FROM c WHERE chg = 1)
SELECT user_id, event_type,
       ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to,
       (lead(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL) AS is_current
FROM v
"""


@register(
    "w9_scd2_intervals",
    category="windows",
    oracle=_W9_SQL,
)
def w9_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9: slowly-changing-dimension (type 2) interval build — the CDC
    compaction step that turns an event log into versioned dimension
    rows. Pass 1 keeps only state CHANGES (event_type distinct from its
    lag per user); pass 2 assigns [valid_from, valid_to) from
    consecutive change timestamps, open interval = current version.
    Both passes share the (user_id, ts) window key, so the second
    window reuses the first's shuffle/sort — one Exchange total.
    Event ts are unique per user, making the compaction deterministic."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    changed = ev.withColumn(
        "chg",
        F.when(
            F.lag("event_type").over(w).isNull()
            | (F.lag("event_type").over(w) != F.col("event_type")),
            1,
        ).otherwise(0),
    ).filter(F.col("chg") == 1)
    v = changed.select(
        "user_id",
        "event_type",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(Window.partitionBy("user_id").orderBy("ts")).alias(
            "valid_to"
        ),
    )
    return v.withColumn("is_current", F.col("valid_to").isNull())


@register(
    "w10_rolling_median",
    category="windows",
    oracle="""
WITH x AS (
  SELECT event_id, user_id,
         row_number() OVER w AS rn,
         median(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN 8 PRECEDING AND CURRENT ROW) AS roll_med
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT event_id, user_id, roll_med FROM x WHERE rn >= 9
""",
)
def w10_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W10: rolling median — exact `percentile` over a 9-row frame per
    user (order-statistic windows are the robust-smoothing primitive
    mean-based W4/W5 can't express; Spark 4 allows `percentile` as a
    window function over ROWS frames).

    Determinism: the frame is pinned ODD (8 preceding + current) and
    partial leading frames are dropped (rn >= 9), so the median is
    always the literal middle element — no midpoint interpolation whose
    fp rounding could differ between engines. Scale: one shuffle on
    user_id, per-row state bounded by the 9-row frame; no driver
    collection, same shape as W4."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.select(
            "event_id",
            "user_id",
            F.row_number().over(w).alias("rn"),
            F.expr("percentile(value, 0.5)")
            .over(w.rowsBetween(-8, 0))
            .alias("roll_med"),
        )
        .filter(F.col("rn") >= 9)
        .drop("rn")
    )


@register(
    "w11_cumulative_distinct",
    category="windows",
    oracle="""
WITH f AS (
  SELECT event_id, event_type, ts, user_id,
         CASE WHEN row_number() OVER (PARTITION BY event_type, user_id
                                      ORDER BY ts, event_id) = 1
              THEN 1 ELSE 0 END AS first_seen
  FROM events
)
SELECT event_id, event_type,
       CAST(SUM(first_seen) OVER (PARTITION BY event_type ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS cum_uniques
FROM f
""",
)
def w11_cumulative_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W11: cumulative DISTINCT count over a window — running unique
    users per event type as of each event (the audience-growth curve).
    COUNT(DISTINCT) isn't a window function in either engine; the
    standard decomposition is two stacked windows: flag each (type,
    user)'s first occurrence, then running-sum the flags. Total order
    (ts, event_id) makes both passes deterministic. Scale: both windows
    shuffle on event_type-rooted keys; the first pass's per-group state
    is one row-number counter, the second's a single running sum —
    nothing accumulates a distinct-set in memory, which is what makes
    this shape viable where a naive collect_set-over-window OOMs."""
    ev = load_table(spark, sf_dir, "events")
    w_first = Window.partitionBy("event_type", "user_id").orderBy("ts", "event_id")
    w_run = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ev.select(
            "event_id",
            "event_type",
            "ts",
            "user_id",
            F.when(F.row_number().over(w_first) == 1, 1).otherwise(0).alias("first_seen"),
        )
        .select(
            "event_id",
            "event_type",
            F.sum("first_seen").over(w_run).cast("bigint").alias("cum_uniques"),
        )
    )


@register(
    "w12_rolling_corr",
    category="windows",
    oracle="""
WITH m AS (
  SELECT l_suppkey, l_orderkey, l_linenumber,
         row_number() OVER w AS rn,
         COUNT(*) OVER f AS cnt,
         CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) OVER f AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(25,6))) OVER f AS DOUBLE) AS sx2,
         CAST(SUM(CAST(l_extendedprice / 100 AS DECIMAL(25,6))) OVER f AS DOUBLE) AS sy,
         CAST(SUM(CAST((l_extendedprice / 100) * (l_extendedprice / 100) AS DECIMAL(25,6))) OVER f AS DOUBLE) AS sy2,
         CAST(SUM(CAST(l_quantity * (l_extendedprice / 100) AS DECIMAL(25,6))) OVER f AS DOUBLE) AS sxy
  FROM lineitem
  WINDOW w AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber),
         f AS (PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber
               ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
)
SELECT l_suppkey, l_orderkey, l_linenumber,
       (sxy - (sx * sy) / cnt)
         / (sqrt(sx2 - (sx * sx) / cnt) * sqrt(sy2 - (sy * sy) / cnt))
         AS roll_corr
FROM m WHERE rn >= 20
""",
)
def w12_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W12: rolling Pearson correlation (quantity vs price, 20-row frame
    per supplier) — the windowed form of A8's moment-sum construction.
    Neither engine's built-in one-pass corr is cross-engine bit-stable,
    so the five moment sums run as exact DECIMAL window aggregates over
    the frame and the correlation is the identical double formula on
    both sides (A8's docstring covers why the 1/100 price scaling keeps
    the double→decimal grid deterministic). Leading partial frames are
    dropped (rn >= 20) so every output row is a full-frame statistic.
    Scale: one shuffle on l_suppkey shared by both windows; per-row
    state is five running sums, not the frame's rows."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity")
    y = F.col("l_extendedprice") / 100
    order = ["l_shipdate", "l_orderkey", "l_linenumber"]
    w = Window.partitionBy("l_suppkey").orderBy(*order)
    f = w.rowsBetween(-19, 0)
    dec = lambda c: F.sum(c.cast("decimal(25,6)")).over(f).cast("double")  # noqa: E731
    m = li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(f).alias("cnt"),
        dec(x).alias("sx"),
        dec(x * x).alias("sx2"),
        dec(y).alias("sy"),
        dec(y * y).alias("sy2"),
        dec(x * y).alias("sxy"),
    ).filter(F.col("rn") >= 20)
    cnt = F.col("cnt")
    corr = (F.col("sxy") - (F.col("sx") * F.col("sy")) / cnt) / (
        F.sqrt(F.col("sx2") - (F.col("sx") * F.col("sx")) / cnt)
        * F.sqrt(F.col("sy2") - (F.col("sy") * F.col("sy")) / cnt)
    )
    return m.select("l_suppkey", "l_orderkey", "l_linenumber", corr.alias("roll_corr"))


@register(
    "w13_match_recognize",
    category="windows",
    oracle="""
SELECT c.user_id,
       c.event_id AS click_id,
       c.ts AS click_ts,
       p.event_id AS purchase_id,
       p.ts AS purchase_ts,
       CAST(date_diff('microsecond', c.ts, p.ts) AS BIGINT) AS gap_us
FROM events c JOIN events p
  ON p.user_id = c.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND (p.ts > c.ts OR (p.ts = c.ts AND p.event_id > c.event_id))
 AND p.ts <= c.ts + INTERVAL 24 HOUR
QUALIFY row_number() OVER (PARTITION BY c.event_id
                           ORDER BY p.ts, p.event_id) = 1
""",
)
def w13_match_recognize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W13: event-pattern detection (the MATCH_RECOGNIZE shape) — for
    every 'click', the FIRST following 'purchase' by the same user
    within 24 h (A then B within N, per key; AFTER MATCH SKIP TO NEXT
    ROW semantics: each A matches independently). ONE window pass: per
    user ordered by (ts, event_id), the earliest following purchase is
    min(struct(ts, event_id)) over ROWS 1 FOLLOWING..UNBOUNDED (a
    reverse running min — linear per key), then the time bound filters.
    No self-join: the twin is the naive range-join + QUALIFY form, the
    Spark plan is one hash exchange on user_id and one window — the
    per-key pattern scan a 1000-executor cluster wants, immune to the
    fan-out a hot user would cause in the join form. Tiebreaks pinned
    with event_id on both engines."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    nxt = F.min(
        F.when(
            F.col("event_type") == "purchase", F.struct("ts", "event_id")
        )
    ).over(w)
    return (
        e.withColumn("__nxt", nxt)
        .filter(
            (F.col("event_type") == "click")
            & F.col("__nxt").isNotNull()
            & (
                F.col("__nxt.ts")
                <= F.col("ts") + F.expr("INTERVAL 24 HOURS")
            )
        )
        .select(
            "user_id",
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
            F.col("__nxt.event_id").alias("purchase_id"),
            F.col("__nxt.ts").alias("purchase_ts"),
            (
                F.unix_micros(F.col("__nxt.ts").cast("timestamp"))
                - F.unix_micros(F.col("ts").cast("timestamp"))
            ).alias("gap_us"),
        )
    )


@register(
    "w14_pattern_quantifiers",
    category="windows",
    oracle="""
WITH seq AS (
  SELECT user_id, event_id, ts, event_type,
         row_number() OVER w AS rk,
         row_number() OVER w
           - row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS grp
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
runs AS (
  SELECT user_id, event_type, grp, count(*) AS len,
         min(ts) AS t0, min(rk) AS rk0, min(event_id) AS first_id
  FROM seq GROUP BY user_id, event_type, grp
),
ordered AS (
  SELECT *, row_number() OVER (PARTITION BY user_id ORDER BY rk0) AS rn
  FROM runs
)
SELECT v.user_id,
       v.first_id AS view_first_id,
       CAST(c.len AS BIGINT) AS click_len,
       c.t0 AS clicks_start_ts,
       p.t0 AS purchase_ts
FROM ordered v
JOIN ordered c ON c.user_id = v.user_id AND c.rn = v.rn + 1
JOIN ordered p ON p.user_id = v.user_id AND p.rn = v.rn + 2
WHERE v.event_type = 'view' AND c.event_type = 'click'
  AND c.len BETWEEN 2 AND 3 AND p.event_type = 'purchase'
""",
)
def w14_pattern_quantifiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W14: QUANTIFIED event-pattern detection — view, then 2–3
    consecutive clicks, then purchase, per user (the MATCH_RECOGNIZE
    `A B{2,3} C` shape w13's single-successor form can't express).
    Compiled the way pattern engines do: run-length ISLANDS first (the
    rk − per-type-rk gaps-and-islands difference collapses each maximal
    same-type run to one row), then the quantifier becomes a plain
    length predicate and adjacency becomes rn arithmetic on the
    run table — three self-equi-joins of a table that is RUNS-sized,
    not events-sized. One exchange on user_id feeds both window passes
    and the run aggregate; the adjacency joins reuse the same key. All
    tiebreaks pinned (ts, event_id); run identity is integer math.
    The run table is POOLED (swap_persist): it feeds the three pattern
    branches (view/click/purchase), and without the persist each branch
    re-executed both window passes and the run aggregate from the raw
    scan (measured 3 live events scans, scripts/scan_triage.py r10)."""
    from ..operators.cachepool import swap_persist

    e = load_table(spark, sf_dir, "events")
    wseq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wtype = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    seq = e.select(
        "user_id",
        "event_id",
        "ts",
        "event_type",
        F.row_number().over(wseq).alias("rk"),
        (F.row_number().over(wseq) - F.row_number().over(wtype)).alias("grp"),
    )
    runs = seq.groupBy("user_id", "event_type", "grp").agg(
        F.count(F.lit(1)).alias("len"),
        F.min("ts").alias("t0"),
        F.min("rk").alias("rk0"),
        F.min("event_id").alias("first_id"),
    )
    ordered = swap_persist(
        "w14.runs",
        runs.withColumn(
            "rn", F.row_number().over(Window.partitionBy("user_id").orderBy("rk0"))
        ),
    )
    v = ordered.filter(F.col("event_type") == "view").select(
        "user_id",
        F.col("first_id").alias("view_first_id"),
        F.col("rn").alias("vrn"),
    )
    c = ordered.filter(
        (F.col("event_type") == "click") & F.col("len").between(2, 3)
    ).select(
        F.col("user_id").alias("cuid"),
        F.col("len").cast("bigint").alias("click_len"),
        F.col("t0").alias("clicks_start_ts"),
        F.col("rn").alias("crn"),
    )
    p = ordered.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("puid"),
        F.col("t0").alias("purchase_ts"),
        F.col("rn").alias("prn"),
    )
    return (
        v.join(c, (F.col("cuid") == F.col("user_id")) & (F.col("crn") == F.col("vrn") + 1))
        .join(p, (F.col("puid") == F.col("user_id")) & (F.col("prn") == F.col("vrn") + 2))
        .select(
            "user_id", "view_first_id", "click_len", "clicks_start_ts",
            "purchase_ts",
        )
    )


_ISLAND_GAP_DAYS = 30


@register(
    "w15_gaps_and_islands_dates",
    category="windows",
    oracle=f"""
WITH o AS (
  SELECT o_custkey, o_orderkey, o_orderdate,
         CASE WHEN lag(o_orderdate) OVER w IS NULL
                OR date_diff('day', lag(o_orderdate) OVER w, o_orderdate)
                   > {_ISLAND_GAP_DAYS}
              THEN 1 ELSE 0 END AS new_island
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
),
i AS (
  SELECT *, SUM(new_island) OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate, o_orderkey
                                  ROWS UNBOUNDED PRECEDING) AS island
  FROM o
)
SELECT o_custkey,
       CAST(island AS BIGINT) AS island,
       min(o_orderdate) AS island_start,
       max(o_orderdate) AS island_end,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(date_diff('day', min(o_orderdate), max(o_orderdate)) AS BIGINT)
         AS span_days
FROM i GROUP BY o_custkey, island
""",
)
def w15_gaps_and_islands_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W15: gaps-and-islands over ORDER DATES — contiguous activity
    periods per customer, where a gap of more than 30 days starts a new
    island. The date-calendar sibling of w8's event-time sessionize and
    the island core w14's pattern compiler reuses: flag island starts
    with lag(), turn flags into island ids with a running sum (integer
    — no decimal trick needed), aggregate per (customer, island). One
    exchange on o_custkey feeds the lag window, the running sum, and
    the final aggregate — the textbook single-shuffle islands plan.
    date_diff on day grain is integer math on both engines; tiebreaks
    pinned with o_orderkey."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderdate").over(w)
    new_island = F.when(
        prev.isNull()
        | (F.datediff(F.col("o_orderdate"), prev) > _ISLAND_GAP_DAYS),
        F.lit(1),
    ).otherwise(F.lit(0))
    i = o.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        new_island.alias("new_island"),
    ).withColumn(
        "island",
        F.sum("new_island").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    return i.groupBy("o_custkey", "island").agg(
        F.min("o_orderdate").alias("island_start"),
        F.max("o_orderdate").alias("island_end"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.datediff(F.max("o_orderdate"), F.min("o_orderdate"))
        .cast("bigint")
        .alias("span_days"),
    ).select(
        "o_custkey", F.col("island").cast("bigint").alias("island"),
        "island_start", "island_end", "n_orders", "span_days",
    )


# ---------------------------------------------------------------------------
# W16/W17: funnel conversion + last-touch attribution (registered round
# 8; twins pre-verified in the retired tests/test_r7_candidates_b.py;
# guards now in tests/test_registered_guards.py, record in ROADMAP r8).
# ---------------------------------------------------------------------------

_FUNNEL = ("view", "click", "purchase")

_W16_SQL = """
WITH ev AS (
  SELECT user_id, event_type, epoch_us(ts) AS tus FROM events
),
v AS (
  SELECT user_id, min(tus) AS t1 FROM ev
  WHERE event_type = 'view' GROUP BY 1
),
craw AS (
  SELECT e.user_id, min(e.tus) - any_value(v.t1) AS gap
  FROM ev e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'click' AND e.tus > v.t1 GROUP BY 1
),
wnd AS (
  SELECT gap AS window_us FROM (
    SELECT gap,
           row_number() OVER (ORDER BY gap, user_id) AS rn,
           count(*) OVER () AS n_gaps
    FROM craw
  ) WHERE rn - 1 = (n_gaps - 1) // 2
),
c AS (
  SELECT e.user_id, min(e.tus) AS t2
  FROM ev e JOIN v ON v.user_id = e.user_id CROSS JOIN wnd w
  WHERE e.event_type = 'click'
    AND e.tus > v.t1 AND e.tus <= v.t1 + w.window_us
  GROUP BY 1
),
p AS (
  SELECT e.user_id, min(e.tus) AS t3
  FROM ev e JOIN c ON c.user_id = e.user_id CROSS JOIN wnd w
  WHERE e.event_type = 'purchase'
    AND e.tus > c.t2 AND e.tus <= c.t2 + w.window_us
  GROUP BY 1
),
s AS (
  SELECT 1 AS step, count(*) AS n_users FROM v
  UNION ALL SELECT 2, count(*) FROM c
  UNION ALL SELECT 3, count(*) FROM p
)
SELECT CAST(s.step AS INTEGER) AS step, s.n_users,
       CASE WHEN s.step = 1 THEN CAST(1000000 AS BIGINT)
            ELSE s.n_users * 1000000 // NULLIF(pr.n_users, 0) END AS conv_ppm,
       w.window_us
FROM s LEFT JOIN s pr ON pr.step = s.step - 1 CROSS JOIN wnd w
"""
# NULLIF guard: Spark's `div` yields NULL on a zero divisor where
# DuckDB's `//` raises — a zero-user funnel step at some other sf must
# hash-compare as NULL on both sides, not abort the oracle.


@register(
    "w16_funnel_conversion",
    category="windows",
    oracle=_W16_SQL,
)
def w16_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W16: windowed ordered funnel (view → click → purchase): step k
    counts users whose FIRST step-k event lands within W after their
    first qualifying step-(k-1) event — the product-analytics
    conversion query a16 (unordered) doesn't give. W is DATA-DERIVED
    (the lower-median view→click gap, ranked WITHOUT an all-to-one
    stage via the two-phase global rank — operators/globalrank.py), so
    the window constraint bites non-trivially at every sf (the g3
    quantile-threshold discipline: a constant W is either vacuous or
    empty when the fixture's time density changes; pinned by
    tests/test_registered_guards.py). conv_ppm is integer truncating
    div — engine-exact.

    Scale: each stage is one filtered aggregate + an equi-join on
    user_id — shuffle bounded by the user set, never the event stream;
    W rides as a one-row broadcast. The step loop is a FIXED 3-stage
    constant (the funnel definition), not data-dependent. The one-row
    window scalar, each per-user stage table, and the 3-row step-count
    table are EAGERLY checkpointed through the audited ledger (keys
    w16_funnel.*): each is referenced 2–3 times downstream, and without
    the checkpoint every reference re-executes its whole subtree (the
    pre-registration plan showed the gap-median pipeline running 3×)."""
    from ..audit import audited_checkpoint
    from ..operators.globalrank import with_global_rank

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
    )
    view = audited_checkpoint(
        "w16_funnel.step0",
        ev.filter(F.col("event_type") == _FUNNEL[0])
        .groupBy("user_id")
        .agg(F.min("tus").alias("t")),
    )
    craw = (
        ev.filter(F.col("event_type") == _FUNNEL[1])
        .join(view.select("user_id", F.col("t").alias("tp")), "user_id")
        .filter(F.col("tus") > F.col("tp"))
        .groupBy("user_id")
        .agg((F.min("tus") - F.first("tp")).alias("gap"))
    )
    ranked = with_global_rank(
        craw.select("user_id", "gap"),
        [F.col("gap"), F.col("user_id")],
        partitions=8,
        key="w16_funnel.gaprank",
        count_col="n_gaps",
    )
    wnd = audited_checkpoint(
        "w16_funnel.wnd",
        ranked.filter(F.col("rn") == F.expr("(n_gaps - 1) div 2")).select(
            F.col("gap").alias("window_us")
        ),
    )

    stage, steps = view, [view]
    for name in _FUNNEL[1:]:
        stage = audited_checkpoint(
            "w16_funnel.step",
            ev.filter(F.col("event_type") == name)
            .join(stage.select("user_id", F.col("t").alias("tp")), "user_id")
            .crossJoin(F.broadcast(wnd))
            .filter(
                (F.col("tus") > F.col("tp"))
                & (F.col("tus") <= F.col("tp") + F.col("window_us"))
            )
            .groupBy("user_id")
            .agg(F.min("tus").alias("t")),
        )
        steps.append(stage)
    counts = None
    for i, s in enumerate(steps):
        c = s.agg(F.count(F.lit(1)).alias("n_users")).select(
            F.lit(i + 1).alias("step"), "n_users"
        )
        counts = c if counts is None else counts.unionByName(c)
    counts = audited_checkpoint("w16_funnel.counts", counts)
    prev = counts.select(
        (F.col("step") + 1).alias("step"), F.col("n_users").alias("n_prev")
    )
    return (
        counts.join(prev, "step", "left")
        .crossJoin(F.broadcast(wnd))
        .select(
            "step",
            "n_users",
            F.when(F.col("step") == 1, F.lit(1_000_000).cast("bigint"))
            .otherwise(F.expr("n_users * 1000000 div n_prev"))
            .alias("conv_ppm"),
            "window_us",
        )
    )


_W17_SQL = """
WITH ev AS (
  SELECT user_id, event_type, event_id, epoch_us(ts) AS tus, value
  FROM events
),
tagged AS (
  SELECT *,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY tus, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ) AS touch
  FROM ev
)
SELECT coalesce(touch, 'direct') AS channel,
       count(*) AS n_purchases,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
FROM tagged WHERE event_type = 'purchase'
GROUP BY 1
"""


@register(
    "w17_last_touch_attribution",
    category="windows",
    oracle=_W17_SQL,
)
def w17_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W17: last-touch revenue attribution — each purchase's value is
    credited to the most recent PRECEDING non-purchase event of the
    same user (total order (ts, event_id); no preceding touch →
    'direct'), then revenue rolls up per touch channel: the marketing
    attribution query that pairs with w16's funnel. last(…,
    ignorenulls) over an unbounded-preceding rows frame IS the
    last-touch scan — one window pass per user stream.

    Scale: ONE shuffle keyed by user_id for the window, then a
    channel-cardinality-bounded aggregate (map-side combined). Revenue
    sums in integer cents (engine-exact; the decimal-trick rule for
    money)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        "event_type",
        "event_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
        F.col("value"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("tus", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    purchases = (
        ev.withColumn("touch", touch)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.coalesce(F.col("touch"), F.lit("direct")).alias("channel"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
    )
    return purchases.groupBy("channel").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum("cents").alias("revenue_cents"),
    )


# ---------------------------------------------------------------------------
# W18: top-k frequent 3-step event-type paths (registered r11, batch I)
# ---------------------------------------------------------------------------

_W18_TOPK = 10

_W18_SQL = f"""
WITH p AS (
  SELECT t1 || '>' || t2 || '>' || t3 AS path FROM (
    SELECT event_type AS t1,
           lead(event_type, 1) OVER w AS t2,
           lead(event_type, 2) OVER w AS t3
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
  ) WHERE t3 IS NOT NULL
),
c AS (SELECT path, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY path)
SELECT path, n, rn FROM (
  SELECT path, n,
         CAST(row_number() OVER (ORDER BY n DESC, path) AS BIGINT) AS rn
  FROM c
) WHERE rn <= {_W18_TOPK}
"""


@register(
    "w18_event_paths",
    category="windows",
    oracle=_W18_SQL,
)
def w18_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W18: user-journey path mining — the top-{_W18_TOPK} most
    frequent 3-step event-type paths across all user streams (each
    user's events ordered by (ts, event_id); every consecutive triple
    is a path occurrence). The n-gram refinement of
    p_markov_transitions' pairwise matrix (registered r10) —
    'view>view>purchase vs view>purchase' is the distinction a funnel
    owner actually reads. One window pass per user (two leads share
    the sort), a path-keyed count, and a global top-k through one
    final rank on the tiny path-vocabulary table (|event_types|³ ≤ 125
    rows — the single-partition window is vocabulary-bounded, never
    row-bounded)."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    paths = (
        ev.select(
            "user_id",
            F.col("event_type").alias("t1"),
            F.lead("event_type", 1).over(w).alias("t2"),
            F.lead("event_type", 2).over(w).alias("t3"),
        )
        .filter(F.col("t3").isNotNull())
        .select(
            F.concat_ws(">", "t1", "t2", "t3").alias("path"),
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    rk = Window.orderBy(F.col("n").desc(), F.col("path"))
    return (
        paths.withColumn("rn", F.row_number().over(rk).cast("bigint"))
        .filter(F.col("rn") <= _W18_TOPK)
        .select("path", "n", "rn")
    )


# ---------------------------------------------------------------------------
# w19_rfm_cells (registered round 13; twin pre-verified in the batch-K
# candidate suite at both fixture sfs — tests/test_r13_candidates.py,
# now retired)
# ---------------------------------------------------------------------------

_RFM_SQL = """
WITH base AS MATERIALIZED (
  SELECT o_custkey AS c_custkey,
         CAST(max(CAST(o_orderdate AS DATE)) AS DATE) AS last_day,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS monetary_cents
  FROM orders GROUP BY o_custkey
),
r AS MATERIALIZED (
  SELECT *,
         row_number() OVER (ORDER BY last_day, c_custkey) - 1 AS r_rn,
         row_number() OVER (ORDER BY frequency, c_custkey) - 1 AS f_rn,
         row_number() OVER (ORDER BY monetary_cents, c_custkey) - 1 AS m_rn,
         CAST(count(*) OVER () AS BIGINT) AS n
  FROM base
)
SELECT c_custkey, last_day, frequency, monetary_cents,
       CAST(r_rn * 4 // n + 1 AS INTEGER) AS r_q,
       CAST(f_rn * 4 // n + 1 AS INTEGER) AS f_q,
       CAST(m_rn * 4 // n + 1 AS INTEGER) AS m_q,
       CAST(r_rn * 4 // n + 1 AS VARCHAR)
         || CAST(f_rn * 4 // n + 1 AS VARCHAR)
         || CAST(m_rn * 4 // n + 1 AS VARCHAR) AS rfm_cell
FROM r
"""


@register(
    "w19_rfm_cells",
    category="windows",
    oracle=_RFM_SQL,
)
def w19_rfm_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency/frequency/monetary) quartile cells per customer —
    the classic segmentation analytics op. Recency/frequency/monetary
    are one groupBy over orders (cents as exact int64); each
    dimension's quartile is RANK-derived — q = rank*4 div n + 1 over
    the total order (value ASC, c_custkey) — through the two-phase
    global rank (operators/globalrank.py), so no value interpolation,
    no all-to-one exchange, and both engines agree exactly. q=4 is
    'best' on every axis (most recent / most frequent / highest
    spend). Each rank pass pools its own table (keys w19.rank_*); the
    unpooled base aggregate's one consumer is the first pass. The
    twin's whole-table row_number() windows are the
    oracle-shape equivalent; the Spark side's only single-partition
    stages are the three bounded per-partition count tables (the o1
    globalrank shape — ALLOWED entries in tests/test_shuffle_audit.py).
    """
    from ..operators.globalrank import with_global_rank

    o = load_table(spark, sf_dir, "orders")
    base = o.groupBy("o_custkey").agg(
        F.max(F.col("o_orderdate").cast("date")).alias("last_day"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("bigint")).alias(
            "monetary_cents"
        ),
    ).select(
        F.col("o_custkey").alias("c_custkey"),
        "last_day",
        "frequency",
        "monetary_cents",
    )
    r = with_global_rank(
        base,
        [F.col("last_day").asc(), F.col("c_custkey").asc()],
        32,
        "w19.rank_r",
        rank_col="r_rn",
        count_col="n",
    )
    r = with_global_rank(
        r,
        [F.col("frequency").asc(), F.col("c_custkey").asc()],
        32,
        "w19.rank_f",
        rank_col="f_rn",
    )
    r = with_global_rank(
        r,
        [F.col("monetary_cents").asc(), F.col("c_custkey").asc()],
        32,
        "w19.rank_m",
        rank_col="m_rn",
    )
    q = lambda rn: F.expr(f"({rn} * 4) div n") + 1  # noqa: E731
    return r.select(
        "c_custkey",
        "last_day",
        F.col("frequency").cast("bigint").alias("frequency"),
        "monetary_cents",
        q("r_rn").cast("int").alias("r_q"),
        q("f_rn").cast("int").alias("f_q"),
        q("m_rn").cast("int").alias("m_q"),
        F.concat(
            q("r_rn").cast("string"), q("f_rn").cast("string"), q("m_rn").cast("string")
        ).alias("rfm_cell"),
    )


# ---------------------------------------------------------------------------
# w20_position_attribution (registered round 13 under the raised ≤10
# budget; twin pre-verified in the batch-L candidate suite at both
# fixture sfs — tests/test_r14_candidates.py, now retired)
# ---------------------------------------------------------------------------

_U_FIRST, _U_LAST, _U_MID = 400_000, 400_000, 200_000  # ppm; sums to 1e6

_W20_SQL = f"""
WITH fp AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'purchase' GROUP BY user_id
),
t AS MATERIALIZED (
  SELECT e.user_id, e.event_id,
         CAST(row_number() OVER (PARTITION BY e.user_id
                                 ORDER BY e.ts, e.event_id) AS BIGINT)
           AS touch_rank,
         CAST(count(*) OVER (PARTITION BY e.user_id) AS BIGINT) AS n_touches
  FROM events e JOIN fp ON e.user_id = fp.user_id
  WHERE e.event_type = 'click' AND e.ts < fp.t1
)
SELECT user_id, event_id, touch_rank, n_touches,
       CAST(CASE
         WHEN n_touches = 1 THEN 1000000
         WHEN n_touches = 2 THEN 500000
         WHEN touch_rank = 1 THEN {_U_FIRST}
              + ({_U_MID} - ({_U_MID} // (n_touches - 2)) * (n_touches - 2))
         WHEN touch_rank = n_touches THEN {_U_LAST}
         ELSE {_U_MID} // (n_touches - 2)
       END AS BIGINT) AS credit_ppm
FROM t
"""


@register(
    "w20_position_attribution",
    category="windows",
    oracle=_W20_SQL,
)
def w20_position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U-shaped (position-based) multi-touch attribution: each user's
    click touches strictly before their FIRST purchase share credit
    40% first / 40% last / 20% split across middles — in exact integer
    ppm, k=1 → 10⁶, k=2 → 500k/500k, k≥3 → first also absorbs the
    middle-split remainder, so Σ credit = 10⁶ per user EXACTLY (the
    guard test in tests/test_registered_guards.py pins it — the
    marketing-analytics op next to w17's last-touch). One shuffle on
    user_id feeds the min-purchase agg, the ordered window, and the
    per-user count; credits are pure integer CASE arithmetic —
    engine-exact. At 100 TB this is one user-keyed exchange reused by
    all three window stages (the w8 sessionize discipline)."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    touches = (
        ev.filter(F.col("event_type") == "click")
        .join(fp, "user_id")
        .filter(F.col("ts") < F.col("t1"))
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wall = Window.partitionBy("user_id")
    t = touches.select(
        "user_id",
        "event_id",
        F.row_number().over(w).cast("bigint").alias("touch_rank"),
        F.count(F.lit(1)).over(wall).cast("bigint").alias("n_touches"),
    )
    k, rn = F.col("n_touches"), F.col("touch_rank")
    mid_each = F.expr(f"{_U_MID} div (n_touches - 2)")
    slack = F.lit(_U_MID) - mid_each * (k - 2)
    credit = (
        F.when(k == 1, F.lit(1_000_000))
        .when(k == 2, F.lit(500_000))
        .when(rn == 1, F.lit(_U_FIRST) + slack)
        .when(rn == k, F.lit(_U_LAST))
        .otherwise(mid_each)
    )
    return t.select(
        "user_id",
        "event_id",
        "touch_rank",
        "n_touches",
        credit.cast("bigint").alias("credit_ppm"),
    )
