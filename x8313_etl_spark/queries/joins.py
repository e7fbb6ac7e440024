"""Join operators (SURVEY.md §2.3, J1-J11).

Scale notes per query are in the docstrings; the recurring themes:
small dims are broadcast (no fact shuffle), equi-joins shuffle on their
key with AQE skew splitting, and the as-of/range joins are single-
shuffle window formulations rather than per-key collects.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions.numeric import dsum, sql_dsum
from ..io import load_table
from ..operators.asof import asof_join
from ..operators.dedup import keep_first
from ..registry import register


@register(
    "j1_inner_equi_join",
    category="joins",
    oracle="""
SELECT o.o_orderkey, l.l_linenumber, l.l_quantity, o.o_totalprice, o.o_orderpriority
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_quantity >= 49
""",
)
def j1_inner_equi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: fact-to-fact equi join; the selective lineitem filter is pushed
    below the join so only matching keys shuffle."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49)
    o = load_table(spark, sf_dir, "orders")
    return li.join(o, li.l_orderkey == o.o_orderkey, "inner").select(
        "o_orderkey", "l_linenumber", "l_quantity", "o_totalprice", "o_orderpriority"
    )


@register(
    "j2_left_outer_join",
    category="joins",
    oracle="""
SELECT o.o_orderkey, o.o_orderstatus, l.l_linenumber, l.l_quantity
FROM orders o
LEFT JOIN (SELECT * FROM lineitem WHERE l_quantity > 48) l
  ON o.o_orderkey = l.l_orderkey
""",
)
def j2_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: left outer — unmatched orders keep null lineitem columns."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 48)
    return o.join(li, o.o_orderkey == li.l_orderkey, "left").select(
        "o_orderkey", "o_orderstatus", "l_linenumber", "l_quantity"
    )


@register(
    "j2b_full_outer_join",
    category="joins",
    oracle="""
WITH c AS (
  SELECT c_nationkey AS nk, COUNT(*) AS n_cust FROM customer GROUP BY 1
), s AS (
  SELECT s_nationkey AS nk, COUNT(*) AS n_supp FROM supplier GROUP BY 1
)
SELECT COALESCE(c.nk, s.nk) AS nk, c.n_cust, s.n_supp
FROM c FULL OUTER JOIN s ON c.nk = s.nk
""",
)
def j2b_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: full outer over two pre-aggregated sides (nations may have
    customers but no suppliers, or vice versa)."""
    c = (
        load_table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    s = (
        load_table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    return c.join(s, "nk", "full").select(
        F.col("nk"), F.col("n_cust"), F.col("n_supp")
    )


@register(
    "j2c_right_outer_join",
    category="joins",
    oracle="""
SELECT o.o_orderkey, o.o_orderstatus, l.l_linenumber, l.l_quantity
FROM (SELECT * FROM lineitem WHERE l_quantity > 48) l
RIGHT JOIN orders o ON o.o_orderkey = l.l_orderkey
""",
)
def j2c_right_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: right outer — the mirrored padding semantics (planner
    canonicalizes to a left join with sides swapped; verified it reads
    identically here)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 48)
    return li.join(o, o.o_orderkey == li.l_orderkey, "right").select(
        "o_orderkey", "o_orderstatus", "l_linenumber", "l_quantity"
    )


@register(
    "j3_broadcast_star_join",
    category="joins",
    bench=True,
    oracle=f"""
SELECT r.r_name,
       COUNT(*) AS n_customers,
       {sql_dsum('c.c_acctbal')} AS total_balance
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY r.r_name
""",
)
def j3_broadcast_star_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: explicit broadcast of the dim tables — the fact side never
    shuffles for the join (plan-shape test asserts BroadcastHashJoin)."""
    c = load_table(spark, sf_dir, "customer")
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        c.join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            dsum("c_acctbal").alias("total_balance"),
        )
    )


@register(
    "j4_left_semi",
    category="joins",
    oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
)
""",
)
def j4_left_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: existence filter — no right columns, no row multiplication."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "j5_left_anti",
    category="joins",
    oracle="""
SELECT c_custkey, c_name
FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""",
)
def j5_left_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J5: non-existence filter (customers who never ordered)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "j6_cross_join",
    category="joins",
    oracle="""
SELECT r.r_name, s.o_orderstatus
FROM region r
CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
""",
)
def j6_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: cartesian of two tiny inputs (the only sane cross-join shape;
    anything larger must go through a key or LSH bucketing)."""
    r = load_table(spark, sf_dir, "region").select("r_name")
    s = load_table(spark, sf_dir, "orders").select("o_orderstatus").distinct()
    return r.crossJoin(s)


@register(
    "j7_theta_join",
    category="joins",
    oracle="""
SELECT n1.n_name AS name_a, n2.n_name AS name_b, n1.n_regionkey AS rk
FROM nation n1
JOIN nation n2
  ON n1.n_regionkey = n2.n_regionkey AND n1.n_nationkey < n2.n_nationkey
""",
)
def j7_theta_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7: equi + inequality conjunct (unordered pairs within a region).
    The equi part keys the shuffle; the inequality is a post-join filter,
    so this stays a hash join, not a nested loop."""
    n = load_table(spark, sf_dir, "nation")
    n1 = n.alias("n1")
    n2 = n.alias("n2")
    return n1.join(
        n2,
        (F.col("n1.n_regionkey") == F.col("n2.n_regionkey"))
        & (F.col("n1.n_nationkey") < F.col("n2.n_nationkey")),
    ).select(
        F.col("n1.n_name").alias("name_a"),
        F.col("n2.n_name").alias("name_b"),
        F.col("n1.n_regionkey").alias("rk"),
    )


@register(
    "j8_range_join",
    category="joins",
    bench=True,
    oracle="""
WITH p AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS p_ts
  FROM events WHERE event_type = 'purchase'
), c AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS c_ts
  FROM events WHERE event_type = 'click'
)
SELECT p.event_id AS purchase_id,
       p.user_id,
       COUNT(c.c_ts) AS clicks_before
FROM p
LEFT JOIN c
  ON p.user_id = c.user_id
 AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR
 AND c.c_ts <= p.p_ts
GROUP BY 1, 2
""",
)
def j8_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: interval/range join — clicks within the hour before each
    purchase, same user. The user_id equi-conjunct keys the shuffle;
    the time range filters within each key group, so cost is bounded by
    per-user event density, not |events|²."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    )
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"), F.col("ts").alias("c_ts")
    )
    joined = p.join(
        c,
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("c_ts") >= F.col("p_ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c_ts") <= F.col("p_ts")),
        "left",
    )
    return joined.groupBy("purchase_id", "user_id").agg(
        F.count("c_ts").alias("clicks_before")
    )


@register(
    "j9_asof_join",
    category="joins",
    bench=True,
    oracle="""
WITH p AS (
  SELECT event_id AS purchase_id, user_id, CAST(ts AS TIMESTAMP) AS p_ts
  FROM events WHERE event_type = 'purchase'
), v0 AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS v_ts, event_id AS view_id
  FROM events WHERE event_type = 'view'
), v AS (
  SELECT * FROM v0
  QUALIFY ROW_NUMBER() OVER (PARTITION BY user_id, v_ts ORDER BY view_id DESC) = 1
)
SELECT p.purchase_id, p.user_id, p.p_ts, v.view_id, v.v_ts
FROM p ASOF LEFT JOIN v
  ON p.user_id = v.user_id AND v.v_ts <= p.p_ts
""",
)
def j9_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9: as-of join — the view each user most recently saw at or before
    each purchase. Union+window formulation (operators/asof.py); right
    side deduped per (user, ts) for determinism."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.col("ts").alias("p_ts"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id"),
        F.col("ts").alias("v_ts"),
        F.col("event_id").alias("view_id"),
    )
    v = keep_first(v, ["user_id", "v_ts"], [F.col("view_id").desc()])
    return asof_join(
        p, v, by=["user_id"], left_on="p_ts", right_on="v_ts",
        value_cols=["view_id", "v_ts"],
    )


@register(
    "j10_self_join_lag",
    category="joins",
    oracle="""
SELECT event_id,
       user_id,
       LAG(event_id) OVER w AS prev_event_id,
       CAST(date_diff('second', LAG(CAST(ts AS TIMESTAMP)) OVER w, CAST(ts AS TIMESTAMP)) AS BIGINT) AS gap_s
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def j10_self_join_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10: self-join expressed as a lag window — one shuffle on user_id
    instead of a self equi-join (half the scan, no join at all)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    gap = (
        F.col("ts").cast("timestamp").cast("long")
        - prev_ts.cast("timestamp").cast("long")
    )
    return ev.select(
        "event_id",
        "user_id",
        F.lag("event_id").over(w).alias("prev_event_id"),
        gap.cast("bigint").alias("gap_s"),
    )


@register(
    "j11_star_join_revenue",
    category="joins",
    bench=True,
    oracle=f"""
SELECT r.r_name, n.n_name,
       {sql_dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
       COUNT(*) AS n_items
FROM lineitem l
JOIN orders o   ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n   ON c.c_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY r.r_name, n.n_name
""",
)
def j11_star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J11: 5-table star join (TPC-H Q5 shape). Join order: fact ⋈ orders
    (the one genuine shuffle pair), then dims broadcast outward-in; the
    orderdate filter lands on the orders scan before its shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
    )
    c = F.broadcast(load_table(spark, sf_dir, "customer"))
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    r = F.broadcast(load_table(spark, sf_dir, "region"))
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(n, c.c_nationkey == n.n_nationkey)
        .join(r, n.n_regionkey == r.r_regionkey)
        .groupBy("r_name", "n_name")
        .agg(dsum(revenue).alias("revenue"), F.count(F.lit(1)).alias("n_items"))
    )


@register(
    "j12_salted_skew_join",
    category="joins",
    oracle="""
SELECT e.user_id, c.c_mktsegment,
       COUNT(*) AS n_events
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY e.user_id, c.c_mktsegment
""",
)
def j12_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J12 (skew path): explicit salting — the events side joins through
    a deterministic 16-way salt so a hot user spreads over 16 reducers;
    the customer side replicates 16×. Result-identical to the plain
    join (the twin), only the shuffle distribution differs. Use when
    AQE's runtime skew split can't apply (operators/skew.py)."""
    from ..operators.skew import salted_join

    e = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), F.col("c_mktsegment")
    )
    return (
        salted_join(e, c, on="user_id", salt_by="event_id")
        .groupBy("user_id", "c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@register(
    "j13_null_aware_anti_join",
    category="joins",
    oracle="""
SELECT o_orderkey, o_custkey
FROM orders
WHERE o_custkey NOT IN (
  SELECT nullif(c_custkey, -1) FROM customer WHERE c_acctbal < 0
)
""",
)
def j13_null_aware_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J13: null-aware anti join — ``NOT IN (subquery)`` under SQL
    three-valued logic. A plain left-anti join (j5) treats NULL keys as
    non-matching; NOT IN must instead return UNKNOWN (drop the row) the
    moment the subquery contains ANY null — so the physical operator
    has to detect null build-side keys globally, not per-row. Catalyst
    plans this as a broadcast hash join with the null-aware flag
    (``LeftAnti, BuildRight, true`` — pinned in test_plans.py), which
    at 100 TB is the only sane shape: the subquery side must be
    broadcast anyway because every probe row needs to see the global
    any-null bit; a shuffled variant cannot answer NOT IN without a
    full replicate. The build key is typed nullable (``nullif``) so the
    null-aware machinery is genuinely engaged at plan time; at runtime
    the sentinel never fires, keeping the result set non-degenerate
    (one build-side NULL would legally empty the whole output)."""
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("j13_orders")
    load_table(spark, sf_dir, "customer").createOrReplaceTempView("j13_customer")
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey
        FROM j13_orders
        WHERE o_custkey NOT IN (
          SELECT nullif(c_custkey, -1) FROM j13_customer WHERE c_acctbal < 0
        )
        """
    )


_OVL_SESS_GAP_US = 30 * 60 * 1_000_000
_OVL_INC_GAP_US = 10 * 60 * 1_000_000
_OVL_HOUR_US = 3_600_000_000


@register(
    "j14_interval_overlap_join",
    category="joins",
    oracle=f"""
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {_OVL_SESS_GAP_US}
              THEN 1 ELSE 0 END AS brk
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sid AS (
  SELECT user_id, ts,
         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                        ROWS UNBOUNDED PRECEDING) AS sid
  FROM g
),
a AS (
  SELECT user_id, min(ts) AS s_start, max(ts) AS s_end
  FROM sid GROUP BY user_id, sid
),
eg AS (
  SELECT ts, date_trunc('day', ts) AS d,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > {_OVL_INC_GAP_US}
              THEN 1 ELSE 0 END AS brk
  FROM events WHERE event_type = 'error'
  WINDOW w AS (PARTITION BY date_trunc('day', ts) ORDER BY ts)
),
esid AS (
  SELECT ts, d, SUM(brk) OVER (PARTITION BY d ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS iid
  FROM eg
),
b AS (
  SELECT min(ts) AS i_start, max(ts) AS i_end
  FROM esid GROUP BY d, iid
)
SELECT a.user_id, a.s_start, a.s_end, b.i_start, b.i_end,
       CAST(least(epoch_us(a.s_end), epoch_us(b.i_end))
            - greatest(epoch_us(a.s_start), epoch_us(b.i_start)) AS BIGINT)
         AS overlap_us
FROM a JOIN b
  ON a.s_start <= b.i_end AND b.i_start <= a.s_end
""",
)
def j14_interval_overlap_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J14: interval-OVERLAP join with NO equi key — which user sessions
    (per-user activity runs, 30-min gap) overlap which error incidents
    (day-partitioned error-event runs, 10-min gap). Distinct from J8
    (point-in-interval under a user_id equi-conjunct): here nothing
    equi-joins, which is exactly where a naive plan degenerates to a
    nested-loop over |A|x|B|. The Spark side runs the temporal-BLOCKING
    formulation instead: every interval explodes into the hour blocks
    it covers, the join becomes an EQUI join on the block id, the exact
    closed-interval predicate filters within each block, and each
    surviving pair is emitted exactly once -- at the block containing
    greatest(starts), which any overlapping pair covers on both sides
    (no distinct pass; dedup is a filter, not a shuffle). Candidate
    volume is sum-over-blocks |A_blk| x |B_blk| -- concurrency per hour,
    not corpus x corpus (operators/overlap.py; block width is the
    dial -- match it to median interval length so each interval covers
    O(1) blocks). The twin IS the naive nested-loop -- fine at oracle
    scale, and the measurable contrast is the point. Incident
    sessionization partitions its window by DAY (midnight splits a
    run -- pinned semantics on both sides) so no unpartitioned global
    window exists anywhere in the plan."""
    from ..operators.overlap import interval_overlap_join
    from ..operators.sessionize import with_session_seq

    ev = load_table(spark, sf_dir, "events").withColumn(
        "um", F.unix_micros(F.col("ts").cast("timestamp"))
    )
    sess = (
        with_session_seq(ev, ["user_id"], _OVL_SESS_GAP_US)
        .groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("s_start"),
            F.max("ts").alias("s_end"),
            F.min("um").alias("s0"),
            F.max("um").alias("s1"),
        )
        .drop("session_seq")
    )
    err = ev.filter(F.col("event_type") == "error").withColumn(
        "d", F.date_trunc("day", F.col("ts"))
    )
    inc = (
        with_session_seq(err, ["d"], _OVL_INC_GAP_US)
        .groupBy("d", "session_seq")
        .agg(
            F.min("ts").alias("i_start"),
            F.max("ts").alias("i_end"),
            F.min("um").alias("i0"),
            F.max("um").alias("i1"),
        )
        .drop("d", "session_seq")
    )
    pairs = interval_overlap_join(sess, inc, _OVL_HOUR_US)
    return pairs.select(
        "user_id",
        "s_start",
        "s_end",
        "i_start",
        "i_end",
        (F.least("s1", "i1") - F.greatest("s0", "i0")).cast("bigint").alias("overlap_us"),
    )


_BAND_EPS_CENTS = 100  # |Δ acctbal| ≤ 1.00, in exact cents
_BAND_OFFSET_CENTS = 100_000  # shift TPC-H's −999.99 min into ℕ for blocking


@register(
    "j15_band_join",
    category="joins",
    oracle=f"""
SELECT c.c_custkey, s.s_suppkey,
       CAST(ROUND(c.c_acctbal * 100) AS BIGINT) AS c_cents,
       CAST(ROUND(s.s_acctbal * 100) AS BIGINT) AS s_cents,
       CAST(ROUND(c.c_acctbal * 100) - ROUND(s.s_acctbal * 100) AS BIGINT)
         AS diff_cents
FROM customer c JOIN supplier s
  ON abs(ROUND(c.c_acctbal * 100) - ROUND(s.s_acctbal * 100))
     <= {_BAND_EPS_CENTS}
""",
)
def j15_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J15: numeric band join — customer×supplier pairs whose account
    balances differ by ≤ 1.00, with NO equi key. |a−b| ≤ ε is exactly
    interval overlap of [a, a+ε] and [b, b+ε], so the proven temporal
    blocking core (operators/overlap.py, j14) runs unchanged on a
    second domain: each value covers ~2 ε-wide blocks, candidates meet
    through an EQUI join on block id, the exact band predicate filters,
    and emit-once-at-greatest-start dedups without a distinct shuffle.
    The twin is the naive theta join the nested-loop plan would run.
    Values are compared in EXACT CENTS (round(bal·100)) on both engines
    — a double band test would flip on representation boundaries — and
    offset into ℕ because block ids floor-divide. Candidate volume is
    Σ_blocks |C_blk|·|S_blk| (value co-occurrence, never |C|×|S|), and
    the block dial is ε itself — the natural width."""
    from ..operators.overlap import interval_overlap_join

    cents = lambda col: F.round(F.col(col) * 100).cast("bigint")  # noqa: E731
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        cents("c_acctbal").alias("c_cents"),
        (cents("c_acctbal") + _BAND_OFFSET_CENTS).alias("s0"),
        (cents("c_acctbal") + _BAND_OFFSET_CENTS + _BAND_EPS_CENTS).alias("s1"),
    )
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey",
        cents("s_acctbal").alias("s_cents"),
        (cents("s_acctbal") + _BAND_OFFSET_CENTS).alias("i0"),
        (cents("s_acctbal") + _BAND_OFFSET_CENTS + _BAND_EPS_CENTS).alias("i1"),
    )
    return interval_overlap_join(c, s, block_width=_BAND_EPS_CENTS).select(
        "c_custkey",
        "s_suppkey",
        "c_cents",
        "s_cents",
        (F.col("c_cents") - F.col("s_cents")).alias("diff_cents"),
    )


_BLOOM_BITS = 4096
_BLOOM_PRICE_MIN = 350_000.0  # selective "large order" dim predicate


@register(
    "j17_bloom_semi_join",
    category="joins",
    oracle=f"""
SELECT l_returnflag,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       {sql_dsum('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                     WHERE o_totalprice > {_BLOOM_PRICE_MIN})
GROUP BY l_returnflag
""",
)
def j17_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J17: semi join with an EXPLICIT bloom-style prefilter — the
    two-phase shape for 'fact semi-join dim' when the dim's KEY SET is
    too big to broadcast but a lossy summary is not: phase 1 collapses
    the dim keys to a hash-bucket membership array (≤4096 ints ≈ 16 KB
    regardless of dim size) broadcast into a map-side
    array_contains filter over the fact scan; phase 2 is the exact
    shuffle semi join over the survivors. The prefilter is
    CONSERVATIVE (bucket membership is a superset of key membership —
    false positives only), so the result is exactly the semi join and
    the twin is the plain IN-subquery; the bloom needs no cross-engine
    hash discipline because it never decides membership, only
    candidacy. Catalyst injects this same pattern adaptively (runtime
    bloom pruning, see sim_rerank_two_stage's ALLOWED note); here it is
    a first-class dial with an explicit size/selectivity trade. At
    100 TB: the 16 KB summary replaces shuffling the fact rows that
    would die in the join — the win scales with (1 − selectivity)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > _BLOOM_PRICE_MIN
    )
    buckets = o.agg(
        F.collect_set(
            F.abs(F.hash("o_orderkey")) % _BLOOM_BITS
        ).alias("__buckets")
    )
    prefiltered = (
        li.crossJoin(F.broadcast(buckets))
        .filter(
            F.array_contains(
                F.col("__buckets"), F.abs(F.hash("l_orderkey")) % _BLOOM_BITS
            )
        )
        .drop("__buckets")
    )
    return (
        prefiltered.join(o.select("o_orderkey"), li.l_orderkey == F.col("o_orderkey"), "semi")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
        )
    )


_J18_TOL_US = 90 * 60 * 1_000_000  # ±90 min

_J18_SQL = f"""
WITH p AS (
  SELECT event_id AS purchase_id, user_id, epoch_us(ts) AS p_tus
  FROM events WHERE event_type = 'purchase'
),
v AS (
  SELECT user_id, v_tus, view_id FROM (
    SELECT user_id, epoch_us(ts) AS v_tus, event_id AS view_id,
           row_number() OVER (
             PARTITION BY user_id, epoch_us(ts) ORDER BY event_id DESC
           ) AS rn
    FROM events WHERE event_type = 'view'
  ) WHERE rn = 1
),
ranked AS (
  SELECT p.purchase_id, p.user_id, v.view_id,
         abs(p.p_tus - v.v_tus) AS dist_us,
         CASE WHEN v.v_tus <= p.p_tus THEN 'backward' ELSE 'forward' END
           AS direction,
         row_number() OVER (
           PARTITION BY p.purchase_id
           ORDER BY abs(p.p_tus - v.v_tus),
                    CASE WHEN v.v_tus <= p.p_tus THEN 0 ELSE 1 END
         ) AS rn
  FROM p JOIN v ON v.user_id = p.user_id
   AND abs(p.p_tus - v.v_tus) <= {_J18_TOL_US}
)
SELECT p.purchase_id, p.user_id, r.view_id, r.dist_us,
       coalesce(r.direction, 'none') AS direction
FROM p LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r
  ON r.purchase_id = p.purchase_id
"""


@register(
    "j18_asof_nearest",
    category="joins",
    oracle=_J18_SQL,
)
def j18_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of NEAREST with tolerance (pandas merge_asof
    direction='nearest'): each purchase pairs with the view whose
    timestamp is closest within ±90 min — ties prefer the BACKWARD
    (at-or-before) side, the market-data convention. Composed from two
    passes of the verified backward asof operator (operators/asof.py):
    the forward direction is the same union+window pass on NEGATED
    timestamps (latest −v_ts ≤ −p_ts ⇔ earliest v_ts ≥ p_ts) — still
    one shuffle per pass, keyed by user, no join fan-out anywhere.
    Views are deduped per (user, ts) keeping max view_id (j9's
    convention) so both engines pick identical representatives.
    Tie-prefers-backward pinned by a crafted-fixture guard
    (tests/test_registered_guards.py); 10x sweep ~linear
    (git show 0b946b4:scripts/scale10x_r9.py)."""
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("p_tus"),
    )
    v = ev.filter(F.col("event_type") == "view").select(
        "user_id",
        F.unix_micros(F.col("ts").cast("timestamp")).alias("v_tus"),
        F.col("event_id").alias("view_id"),
    )
    v = keep_first(v, ["user_id", "v_tus"], [F.col("view_id").desc()])

    back = asof_join(
        p, v.select("user_id", "v_tus", F.col("view_id").alias("b_view_id"),
                    F.col("v_tus").alias("b_tus")),
        by=["user_id"], left_on="p_tus", right_on="v_tus",
        value_cols=["b_view_id", "b_tus"],
    )
    # forward = backward on negated time axes
    fwd = asof_join(
        p.select("purchase_id", "user_id", (-F.col("p_tus")).alias("n_p")),
        v.select("user_id", (-F.col("v_tus")).alias("n_v"),
                 F.col("view_id").alias("f_view_id"),
                 F.col("v_tus").alias("f_tus")),
        by=["user_id"], left_on="n_p", right_on="n_v",
        value_cols=["f_view_id", "f_tus"],
    ).select("purchase_id", "f_view_id", "f_tus")

    both = back.join(fwd, "purchase_id", "left")
    b_d = F.col("p_tus") - F.col("b_tus")
    f_d = F.col("f_tus") - F.col("p_tus")
    b_ok = F.col("b_tus").isNotNull() & (b_d <= F.lit(_J18_TOL_US))
    f_ok = F.col("f_tus").isNotNull() & (f_d <= F.lit(_J18_TOL_US))
    pick_back = b_ok & (~f_ok | (b_d <= f_d))  # tie → backward
    pick_fwd = f_ok & ~pick_back
    return both.select(
        "purchase_id",
        "user_id",
        F.when(pick_back, F.col("b_view_id"))
        .when(pick_fwd, F.col("f_view_id"))
        .alias("view_id"),
        F.when(pick_back, b_d).when(pick_fwd, f_d).alias("dist_us"),
        F.when(pick_back, F.lit("backward"))
        .when(pick_fwd, F.lit("forward"))
        .otherwise(F.lit("none"))
        .alias("direction"),
    )


def _j19_sql() -> str:
    from .windows import _W9_SQL

    return f"""
WITH dim AS MATERIALIZED ({_W9_SQL})
SELECT f.event_id AS purchase_id, f.user_id,
       CAST(round(f.value * 100) AS BIGINT) AS cents,
       d.event_type AS state,
       d.valid_from AS version_from
FROM events f
JOIN dim d ON d.user_id = f.user_id
  AND d.valid_from <= f.ts
  AND (d.valid_to IS NULL OR f.ts < d.valid_to)
WHERE f.event_type = 'purchase'
"""


@register(
    "j19_scd2_lookup",
    category="joins",
    oracle=_j19_sql(),
)
def j19_scd2_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 temporal dimension LOOKUP — the classic warehouse temporal
    join w9 builds the dimension for: each fact (purchase) joins the
    dimension version whose [valid_from, valid_to) interval contains
    its timestamp, answering 'what state was this user in when the
    purchase happened'. Every purchase lands in EXACTLY one version
    (w9's intervals partition each user's timeline from their first
    event, and the first event is always a change row), so the output
    is fact-sized — the join is an equi-join on the dimension key with
    a bounded per-key interval predicate, never a blow-up; at scale
    both sides shuffle once on user_id (or the dim broadcasts: SCD2
    dimensions are versions-per-entity small). The twin composes the
    verified _W9_SQL constant (the named-constant rule). Exactly-one-
    version-per-fact pinned in tests/test_registered_guards.py; 10x
    sweep 1.6x wall for 10x facts
    (git show 0b946b4:scripts/scale10x_r9.py)."""
    from .windows import w9_scd2_intervals

    dim = w9_scd2_intervals(spark, sf_dir).select(
        F.col("user_id").alias("d_user_id"),
        F.col("event_type").alias("state"),
        "valid_from",
        "valid_to",
    )
    facts = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("p_ts"),
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
    )
    return facts.join(
        dim,
        (F.col("user_id") == F.col("d_user_id"))
        & (F.col("valid_from") <= F.col("p_ts"))
        & (F.col("valid_to").isNull() | (F.col("p_ts") < F.col("valid_to"))),
    ).select(
        "purchase_id",
        "user_id",
        "cents",
        "state",
        F.col("valid_from").alias("version_from"),
    )
