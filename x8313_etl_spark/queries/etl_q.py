"""ETL-lifecycle ops (task-brief completeness, round 2): CDC merge
(upsert+delete), data-quality profiling, schema-evolution reads, and
cohort retention.

Spark (without a table format) has no MERGE statement; the Spark-first
expression of CDC apply is a keyed full-outer join + CASE resolution —
one shuffle on the merge key, AQE-broadcast when the change set is
small, which is the normal case for incremental loads. The change set
here is DERIVED deterministically from the base table (the fixtures
ship no CDC feed), so both engines build bit-identical inputs and the
merge logic itself is what the oracle verifies.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.numeric import dsum, sql_dsum
from ..io import load_table
from ..registry import register
from .sources_q import scratch, _tag

#: deterministic CDC rules over customer: key % these pick the op.
#: 91 = 7·13 keys get both U and D → D wins (last-writer-delete, the
#: conventional CDC resolution) — the precedence the oracle pins.
UPD_MOD = 7
DEL_MOD = 13
INS_MOD = 11
INS_KEY_OFFSET = 1_000_000


@register(
    "m1_merge_upsert",
    category="etl",
    bench=True,
    oracle=f"""
WITH base AS (SELECT c_custkey, c_acctbal FROM customer),
upd AS (SELECT c_custkey, c_acctbal + 100.0 AS new_bal FROM base WHERE c_custkey % {UPD_MOD} = 0),
del AS (SELECT c_custkey FROM base WHERE c_custkey % {DEL_MOD} = 0),
ins AS (SELECT c_custkey + {INS_KEY_OFFSET} AS c_custkey, 0.0 AS new_bal
        FROM base WHERE c_custkey % {INS_MOD} = 0)
SELECT b.c_custkey,
       coalesce(u.new_bal, b.c_acctbal) AS acctbal,
       CASE WHEN u.c_custkey IS NOT NULL THEN 'updated' ELSE 'kept' END AS op
FROM base b LEFT JOIN upd u USING (c_custkey)
WHERE b.c_custkey NOT IN (SELECT c_custkey FROM del)
UNION ALL
SELECT c_custkey, new_bal AS acctbal, 'inserted' AS op FROM ins
""",
)
def m1_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M1: CDC merge — apply an upsert/delete change set to a base
    table, MERGE-statement semantics without a table format. The change
    set (updates, deletes, inserts; deletes win over updates on key
    collision) is applied as one keyed left join with CASE resolution
    plus a disjoint union of inserts (insert keys are new by
    construction here; when inserts may collide with live keys the same
    plan becomes a full-outer join). At 100 TB this is a single key
    shuffle, and when the change batch is the usual <1% of the base,
    AQE broadcasts it and the merge is a map-only pass over the base."""
    base = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    changes = base.select(
        "c_custkey",
        F.when(F.col("c_custkey") % DEL_MOD == 0, F.lit("D"))
        .when(F.col("c_custkey") % UPD_MOD == 0, F.lit("U"))
        .alias("cdc_op"),
        (F.col("c_acctbal") + 100.0).alias("new_bal"),
    ).filter(F.col("cdc_op").isNotNull())
    inserts = base.filter(F.col("c_custkey") % INS_MOD == 0).select(
        (F.col("c_custkey") + INS_KEY_OFFSET).alias("c_custkey"),
        F.lit(0.0).alias("acctbal"),
        F.lit("inserted").alias("op"),
    )
    merged = (
        base.join(changes.select("c_custkey", "cdc_op", "new_bal"), "c_custkey", "left")
        .filter((F.col("cdc_op").isNull()) | (F.col("cdc_op") != "D"))
        .select(
            "c_custkey",
            F.when(F.col("cdc_op") == "U", F.col("new_bal"))
            .otherwise(F.col("c_acctbal"))
            .alias("acctbal"),
            F.when(F.col("cdc_op") == "U", F.lit("updated"))
            .otherwise(F.lit("kept"))
            .alias("op"),
        )
    )
    return merged.unionAll(inserts)


@register(
    "dq_profile",
    category="etl",
    oracle=f"""
WITH colstats AS (
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(count(*) - count(o_totalprice) AS DOUBLE) AS null_totalprice,
         CAST(count(DISTINCT o_orderstatus) AS DOUBLE) AS distinct_status,
         CAST(min(o_totalprice) AS DOUBLE) AS min_totalprice,
         CAST(max(o_totalprice) AS DOUBLE) AS max_totalprice,
         CAST(count(*) FILTER (o_totalprice <= 0) AS DOUBLE) AS nonpositive_totalprice
  FROM orders
),
ri AS (
  SELECT CAST(count(*) AS DOUBLE) AS orphan_orders
  FROM orders o WHERE o.o_custkey NOT IN (SELECT c_custkey FROM customer)
)
SELECT chk.check_name, chk.metric FROM colstats, ri,
LATERAL (VALUES
  ('row_count', n),
  ('null_frac_totalprice', null_totalprice / n),
  ('distinct_status', distinct_status),
  ('min_totalprice', min_totalprice),
  ('max_totalprice', max_totalprice),
  ('nonpositive_totalprice', nonpositive_totalprice),
  ('orphan_orders', orphan_orders)
) AS chk(check_name, metric)
""",
)
def dq_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile (Deequ/dbt-test shape): completeness,
    cardinality, range, and referential-integrity checks emitted as
    (check_name, metric) rows. All column checks ride ONE scan of the
    fact table (conditional aggregates in a single global agg — adding
    a check adds a column, not a pass); the RI check is a broadcast
    anti-join on the dim whose violation count joins the same output.
    At 100 TB: one map-side-combined pass + one broadcast, no key
    shuffle at all."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    stats = o.agg(
        F.count(F.lit(1)).cast("double").alias("row_count"),
        (F.count(F.lit(1)) - F.count("o_totalprice")).cast("double").alias("_nulls"),
        F.countDistinct("o_orderstatus").cast("double").alias("distinct_status"),
        F.min("o_totalprice").cast("double").alias("min_totalprice"),
        F.max("o_totalprice").cast("double").alias("max_totalprice"),
        F.count_if(F.col("o_totalprice") <= 0).cast("double").alias(
            "nonpositive_totalprice"
        ),
    )
    orphans = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count(F.lit(1)).cast("double").alias("orphan_orders"))
    )
    wide = stats.crossJoin(orphans)
    return wide.select(
        F.expr(
            "stack(7, "
            "'row_count', row_count, "
            "'null_frac_totalprice', _nulls / row_count, "
            "'distinct_status', distinct_status, "
            "'min_totalprice', min_totalprice, "
            "'max_totalprice', max_totalprice, "
            "'nonpositive_totalprice', nonpositive_totalprice, "
            "'orphan_orders', orphan_orders) AS (check_name, metric)"
        )
    )


@register(
    "m2_time_travel",
    category="etl",
    oracle=f"""
WITH base AS (SELECT c_custkey, c_acctbal FROM customer),
v1 AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % {UPD_MOD} = 0 THEN c_acctbal + 100.0
              ELSE c_acctbal END AS bal
  FROM base WHERE c_custkey % {DEL_MOD} != 0
  UNION ALL
  SELECT c_custkey + {INS_KEY_OFFSET}, 0.0 FROM base WHERE c_custkey % {INS_MOD} = 0
)
SELECT coalesce(b.c_custkey, v1.c_custkey) AS c_custkey,
       CAST(b.c_acctbal AS DOUBLE) AS bal_v0,
       CAST(v1.bal AS DOUBLE) AS bal_v1,
       CASE WHEN v1.c_custkey IS NULL THEN 'deleted'
            WHEN b.c_custkey IS NULL THEN 'inserted'
            WHEN v1.bal != b.c_acctbal THEN 'updated'
            ELSE 'kept' END AS op
FROM base b FULL JOIN v1 ON b.c_custkey = v1.c_custkey
""",
)
def m2_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M2: snapshot-versioned table with MERGE + TIME TRAVEL
    (operators/snapshots.py) — the lakehouse capability VERDICT r03
    named as the largest real-user gap, expressed without an external
    table format: commits write data dirs first and an atomic manifest
    entry second (write-ahead-manifest, so torn writes are invisible),
    ``append`` commits reference parent dirs without rewriting, and
    time travel reads exactly the dir set an old manifest names. The
    query commits the customer base as v0, applies m1's deterministic
    CDC change set through ``apply_cdc`` (merge-on-read → v1: one
    positional deletion vector for the changed keys' rows plus one
    delta dir of the upserted rows, so the MERGE writes O(change) and
    v0's files are shared, not rewritten), then DIFFS v1 against the
    time-traveled v0 read — the audit query snapshots exist for. The
    v0 read is one plain scan; the v1 read is its data scan plus one
    broadcast anti-join against its DV. The twin recomputes both
    versions relationally; only the merge/travel machinery differs."""
    import shutil

    from ..operators.snapshots import SnapshotTable

    base = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    path = scratch(f"m2_snapshots_{_tag(sf_dir)}")
    shutil.rmtree(path, ignore_errors=True)  # deterministic rebuild per call
    tbl = SnapshotTable(path)
    tbl.commit(base)  # v0
    changes = base.select(
        "c_custkey",
        F.when(F.col("c_custkey") % DEL_MOD == 0, F.lit("D"))
        .when(F.col("c_custkey") % UPD_MOD == 0, F.lit("U"))
        .alias("cdc_op"),
        (F.col("c_acctbal") + 100.0).alias("c_acctbal_new"),
    ).filter(F.col("cdc_op").isNotNull()).select(
        "c_custkey", F.col("c_acctbal_new").alias("c_acctbal"), "cdc_op"
    )
    inserts = base.filter(F.col("c_custkey") % INS_MOD == 0).select(
        (F.col("c_custkey") + INS_KEY_OFFSET).alias("c_custkey"),
        F.lit(0.0).alias("c_acctbal"),
        F.lit("U").alias("cdc_op"),
    )
    tbl.apply_cdc(spark, changes.unionByName(inserts), "c_custkey")  # v1
    v0 = tbl.read(spark, version=0).select(
        F.col("c_custkey").alias("k0"), F.col("c_acctbal").alias("bal_v0")
    )
    v1 = tbl.read(spark).select(
        F.col("c_custkey").alias("k1"), F.col("c_acctbal").alias("bal_v1")
    )
    return v0.join(v1, v0.k0 == v1.k1, "full_outer").select(
        F.coalesce(F.col("k0"), F.col("k1")).alias("c_custkey"),
        F.col("bal_v0").cast("double"),
        F.col("bal_v1").cast("double"),
        F.when(F.col("k1").isNull(), F.lit("deleted"))
        .when(F.col("k0").isNull(), F.lit("inserted"))
        .when(F.col("bal_v1") != F.col("bal_v0"), F.lit("updated"))
        .otherwise(F.lit("kept"))
        .alias("op"),
    )


@register(
    "s11_schema_evolution",
    category="sources",
    oracle=f"""
WITH v1 AS (SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 10),
v2 AS (SELECT n_nationkey, n_name, n_regionkey FROM nation WHERE n_nationkey >= 10)
SELECT n_nationkey, n_name, n_regionkey, batch FROM (
  SELECT n_nationkey, n_name, NULL::BIGINT AS n_regionkey, 'v1' AS batch FROM v1
  UNION ALL
  SELECT n_nationkey, n_name, n_regionkey, 'v2' AS batch FROM v2
)
""",
)
def s11_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S11: schema-evolution read — two parquet batches written with
    different schemas (batch 2 adds a column), read back as ONE table
    with ``mergeSchema``; old rows surface NULL for the new column.
    This is the append-only schema-migration path a long-lived corpus
    needs: no rewrite of historical files, the scan unifies schemas at
    read time. (mergeSchema costs a footer read per file at planning —
    at 100 TB you pin the merged schema in a catalog instead; the read
    path is the same.)"""
    n = load_table(spark, sf_dir, "nation")
    path = scratch(f"s11_nation_evolved_{_tag(sf_dir)}")
    n.filter(F.col("n_nationkey") < 10).select("n_nationkey", "n_name").withColumn(
        "batch", F.lit("v1")
    ).write.mode("overwrite").parquet(path + "/b=1")
    n.filter(F.col("n_nationkey") >= 10).select(
        "n_nationkey", "n_name", "n_regionkey"
    ).withColumn("batch", F.lit("v2")).write.mode("overwrite").parquet(path + "/b=2")
    back = spark.read.option("mergeSchema", "true").parquet(path + "/b=1", path + "/b=2")
    return back.select("n_nationkey", "n_name", "n_regionkey", "batch")


@register(
    "a14_cohort_retention",
    category="aggregation",
    oracle="""
WITH firstday AS (
  SELECT user_id, min(date_trunc('day', ts)) AS cohort_day FROM events GROUP BY user_id
),
activity AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS active_day FROM events),
cohort_sizes AS (SELECT cohort_day, count(*) AS cohort_n FROM firstday GROUP BY cohort_day)
SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort,
       CAST(date_diff('day', f.cohort_day, a.active_day) AS BIGINT) AS day_offset,
       count(*) AS active_users,
       s.cohort_n
FROM activity a
JOIN firstday f USING (user_id)
JOIN cohort_sizes s ON s.cohort_day = f.cohort_day
WHERE date_diff('day', f.cohort_day, a.active_day) <= 7
GROUP BY 1, 2, s.cohort_n
""",
)
def a14_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14: cohort retention — users grouped by first-seen day, activity
    counted per day offset (the product-analytics retention matrix).
    ONE scan of events: the distinct (user, day) activity table is
    pooled (swap_persist) and everything else derives from it —
    first-seen is min(day) over the distinct days (identical to min
    over raw events), cohort sizes count the pooled first table. The
    raw three-branch form re-scanned and re-aggregated events once per
    branch (measured 3 live scans, scripts/scan_triage.py r10). The
    final count per (cohort, offset) has days² cardinality — tiny
    regardless of input size; the cohort size joins back on cohort_day
    (broadcast: one row per day)."""
    from ..operators.cachepool import swap_persist

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.date_trunc("day", F.col("ts")).alias("day")
    )
    activity = swap_persist("a14.activity", ev.distinct())
    first = swap_persist(
        "a14.first",
        activity.groupBy("user_id").agg(F.min("day").alias("cohort_day")),
    )
    sizes = first.groupBy("cohort_day").agg(F.count(F.lit(1)).alias("cohort_n"))
    off = F.datediff(F.col("day"), F.col("cohort_day"))
    return (
        activity.join(first, "user_id")
        .filter(off <= 7)
        .groupBy(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort"),
            off.cast("bigint").alias("day_offset"),
            "cohort_day",
        )
        .agg(F.count(F.lit(1)).alias("active_users"))
        .join(F.broadcast(sizes), "cohort_day")
        .select("cohort", "day_offset", "active_users", "cohort_n")
    )


@register(
    "a16_funnel_conversion",
    category="etl",
    oracle="""
WITH v AS (
  SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'click' AND e.ts > v.t1 GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS t3 FROM events e JOIN c ON e.user_id = c.user_id
  WHERE e.event_type = 'purchase' AND e.ts > c.t2 GROUP BY e.user_id
)
SELECT '1_view' AS step, count(*) AS users FROM v
UNION ALL SELECT '2_click', count(*) FROM c
UNION ALL SELECT '3_purchase', count(*) FROM p
""",
)
def a16_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16: ordered-step funnel (view → click → purchase) — users count
    at step k only if step k's FIRST event falls strictly after their
    step-(k-1) anchor, the semantics dashboards mean by "conversion"
    (a click before your first view doesn't count). Three min-aggs
    chained by user-keyed joins; every stage shuffles on user_id, so
    the exchange is planned once and each successive stage's input only
    shrinks. Counts are exact BIGINTs — no rate division, so the oracle
    needs no float reasoning."""
    from ..audit import audited_checkpoint

    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    # each user-sized step table feeds BOTH the next stage and its own
    # global count — checkpointed (w16's discipline) so the chain scans
    # events once per step filter instead of re-deriving every upstream
    # stage per count branch (6 true scans → 3, r10 plan sweep)
    v = audited_checkpoint(
        "a16.v",
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1")),
    )
    c = audited_checkpoint(
        "a16.c",
        ev.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2")),
    )
    p = audited_checkpoint(
        "a16.p",
        ev.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3")),
    )
    def _count(df: DataFrame, label: str) -> DataFrame:
        return df.agg(F.count(F.lit(1)).alias("users")).select(
            F.lit(label).alias("step"), "users"
        )
    return (
        _count(v, "1_view")
        .unionAll(_count(c, "2_click"))
        .unionAll(_count(p, "3_purchase"))
    )


# ---------------------------------------------------------------------------
# M3: incremental materialized-view maintenance from a CDC delta.
# ---------------------------------------------------------------------------

_M3_DEC = "decimal(25,6)"


def _m3_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )


def m3_materialize(base: DataFrame) -> DataFrame:
    """The maintained aggregate: per-nation row count + exact-decimal
    balance total. Decimal state is what makes increments associative —
    see queries docstring."""
    return base.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("c_acctbal").cast(_M3_DEC)).alias("total_dec"),
    )


def m3_delta(base: DataFrame) -> DataFrame:
    """Per-nation CDC delta contributions (dn, ds) from the
    deterministic m1 change generators, D-beats-U precedence:
    deletes retract (−1, −bal), surviving updates shift (0, +100),
    inserts add (+1, +0)."""
    bal = F.col("c_acctbal").cast(_M3_DEC)
    dels = base.filter(F.col("c_custkey") % DEL_MOD == 0).select(
        "c_nationkey", F.lit(-1).alias("dn"), (-bal).alias("ds")
    )
    upds = base.filter(
        (F.col("c_custkey") % UPD_MOD == 0) & (F.col("c_custkey") % DEL_MOD != 0)
    ).select(
        "c_nationkey",
        F.lit(0).alias("dn"),
        F.lit(100.0).cast(_M3_DEC).alias("ds"),
    )
    ins = base.filter(F.col("c_custkey") % INS_MOD == 0).select(
        "c_nationkey", F.lit(1).alias("dn"), F.lit(0.0).cast(_M3_DEC).alias("ds")
    )
    return dels.unionByName(upds).unionByName(ins)


def m3_merge(mv: DataFrame, delta: DataFrame) -> DataFrame:
    """Partial-agg merge: aggregate the delta per group key, full-outer
    join onto the view, add counts and decimal totals. Exactly the
    combine step of a distributed aggregate — which is why applying one
    big delta equals applying any split of it in any order
    (tests/test_m3_incremental.py pins batch-split invariance)."""
    dagg = delta.groupBy("c_nationkey").agg(
        F.sum("dn").alias("dn"), F.sum("ds").alias("ds")
    )
    return (
        mv.join(dagg, "c_nationkey", "full_outer")
        .select(
            "c_nationkey",
            (F.coalesce(F.col("cnt"), F.lit(0)) + F.coalesce(F.col("dn"), F.lit(0)))
            .alias("cnt"),
            (
                F.coalesce(F.col("total_dec"), F.lit(0).cast(_M3_DEC))
                + F.coalesce(F.col("ds"), F.lit(0).cast(_M3_DEC))
            ).alias("total_dec"),
        )
        .filter(F.col("cnt") > 0)
    )


@register(
    "m3_incremental_refresh",
    category="etl",
    oracle=f"""
WITH base AS (SELECT c_custkey, c_nationkey, c_acctbal FROM customer),
upd AS (SELECT c_custkey, c_acctbal + 100.0 AS new_bal FROM base
        WHERE c_custkey % {UPD_MOD} = 0),
del AS (SELECT c_custkey FROM base WHERE c_custkey % {DEL_MOD} = 0),
ins AS (SELECT c_custkey + {INS_KEY_OFFSET} AS c_custkey, c_nationkey,
               0.0 AS bal
        FROM base WHERE c_custkey % {INS_MOD} = 0),
post AS (
  SELECT b.c_custkey, b.c_nationkey, coalesce(u.new_bal, b.c_acctbal) AS bal
  FROM base b LEFT JOIN upd u USING (c_custkey)
  WHERE b.c_custkey NOT IN (SELECT c_custkey FROM del)
  UNION ALL
  SELECT c_custkey, c_nationkey, bal FROM ins
)
SELECT c_nationkey,
       CAST(count(*) AS BIGINT) AS cnt,
       {sql_dsum('bal')} AS total
FROM post GROUP BY c_nationkey
""",
)
def m3_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M3: incremental materialized-view maintenance — the per-nation
    (count, balance-total) aggregate is maintained by MERGING a CDC
    delta's partial aggregates into the existing view, never by
    rescanning the base table. The twin is the gold standard: a FULL
    recompute over the post-CDC state; hash equality proves
    incremental == full. Internal sum state stays DECIMAL end-to-end
    (base aggregate, delta aggregate, merge add) so the increment
    algebra is exact and associative — summing base then adding deltas
    is bit-identical to summing the post state, which double state
    could not guarantee; only the final output casts to double.

    Scale: the delta aggregate is delta-sized and map-side combined;
    the merge join shuffles GROUP KEYS (nations), not rows — the whole
    refresh touches the base table zero times, which is the entire
    point of incremental view maintenance at 100 TB. Count+sum are the
    self-maintainable aggregates; min/max would need the standard
    auxiliary-structure upgrade (documented, not implemented)."""
    base = _m3_base(spark, sf_dir)
    mv = m3_materialize(base)
    out = m3_merge(mv, m3_delta(base))
    return out.select(
        "c_nationkey",
        F.col("cnt").cast("bigint").alias("cnt"),
        F.col("total_dec").cast("double").alias("total"),
    )


@register(
    "m4_deletion_vectors",
    category="etl",
    oracle="""
SELECT c_custkey, c_nationkey, c_acctbal
FROM customer
WHERE NOT (c_acctbal < 0) AND NOT (c_custkey % 10 = 0)
""",
)
def m4_deletion_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M4: merge-on-read DELETE via POSITIONAL deletion vectors — the
    same tombstones m2's MERGE writes for the rows of its changed keys,
    here driven by predicates. Two successive deletes (negative balances, then every 10th
    key) each write only a (file_path, row_index) tombstone parquet and
    a manifest — zero data-file rewrites; the read path anti-joins the
    DV union against the parquet reader's hidden _metadata positions
    (operators/snapshots.py delete_where/_scan_minus_dvs — the Iceberg
    v2 position-delete design). The base table is written as FOUR files
    so positions are exercised per physical file, not per logical row
    order. The twin states the net visible effect declaratively; time
    travel across the delete chain, append-preserves-tombstones,
    compaction equivalence, and vacuum liveness for DV dirs are pinned
    in tests/test_snapshots.py.

    Scale: a DELETE costs O(matched rows) write + a manifest; reads pay
    one anti-join whose build side is the tombstone set (broadcast until
    DVs grow large — then rewrite_compact, the standard maintenance
    trade)."""
    import shutil

    from ..operators.snapshots import SnapshotTable

    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_acctbal"
    )
    path = scratch(f"m4_dv_{_tag(sf_dir)}")
    shutil.rmtree(path, ignore_errors=True)  # deterministic rebuild per call
    tbl = SnapshotTable(path)
    tbl.commit(base.repartition(4))  # v0, multi-file
    tbl.delete_where(spark, F.col("c_acctbal") < 0)  # v1
    tbl.delete_where(spark, F.col("c_custkey") % 10 == 0)  # v2
    return tbl.read(spark)


@register(
    "m5_equality_deletes",
    category="etl",
    oracle=f"""
SELECT c_custkey, c_acctbal
FROM customer WHERE NOT (c_custkey % 7 = 0)
UNION ALL
SELECT c_custkey + {INS_KEY_OFFSET} AS c_custkey, 0.0 AS c_acctbal
FROM customer WHERE c_custkey % 7 = 0
""",
)
def m5_equality_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M5: merge-on-read EQUALITY deletes with sequence scoping — the
    Iceberg-v2 sibling of m4's positional vectors, and the one that
    enables upsert-by-delete-then-append: (1) commit the customer base,
    (2) equality-delete every key ≡ 0 (mod 7), (3) APPEND replacement
    rows (offset keys, zeroed balances) — the appended dir is YOUNGER
    than the delete, so the delete does not touch it; a naive global
    key tombstone would wrongly swallow any appended row that reused a
    deleted key. The twin states the net effect: survivors plus
    replacements. The delete resolves its keys against the dirs that
    exist at delete time into one positional deletion vector (a scan of
    the table, O(deleted rows) written), so the read is the same one
    data scan minus one DV anti-join as m4's."""
    import shutil

    from ..operators.snapshots import SnapshotTable

    base = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    path = scratch(f"m5_eqdel_{_tag(sf_dir)}")
    shutil.rmtree(path, ignore_errors=True)  # deterministic rebuild per call
    tbl = SnapshotTable(path)
    tbl.commit(base.repartition(4))  # v0, multi-file
    doomed = base.filter(F.col("c_custkey") % 7 == 0)
    tbl.delete_eq(spark, doomed.select("c_custkey"), on="c_custkey")  # v1
    replacements = doomed.select(
        (F.col("c_custkey") + INS_KEY_OFFSET).alias("c_custkey"),
        F.lit(0.0).alias("c_acctbal"),
    )
    tbl.commit(replacements, mode="append")  # v2 — younger than the delete
    return tbl.read(spark)


@register(
    "m6_schema_evolution_snapshots",
    category="etl",
    oracle=f"""
SELECT c_custkey, c_acctbal, 'legacy' AS tier FROM customer
UNION ALL
SELECT c_custkey + {INS_KEY_OFFSET} AS c_custkey, c_acctbal,
       CASE WHEN c_acctbal >= 5000 THEN 'gold' ELSE 'std' END AS tier
FROM customer WHERE c_custkey % 3 = 0
""",
)
def m6_schema_evolution_snapshots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M6: schema evolution THROUGH the snapshot table — an append
    commit carries an ADDED column (c_tier); the manifest records each
    data dir's schema, and the read path scans a version under the
    union of its dirs' schemas, so evolved versions null-fill the old
    dirs without mergeSchema's per-file footer reads — planning the
    scan opens no file (s11's evolution semantics, now versioned: time
    travel to v0 yields the ORIGINAL two-column schema, pinned in
    tests/test_snapshots.py). Output backfills nulls with 'legacy' —
    the standard evolved-read pattern."""
    import shutil

    from ..operators.snapshots import SnapshotTable

    base = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    path = scratch(f"m6_evolve_{_tag(sf_dir)}")
    shutil.rmtree(path, ignore_errors=True)  # deterministic rebuild per call
    tbl = SnapshotTable(path)
    tbl.commit(base.repartition(2))  # v0: two columns
    evolved = base.filter(F.col("c_custkey") % 3 == 0).select(
        (F.col("c_custkey") + INS_KEY_OFFSET).alias("c_custkey"),
        "c_acctbal",
        F.when(F.col("c_acctbal") >= 5000, F.lit("gold"))
        .otherwise(F.lit("std"))
        .alias("c_tier"),
    )
    tbl.commit(evolved, mode="append")  # v1: adds c_tier
    return tbl.read(spark).select(
        "c_custkey",
        "c_acctbal",
        F.coalesce(F.col("c_tier"), F.lit("legacy")).alias("tier"),
    )


@register(
    "m7_wap_publish",
    category="etl",
    oracle="""
SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal >= 0
""",
)
def m7_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M7: WRITE-AUDIT-PUBLISH over snapshot branches — the lakehouse
    release workflow: (write) a cleaned rewrite (negative balances
    dropped) is committed on branch 'audit', invisible to main readers;
    (audit) validation runs against the BRANCH read — here the gate is
    'no negative balances survive', checked in-plan; (publish) main
    fast-forwards to the audited head atomically (a manifest write with
    the same link(2) mutual exclusion as any commit — a racing main
    writer loses cleanly). Main-before-publish isolation, the audit
    gate, publish-is-metadata-only, and branch-head vacuum liveness are
    pinned in tests/test_snapshots.py; the twin states the published
    result. The point at 100 TB: staging + promotion move ZERO data —
    both are manifest writes — while every reader keeps snapshot
    isolation."""
    import shutil

    from ..operators.snapshots import SnapshotTable

    base = load_table(spark, sf_dir, "customer").select("c_custkey", "c_acctbal")
    path = scratch(f"m7_wap_{_tag(sf_dir)}")
    shutil.rmtree(path, ignore_errors=True)  # deterministic rebuild per call
    tbl = SnapshotTable(path)
    tbl.commit(base.repartition(2))  # v0 on main — the dirty state
    cleaned = tbl.read(spark).filter(F.col("c_acctbal") >= 0)
    tbl.commit(cleaned, branch="audit")  # staged, main unaffected
    # audit gate on the BRANCH: publishing an unvalidated branch is the
    # exact failure WAP exists to prevent
    bad = tbl.read(spark, branch="audit").filter(F.col("c_acctbal") < 0).count()
    if bad:
        raise AssertionError(f"audit failed: {bad} negative balances staged")
    tbl.publish("audit")
    return tbl.read(spark)


# ---------------------------------------------------------------------------
# M8: incremental maintenance of a JOIN view (delta-join rule).
# ---------------------------------------------------------------------------

#: deterministic CDC rules over orders (the customer side reuses
#: UPD_MOD/DEL_MOD/INS_MOD): key % these pick the op; inserted orders
#: keep their source row's o_custkey, so an insert can reference a
#: customer the SAME batch deletes — the ΔA⋈ΔB term's job.
B_DEL_MOD = 17
B_UPD_MOD = 19
B_INS_MOD = 23
B_INS_KEY_OFFSET = 100_000_000


def m8_customer_zset(a: DataFrame) -> DataFrame:
    """Customer-side CDC delta as a Z-set: (c_custkey, c_nationkey,
    bal, am) rows with multiplicity am ∈ {-1, +1}. delete → (old, -1);
    update → (old, -1) + (new, +1); insert → (new, +1). D-beats-U as in
    m1/m3."""
    old = lambda m: [  # noqa: E731
        "c_custkey", "c_nationkey",
        F.col("c_acctbal").alias("bal"), F.lit(m).alias("am"),
    ]
    dels = a.filter(F.col("c_custkey") % DEL_MOD == 0).select(*old(-1))
    updk = (F.col("c_custkey") % UPD_MOD == 0) & (
        F.col("c_custkey") % DEL_MOD != 0
    )
    upd_old = a.filter(updk).select(*old(-1))
    upd_new = a.filter(updk).select(
        "c_custkey", "c_nationkey",
        (F.col("c_acctbal") + F.lit(100.0)).alias("bal"),
        F.lit(1).alias("am"),
    )
    ins = a.filter(F.col("c_custkey") % INS_MOD == 0).select(
        (F.col("c_custkey") + INS_KEY_OFFSET).alias("c_custkey"),
        "c_nationkey", F.lit(0.0).alias("bal"), F.lit(1).alias("am"),
    )
    return dels.unionByName(upd_old).unionByName(upd_new).unionByName(ins)


def m8_orders_zset(b: DataFrame) -> DataFrame:
    """Orders-side CDC delta as a Z-set: (o_orderkey, o_custkey, price,
    bm)."""
    old = lambda m: [  # noqa: E731
        "o_orderkey", "o_custkey",
        F.col("o_totalprice").alias("price"), F.lit(m).alias("bm"),
    ]
    dels = b.filter(F.col("o_orderkey") % B_DEL_MOD == 0).select(*old(-1))
    updk = (F.col("o_orderkey") % B_UPD_MOD == 0) & (
        F.col("o_orderkey") % B_DEL_MOD != 0
    )
    upd_old = b.filter(updk).select(*old(-1))
    upd_new = b.filter(updk).select(
        "o_orderkey", "o_custkey",
        (F.col("o_totalprice") + F.lit(10.0)).alias("price"),
        F.lit(1).alias("bm"),
    )
    ins = b.filter(F.col("o_orderkey") % B_INS_MOD == 0).select(
        (F.col("o_orderkey") + B_INS_KEY_OFFSET).alias("o_orderkey"),
        "o_custkey", F.col("o_totalprice").alias("price"),
        F.lit(1).alias("bm"),
    )
    return dels.unionByName(upd_old).unionByName(upd_new).unionByName(ins)


def m8_delta_join_maintain(
    vold: DataFrame, a_old: DataFrame, b_old: DataFrame,
    da: DataFrame, db: DataFrame,
) -> DataFrame:
    """The delta-join rule: ΔV = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB with multiplied
    Z-set multiplicities; V_new = (V_old ⊎ ΔV) with per-tuple
    multiplicity sums, keeping m > 0. ``a_old``/``b_old`` carry the
    view's column names (bal/price) so every term unions positionally
    clean by name. All three delta terms join on c_custkey.

    SET-semantics precondition: bases and view are sets (tuple
    multiplicity ≤ 1) and each applied delta respects that — assert
    (+1) only for absent tuples, retract (−1) only for present ones,
    which is exactly what primary-keyed CDC (delete / update / insert
    per key) produces and what the m8 generators emit. The final
    consolidation stores presence, not counts, so out-of-contract
    multiplicities > 1 would be flattened (operators/viewmaint.py
    documents the same contract for its streaming state)."""
    cols = ["o_orderkey", "c_custkey", "c_nationkey", "bal", "price"]
    t1 = b_old.join(da, b_old.o_custkey == da.c_custkey).select(
        *cols, F.col("am").alias("m")
    )
    t2 = db.join(a_old, db.o_custkey == a_old.c_custkey).select(
        *cols, F.col("bm").alias("m")
    )
    t3 = db.join(da, db.o_custkey == da.c_custkey).select(
        *cols, (F.col("am") * F.col("bm")).alias("m")
    )
    return (
        vold.withColumn("m", F.lit(1))
        .unionByName(t1)
        .unionByName(t2)
        .unionByName(t3)
        .groupBy(*cols)
        .agg(F.sum("m").alias("m"))
        .filter(F.col("m") > 0)
        .select(*cols)
    )


@register(
    "m8_delta_join_view",
    category="etl",
    oracle=f"""
WITH ca AS (
  SELECT c_custkey, c_nationkey,
         CASE WHEN c_custkey % {UPD_MOD} = 0 THEN c_acctbal + 100.0
              ELSE c_acctbal END AS bal
  FROM customer WHERE c_custkey % {DEL_MOD} != 0
  UNION ALL
  SELECT c_custkey + {INS_KEY_OFFSET}, c_nationkey, 0.0
  FROM customer WHERE c_custkey % {INS_MOD} = 0
),
ob AS (
  SELECT o_orderkey, o_custkey,
         CASE WHEN o_orderkey % {B_UPD_MOD} = 0 THEN o_totalprice + 10.0
              ELSE o_totalprice END AS price
  FROM orders WHERE o_orderkey % {B_DEL_MOD} != 0
  UNION ALL
  SELECT o_orderkey + {B_INS_KEY_OFFSET}, o_custkey, o_totalprice
  FROM orders WHERE o_orderkey % {B_INS_MOD} = 0
)
SELECT o_orderkey, c_custkey, c_nationkey, bal, price
FROM ob JOIN ca ON ob.o_custkey = ca.c_custkey
""",
)
def m8_delta_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M8: incremental maintenance of a two-table JOIN view — the
    classic delta-join rule m3's aggregate maintenance left open:
    ΔV = ΔA⋈B ∪ A⋈ΔB ∪ ΔA⋈ΔB, with CDC deltas encoded as Z-SETS
    (rows carrying ±1 multiplicities: update = retract old ⊎ assert
    new — the DBSP/differential-dataflow algebra). The cross-term
    ΔA⋈ΔB is what makes same-batch interactions exact: an order
    INSERTED in the batch referencing a customer DELETED in the same
    batch nets to zero (+1 from A⋈ΔB, −1·+1 from ΔA⋈ΔB); an
    update×update pair nets exactly one (new,new) row — the four-term
    cancellation is pinned by tests/test_m8_deltajoin.py on crafted
    literals, and the twin here is the gold standard: a FULL recompute
    of post-CDC A⋈B; hash equality proves incremental ≡ full.

    Scale: the three delta terms are delta×base joins — two shuffles
    keyed on the SAME join key the view itself uses (co-partitioned
    with the view's storage in a real deployment; AQE broadcasts the
    delta side at the usual <1% delta rate) and one delta×delta join
    that is delta-sized. The final multiplicity consolidation groups on
    the view key — the base table is never rescanned, which is the
    whole point of incremental view maintenance at 100 TB. Values pass
    through untouched (doubles joined, never summed), so no decimal
    state is needed, unlike m3's aggregate maintenance."""
    a_old = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", F.col("c_acctbal").alias("bal")
    )
    b_old = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.col("o_totalprice").alias("price")
    )
    vold = b_old.join(a_old, b_old.o_custkey == a_old.c_custkey).select(
        "o_orderkey", "c_custkey", "c_nationkey", "bal", "price"
    )
    from ..audit import audited_checkpoint

    # each delta feeds TWO join terms (ΔA⋈B and ΔA⋈ΔB; A⋈ΔB and
    # ΔA⋈ΔB) — checkpoint them so the z-set derivation builds once
    # (production-faithful too: a CDC feed is a materialized delta, not
    # a recomputation; the r10 plan sweep measured the unmaterialized
    # chain re-scanning customer/orders 10x each)
    da = audited_checkpoint(
        "m8.da", m8_customer_zset(load_table(spark, sf_dir, "customer"))
    )
    db = audited_checkpoint(
        "m8.db", m8_orders_zset(load_table(spark, sf_dir, "orders"))
    )
    return m8_delta_join_maintain(vold, a_old, b_old, da, db)


# ---------------------------------------------------------------------------
# DQ3: declarative constraint audit (registered round 7; twin
# pre-verified in tests/test_r7_candidates.py before registration).
# ---------------------------------------------------------------------------

_DQ3_SQL = """
WITH t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM orders),
v AS (
  SELECT 'orderkey_not_null' AS "check", 'not_null' AS kind,
         'o_orderkey' AS col,
         CAST(count(CASE WHEN o_orderkey IS NULL THEN 1 END) AS BIGINT)
           AS violations
  FROM orders
  UNION ALL
  SELECT 'orderkey_unique', 'unique', 'o_orderkey',
         CAST(count(o_orderkey) - count(DISTINCT o_orderkey) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'totalprice_min', 'min', 'o_totalprice',
         CAST(count(CASE WHEN o_totalprice < 0.0 THEN 1 END) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'status_domain', 'in_set', 'o_orderstatus',
         CAST(count(CASE WHEN o_orderstatus IS NOT NULL
                          AND o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 END)
              AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'priority_format', 'matches', 'o_orderpriority',
         CAST(count(CASE WHEN o_orderpriority IS NOT NULL
                          AND NOT regexp_full_match(o_orderpriority,
                                                    '^[1-5]-[A-Z ]+$')
                         THEN 1 END) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'urgent_is_open_or_final', 'expr', '',
         CAST(count(CASE WHEN NOT coalesce(
                        o_orderpriority <> '1-URGENT'
                        OR o_orderstatus IN ('O', 'F', 'P'), FALSE)
                         THEN 1 END) AS BIGINT)
  FROM orders
  UNION ALL
  SELECT 'custkey_fk', 'ref', 'o_custkey',
         CAST((SELECT count(*) FROM orders o
               WHERE o.o_custkey IS NOT NULL
                 AND o.o_custkey NOT IN (SELECT c_custkey FROM customer))
              AS BIGINT)
)
SELECT v."check", v.kind, v.col, v.violations, t.total,
       v.violations = 0 AS passed
FROM v, t
"""


@register(
    "dq3_constraint_audit",
    category="etl",
    oracle=_DQ3_SQL,
)
def dq3_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ3: declarative data-quality constraint audit — a Deequ-style
    check suite (Schelter et al., public) evaluated in ONE scan of the
    audited table: not_null / unique / min / in_set / regex matches /
    arbitrary expr predicates each compile to a conditional-count
    aggregate column, collapsed to one (check, violations, passed) row
    per check; referential checks (FK) run as a broadcast anti-join
    count. Complements dq_profile (column stats) and dq2 (anomaly
    flags): this is the GATE a lakehouse write path runs before
    publish (the m7 WAP audit slot).

    Scale: all single-column checks share one pass — map-side
    conditional partials, a single global merge of check-count cells
    (rows never cross); `unique` rides the same aggregate via
    count−count(distinct); the FK anti-join broadcasts the (distinct)
    reference keys. Operator: operators/constraints.py (property-tested
    against a Python reference on random frames)."""
    from ..operators.constraints import Check, audit

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    return audit(
        o,
        [
            Check("orderkey_not_null", "not_null", "o_orderkey"),
            Check("orderkey_unique", "unique", "o_orderkey"),
            Check("totalprice_min", "min", "o_totalprice", value=0.0),
            Check("status_domain", "in_set", "o_orderstatus", values=("O", "F", "P")),
            Check(
                "priority_format",
                "matches",
                "o_orderpriority",
                pattern="^[1-5]-[A-Z ]+$",
            ),
            Check(
                "urgent_is_open_or_final",
                "expr",
                predicate="o_orderpriority <> '1-URGENT' OR o_orderstatus IN ('O','F','P')",
            ),
            Check("custkey_fk", "ref", "o_custkey", ref_df=c, ref_col="c_custkey"),
        ],
    ).select(
        "check", "kind", F.col("column").alias("col"), "violations", "total", "passed"
    )


# ---------------------------------------------------------------------------
# m9_time_travel + dq4_key_skew_profile (registered round 8; twins
# pre-verified in the retired tests/test_r7_candidates_b.py; guards now
# in tests/test_registered_guards.py, record in ROADMAP's r8 summary).
# ---------------------------------------------------------------------------

_M9_INS_OFFSET = 10_000_000

_M9_SQL = f"""
WITH v0 AS (SELECT c_custkey, c_acctbal FROM customer),
v1 AS (SELECT * FROM v0 WHERE NOT (c_acctbal < 0)),
v2 AS (
  SELECT * FROM v1
  UNION ALL
  SELECT c_custkey + {_M9_INS_OFFSET} AS c_custkey, 0.0 AS c_acctbal
  FROM customer WHERE c_custkey % 7 = 0
)
SELECT 0 AS version, count(*) AS n_rows,
       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS bal_cents
FROM v0
UNION ALL
SELECT 1, count(*),
       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) FROM v1
UNION ALL
SELECT 2, count(*),
       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) FROM v2
"""


@register(
    "m9_time_travel",
    category="etl",
    oracle=_M9_SQL,
)
def m9_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """M9: time travel over the snapshot chain — v0 = base commit (4
    files), v1 = merge-on-read DELETE (positional tombstones; v0's
    files untouched), v2 = APPEND (delta dir; parent tombstones stay
    live). Reads EVERY version via read(version=...) and emits
    per-version row counts + balance cents, so the twin — which
    reconstructs each version's CONTENT declaratively from the fixture
    — verifies that history is actually immutable: a delete that
    rewrote v0, or an append that dropped the tombstones,
    hash-mismatches. Completes the lakehouse suite m1–m8
    (operators/snapshots.py write-ahead-manifest; m2 reads ONE past
    version — this audits the whole chain).

    Scale: each versioned read is manifest-pruned parquet scans +
    broadcast anti-join against its tombstones; the audit aggregates
    are single-row per version (map-side combined). Balance in integer
    cents (engine-exact)."""
    import shutil

    from ..operators.snapshots import SnapshotTable

    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    )
    path = scratch(f"m9_tt_{_tag(sf_dir)}")
    shutil.rmtree(path, ignore_errors=True)
    tbl = SnapshotTable(path)
    tbl.commit(base.repartition(4))  # v0
    tbl.delete_where(spark, F.col("c_acctbal") < 0)  # v1
    ins = base.filter(F.col("c_custkey") % 7 == 0).select(
        (F.col("c_custkey") + _M9_INS_OFFSET).alias("c_custkey"),
        F.lit(0.0).alias("c_acctbal"),
    )
    tbl.commit(ins, mode="append")  # v2

    out = None
    for v in (0, 1, 2):
        snap = tbl.read(spark, version=v).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(
                F.round(F.col("c_acctbal") * 100).cast("bigint")
            ).alias("bal_cents"),
        ).select(F.lit(v).alias("version"), "n_rows", "bal_cents")
        out = snap if out is None else out.unionByName(snap)
    return out


_DQ4_TOP = 20

_DQ4_SQL = f"""
WITH per AS MATERIALIZED (
  SELECT o_custkey AS key, count(*) AS cnt FROM orders GROUP BY 1
),
stats AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS total, count(*) AS n_keys FROM per
),
ranked AS (
  SELECT key, cnt, row_number() OVER (ORDER BY cnt DESC, key) AS rnk FROM per
)
SELECT r.key, r.cnt, CAST(r.rnk AS INTEGER) AS rnk,
       r.cnt * 1000000 // s.total AS share_ppm,
       r.cnt * 1000 * s.n_keys // s.total AS skew_x1000
FROM ranked r CROSS JOIN stats s WHERE r.rnk <= {_DQ4_TOP}
"""


@register(
    "dq4_key_skew_profile",
    category="etl",
    oracle=_DQ4_SQL,
)
def dq4_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DQ4: join-key heavy-hitter / skew profiler — the diagnostic
    behind every salting decision (operators/skew.py, bandjoin's
    hot-bucket caps): per-key frequencies of a join key, global top-N
    heavy hitters WITHOUT an all-to-one sort (the two-phase global
    rank, operators/globalrank.py — the key table never funnels
    through one task), and integer skew metrics — share in ppm and
    ratio-to-mean ×1000, both truncating div so the twin is
    engine-exact.

    Scale: one groupBy on the key (map-side combined), the two-phase
    rank's bounded per-partition count table, and a 1-row scalar stats
    broadcast. Plan-guarded: ≤2 bounded single-partition stages, no
    CartesianProduct (tests/test_registered_guards.py)."""
    from ..operators.globalrank import with_global_rank

    o = load_table(spark, sf_dir, "orders")
    per = o.groupBy(F.col("o_custkey").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    ranked = with_global_rank(
        per,
        [F.col("cnt").desc(), F.col("key")],
        partitions=8,
        key="dq4.rank",
    )
    # stats over the RANKED frame, not `per`: with_global_rank
    # swap-persists its ranked intermediate, so this reuses the cached
    # per-key table — aggregating `per` directly would re-run the
    # orders scan + groupBy a second time (r8 review finding)
    stats = ranked.agg(
        F.sum("cnt").alias("total"), F.count(F.lit(1)).alias("n_keys")
    )
    return (
        ranked.filter(F.col("rn") < _DQ4_TOP)
        .crossJoin(F.broadcast(stats))
        .select(
            "key",
            "cnt",
            (F.col("rn") + 1).cast("int").alias("rnk"),
            F.expr("cnt * 1000000 div total").alias("share_ppm"),
            F.expr("cnt * 1000 * n_keys div total").alias("skew_x1000"),
        )
    )


_M10_UPD_MOD = 11
_M10_INS_OFFSET = 20_000_000

_M10_SQL = f"""
WITH v0 AS (SELECT c_custkey, c_acctbal FROM customer),
v1 AS (
  SELECT c_custkey,
         CASE WHEN c_custkey % {_M10_UPD_MOD} = 0
              THEN (c_custkey % 1000) / 100.0 ELSE c_acctbal END AS c_acctbal
  FROM v0
  WHERE NOT (c_acctbal < 0 AND c_custkey % {_M10_UPD_MOD} <> 0)
  UNION ALL
  SELECT c_custkey + {_M10_INS_OFFSET}, 1.5 FROM customer WHERE c_custkey % 7 = 0
),
a AS (SELECT c_custkey AS k, CAST(round(c_acctbal * 100) AS BIGINT) AS a_cents FROM v0),
b AS (SELECT c_custkey AS k, CAST(round(c_acctbal * 100) AS BIGINT) AS b_cents FROM v1),
j AS (
  SELECT coalesce(a.k, b.k) AS k, a.a_cents, b.b_cents
  FROM a FULL OUTER JOIN b ON a.k = b.k
)
SELECT CASE WHEN a_cents IS NULL THEN 'added'
            WHEN b_cents IS NULL THEN 'deleted'
            WHEN a_cents <> b_cents THEN 'changed'
            ELSE 'unchanged' END AS diff_class,
       count(*) AS n_rows,
       CAST(sum(coalesce(b_cents, 0) - coalesce(a_cents, 0)) AS BIGINT)
         AS cents_delta
FROM j GROUP BY 1
"""


@register(
    "m10_snapshot_diff",
    category="etl",
    oracle=_M10_SQL,
)
def m10_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic DIFF between two snapshot versions — the lakehouse
    debugging/audit tool ('what changed between Monday's and today's
    table'): v0 = base commit, v1 = CDC MERGE (deletes negative
    balances, updates every key % 11 to a stamped balance, inserts
    shifted keys). The diff full-outer-joins read(version=0) against
    read(version=1) on the key and classifies added / deleted /
    changed / unchanged, emitting per-class counts + balance-cents
    movement — so the twin (which reconstructs both versions
    declaratively) verifies version isolation AND the merge semantics
    at once. Scale: one keyed full-outer join between two
    manifest-pruned scans; the class aggregate map-side-combines to 4
    rows. All four classes fixture-pinned in
    tests/test_registered_guards.py."""
    import shutil

    from ..operators.snapshots import SnapshotTable

    base = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal"
    )
    path = scratch(f"m10_diff_{_tag(sf_dir)}")
    shutil.rmtree(path, ignore_errors=True)
    tbl = SnapshotTable(path)
    tbl.commit(base.repartition(4))  # v0
    upd = base.filter(F.col("c_custkey") % _M10_UPD_MOD == 0).select(
        "c_custkey",
        (F.col("c_custkey") % 1000 / 100).alias("c_acctbal"),
        F.lit("U").alias("cdc_op"),
    )
    dels = base.filter(
        (F.col("c_acctbal") < 0) & (F.col("c_custkey") % _M10_UPD_MOD != 0)
    ).select("c_custkey", F.lit(None).cast("double").alias("c_acctbal"),
             F.lit("D").alias("cdc_op"))
    ins = base.filter(F.col("c_custkey") % 7 == 0).select(
        (F.col("c_custkey") + _M10_INS_OFFSET).alias("c_custkey"),
        F.lit(1.5).alias("c_acctbal"),
        F.lit("U").alias("cdc_op"),
    )
    tbl.apply_cdc(spark, upd.unionByName(dels).unionByName(ins), on="c_custkey")  # v1

    a = tbl.read(spark, version=0).select(
        F.col("c_custkey").alias("k"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("a_cents"),
    )
    b = tbl.read(spark, version=1).select(
        F.col("c_custkey").alias("k"),
        F.round(F.col("c_acctbal") * 100).cast("bigint").alias("b_cents"),
    )
    j = a.join(b, "k", "full_outer")
    cls = (
        F.when(F.col("a_cents").isNull(), "added")
        .when(F.col("b_cents").isNull(), "deleted")
        .when(F.col("a_cents") != F.col("b_cents"), "changed")
        .otherwise("unchanged")
    )
    return (
        j.select(cls.alias("diff_class"),
                 F.coalesce("a_cents", F.lit(0)).alias("a_cents"),
                 F.coalesce("b_cents", F.lit(0)).alias("b_cents"))
        .groupBy("diff_class")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.col("b_cents") - F.col("a_cents")).alias("cents_delta"),
        )
    )


_DRIFT_BINS = 10

_DRIFT_SQL = f"""
WITH ev AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
         CAST(ROUND(value * 100) AS BIGINT) AS cents
  FROM events
),
thr AS (SELECT CEIL(quantile_cont(day, 0.5)) AS thr_day FROM ev),
halves AS (SELECT cents, day < thr.thr_day AS is_ref FROM ev, thr),
edges AS (SELECT min(cents) AS mn, max(cents) AS mx FROM halves WHERE is_ref),
binned AS (
  SELECT greatest(0, least({_DRIFT_BINS - 1},
           ({_DRIFT_BINS} * (cents - mn)) // (mx - mn + 1))) AS bin,
         CAST(sum(CASE WHEN is_ref THEN 1 ELSE 0 END) AS BIGINT) AS ref_cnt,
         CAST(sum(CASE WHEN is_ref THEN 0 ELSE 1 END) AS BIGINT) AS cur_cnt
  FROM halves, edges GROUP BY 1
),
tot AS (SELECT CAST(sum(ref_cnt) AS BIGINT) AS ref_n,
               CAST(sum(cur_cnt) AS BIGINT) AS cur_n FROM binned)
SELECT bin, ref_cnt, cur_cnt,
       CAST((1000000 * ref_cnt) // ref_n AS BIGINT) AS ref_ppm,
       CAST((1000000 * cur_cnt) // cur_n AS BIGINT) AS cur_ppm,
       CAST((1000000 * cur_cnt) // cur_n - (1000000 * ref_cnt) // ref_n
            AS BIGINT) AS delta_ppm
FROM binned, tot
"""


@register(
    "dq5_distribution_drift",
    category="etl",
    oracle=_DRIFT_SQL,
)
def dq5_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift audit (the PSI-style check behind model/data
    monitoring): split events at the median day (quantile-derived, the
    g3 ceil discipline — day numbers are small ints, exact in double),
    bin `value` into 10 equi-width bins whose edges come from the
    REFERENCE half's min/max cents (standard practice: the reference
    window owns the binning), clamp the current half into the edge
    bins, and emit per-bin counts + integer ppm rates + the rate delta.
    Everything after the two scans is bin-count sized (10 rows); the
    two scalar thresholds broadcast-cross, never collect. Integer
    cents/ppm throughout, so the audit is engine-exact."""
    ev = load_table(spark, sf_dir, "events").select(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date")).alias(
            "day"
        ),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    thr = ev.agg(F.ceil(F.expr("percentile(day, 0.5)")).alias("thr_day"))
    halves = ev.crossJoin(F.broadcast(thr)).withColumn(
        "is_ref", F.col("day") < F.col("thr_day")
    )
    edges = halves.filter("is_ref").agg(
        F.min("cents").alias("mn"), F.max("cents").alias("mx")
    )
    from ..audit import audited_checkpoint

    binned = (
        halves.crossJoin(F.broadcast(edges))
        .select(
            "is_ref",
            F.greatest(
                F.lit(0),
                F.least(
                    F.lit(_DRIFT_BINS - 1),
                    F.expr(f"(({_DRIFT_BINS} * (cents - mn)) div (mx - mn + 1))"),
                ),
            ).alias("bin"),
        )
        .groupBy("bin")
        .agg(
            F.sum(F.when(F.col("is_ref"), 1).otherwise(0)).alias("ref_cnt"),
            F.sum(F.when(F.col("is_ref"), 0).otherwise(1)).alias("cur_cnt"),
        )
    )
    # checkpoint the 10-row bin table: it feeds both the totals scalar
    # and the final select, and without materialization each reference
    # re-executed the whole events→threshold→edges chain (8 true scans
    # of events measured in the r10 plan sweep; 3 after)
    binned = audited_checkpoint("dq5.binned", binned)
    tot = binned.agg(
        F.sum("ref_cnt").alias("ref_n"), F.sum("cur_cnt").alias("cur_n")
    )
    return (
        binned.crossJoin(F.broadcast(tot))
        .select(
            "bin",
            "ref_cnt",
            "cur_cnt",
            F.expr("(1000000 * ref_cnt) div ref_n").alias("ref_ppm"),
            F.expr("(1000000 * cur_cnt) div cur_n").alias("cur_ppm"),
            (
                F.expr("(1000000 * cur_cnt) div cur_n")
                - F.expr("(1000000 * ref_cnt) div ref_n")
            ).alias("delta_ppm"),
        )
    )


_M11_INS_MOD = 3  # l_orderkey % 3 == 0 rows arrive as inserts
_M11_DEL_MOD = 13  # base rows with l_partkey % 13 == 0 are deleted

_M11_SQL = f"""
SELECT l_returnflag, l_linestatus,
       count(*) AS n_rows,
       CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT)
         AS qty_cents,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS price_cents
FROM lineitem
WHERE NOT (l_orderkey % {_M11_INS_MOD} <> 0 AND l_partkey % {_M11_DEL_MOD} = 0)
GROUP BY 1, 2
"""


@register(
    "m11_incremental_view_maintenance",
    category="etl",
    oracle=_M11_SQL,
)
def m11_incremental_view_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance (IVM): a SUM/COUNT materialized view
    is advanced by a signed delta instead of a recompute — the
    warehouse op that keeps a 100 TB fact table's rollup fresh with
    delta-sized work. Base state = lineitem without the insert slice;
    the delta carries +1 rows (the arriving slice) and −1 rows (base
    rows deleted by predicate). The MV algebra: aggregate the SIGNED
    delta per group (sign·1 for counts, sign·cents for sums — all
    int64), full-outer-merge with the standing MV on the group key, add
    componentwise, drop groups whose count reaches zero. The twin
    recomputes the final state from scratch, so the compare proves the
    delta algebra ≡ recompute. Scale: delta-sized scan + one MV-sized
    merge (the MV is groups-sized, tiny); the recompute the operator
    replaces is the full-fact-table aggregate."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        "l_linestatus",
        "l_orderkey",
        "l_partkey",
        F.round(F.col("l_quantity") * 100).cast("bigint").alias("qty_c"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("price_c"),
    )
    base = li.filter(F.col("l_orderkey") % _M11_INS_MOD != 0)
    ins = li.filter(F.col("l_orderkey") % _M11_INS_MOD == 0)
    dels = base.filter(F.col("l_partkey") % _M11_DEL_MOD == 0)

    def agg(df, sign):
        s = F.lit(sign)
        return df.groupBy("l_returnflag", "l_linestatus").agg(
            F.sum(s).cast("bigint").alias("dn"),
            F.sum(s * F.col("qty_c")).cast("bigint").alias("dqty"),
            F.sum(s * F.col("price_c")).cast("bigint").alias("dprice"),
        )

    mv = base.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("qty_c").cast("bigint").alias("qty_cents"),
        F.sum("price_c").cast("bigint").alias("price_cents"),
    )
    delta = (
        agg(ins, 1)
        .unionByName(agg(dels, -1))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("dn").cast("bigint").alias("dn"),
            F.sum("dqty").cast("bigint").alias("dqty"),
            F.sum("dprice").cast("bigint").alias("dprice"),
        )
    )
    merged = mv.join(delta, ["l_returnflag", "l_linestatus"], "full_outer")
    z = F.lit(0).cast("bigint")
    return (
        merged.select(
            "l_returnflag",
            "l_linestatus",
            (F.coalesce("n_rows", z) + F.coalesce("dn", z)).alias("n_rows"),
            (F.coalesce("qty_cents", z) + F.coalesce("dqty", z)).alias("qty_cents"),
            (F.coalesce("price_cents", z) + F.coalesce("dprice", z)).alias(
                "price_cents"
            ),
        )
        .filter(F.col("n_rows") > 0)
    )


_DQ6_SQL = """
WITH cells AS (
  SELECT c_nationkey, c_mktsegment, count(*) AS n
  FROM customer GROUP BY c_nationkey, c_mktsegment
),
t AS (SELECT CAST(FLOOR(quantile_cont(n, 0.25)) AS BIGINT) AS k FROM cells)
SELECT c_nationkey, c_mktsegment, CAST(n AS BIGINT) AS n, t.k,
       n <= t.k AS is_violation
FROM cells, t
"""


@register(
    "dq6_k_anonymity",
    category="etl",
    oracle=_DQ6_SQL,
)
def dq6_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-identification (k-anonymity) audit — the privacy governance
    gate (Sweeney's k-anonymity, public) the dq family lacks:
    p_pii_redact scrubs direct identifiers, but quasi-identifier
    COMBINATIONS re-identify when their cohort is small. Cohort sizes
    per quasi-identifier combination (nation × market segment on
    customer — the release-shaped columns), flagged against k. k is
    QUANTILE-DERIVED (floor of the 25th-percentile cohort size,
    violation = n ≤ k — the g3 non-constant-threshold rule, so the
    audit flags SOME but not ALL cohorts at every fixture sf including
    the one where the quartile equals the minimum; production passes
    the policy constant, classically n < 5). One single-row scalar
    broadcast (the h11 share-of-total idiom) — cells table is
    |nations|·|segments|-sized, never row-sized.

    Scale: ONE map-side-combined groupBy of the release table; the
    audit output is cohort-cardinality-sized. The production follow-up
    (generalization / suppression to repair violations) consumes
    exactly this table."""
    c = load_table(spark, sf_dir, "customer")
    cells = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n")
    )
    k = cells.agg(
        F.floor(F.expr("percentile(n, 0.25)")).cast("bigint").alias("k")
    )
    return cells.crossJoin(F.broadcast(k)).select(
        "c_nationkey",
        "c_mktsegment",
        F.col("n").cast("bigint").alias("n"),
        "k",
        (F.col("n") <= F.col("k")).alias("is_violation"),
    )


# ---------------------------------------------------------------------------
# dq8_freshness (registered round 12; twin pre-verified in the batch-J
# candidate suite at both fixture sfs — tests/test_r12_candidates.py,
# now retired)
# ---------------------------------------------------------------------------

_DQ8_SQL = """
WITH last AS (
  SELECT user_id, max(epoch_us(ts)) AS last_us FROM events GROUP BY user_id
),
hwm AS (SELECT max(last_us) AS hwm_us FROM last),
lag AS (
  SELECT user_id, hwm.hwm_us - last_us AS lag_us FROM last, hwm
),
r AS (
  SELECT user_id, lag_us,
         row_number() OVER (ORDER BY lag_us, user_id) AS rn,
         count(*) OVER () AS n
  FROM lag
),
thr AS (SELECT lag_us AS thr_us FROM r WHERE rn = (3 * n + 3) // 4)
SELECT r.user_id, CAST(r.lag_us AS BIGINT) AS lag_us,
       CAST(t.thr_us AS BIGINT) AS thr_us,
       r.lag_us > t.thr_us AS is_stale
FROM r, thr t
"""


@register(
    "dq8_freshness",
    category="etl",
    oracle=_DQ8_SQL,
)
def dq8_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness audit (the ingest monitor behind 'is any feed
    stale?'): per user, lag_us = global max(ts) − that user's last
    event, flagged against an EXACT rank-derived p75 threshold — the
    lag at 1-based rank ceil(3n/4) in (lag, user_id) order, computed as
    the integer ceil (3n+3) div 4, the p_embed_outliers discipline (no
    float quantile anywhere; epoch-µs ints throughout, so the audit is
    engine-exact). Quantile-derived ⇒ SOME keys flag and some don't at
    every fixture sf (production passes the SLA constant instead; the
    some-but-not-all guard lives in tests/test_registered_guards.py).
    Scale: one map-side-combined groupBy to the per-key lag table, the
    one-row high-water scalar broadcast, and the threshold rank via the
    TWO-PHASE globalrank core — no single-partition pass over the
    growing per-key table (operators/globalrank.py, dq4's shape)."""
    from ..operators.globalrank import with_global_rank

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("tus")
    )
    last = ev.groupBy("user_id").agg(F.max("tus").alias("last_us"))
    hwm = last.agg(F.max("last_us").alias("hwm_us"))
    lag = last.crossJoin(F.broadcast(hwm)).select(
        "user_id", (F.col("hwm_us") - F.col("last_us")).alias("lag_us")
    )
    ranked = with_global_rank(
        lag,
        [F.col("lag_us"), F.col("user_id")],
        partitions=8,
        key="dq8.rank",
        count_col="n",
    )
    thr = ranked.filter(
        F.col("rn") == F.expr("(3 * n + 3) div 4") - 1
    ).select(F.col("lag_us").alias("thr_us"))
    return (
        ranked.crossJoin(F.broadcast(thr))
        .select(
            "user_id",
            F.col("lag_us").cast("bigint").alias("lag_us"),
            F.col("thr_us").cast("bigint").alias("thr_us"),
            (F.col("lag_us") > F.col("thr_us")).alias("is_stale"),
        )
    )


# ---------------------------------------------------------------------------
# m12_dynamic_partition_overwrite (registered round 13; twin
# pre-verified in the batch-K candidate suite at both fixture sfs —
# tests/test_r13_candidates.py, now retired)
# ---------------------------------------------------------------------------

_M12_SQL = """
SELECT c_custkey, c_acctbal + 1000.0 AS acctbal,
       CAST(c_nationkey AS INTEGER) AS c_nationkey
FROM customer WHERE c_nationkey < 3 AND c_custkey % 2 = 0
UNION ALL
SELECT c_custkey, c_acctbal AS acctbal,
       CAST(c_nationkey AS INTEGER) AS c_nationkey
FROM customer WHERE c_nationkey >= 3
"""


@register(
    "m12_dynamic_partition_overwrite",
    category="etl",
    oracle=_M12_SQL,
)
def m12_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — Spark's native
    ``partitionOverwriteMode=dynamic`` write option: the second write
    replaces ONLY the partitions present in the incoming batch
    (nations 0–2, and only their even keys survive, proving whole-
    partition REPLACEMENT, not row merge), while every other partition
    keeps its original files untouched. This is the idempotent daily
    re-run primitive (recompute one day/region, overwrite just it)
    that the m-family's MERGE/snapshot variants don't cover. At 100 TB
    the cost is the delta's partitions only — the base table is never
    rewritten or even read by the write path. The whole-partition-
    replacement guard (odd keys gone under nations <3, retained above)
    lives in tests/test_registered_guards.py."""
    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_nationkey"
    )
    path = scratch(f"m12_dynp_{_tag(sf_dir)}")
    c.write.mode("overwrite").partitionBy("c_nationkey").parquet(path)
    delta = c.filter(
        (F.col("c_nationkey") < 3) & (F.col("c_custkey") % 2 == 0)
    ).select(
        "c_custkey",
        (F.col("c_acctbal") + 1000.0).alias("c_acctbal"),
        "c_nationkey",
    )
    delta.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("c_nationkey").parquet(path)
    back = spark.read.parquet(path)
    return back.select(
        "c_custkey",
        F.col("c_acctbal").alias("acctbal"),
        F.col("c_nationkey").cast("int").alias("c_nationkey"),
    )


# ---------------------------------------------------------------------------
# dq9_fd_audit (registered round 13 under the raised ≤10 budget; twin
# pre-verified in the batch-L candidate suite at both fixture sfs —
# tests/test_r14_candidates.py, now retired)
# ---------------------------------------------------------------------------

_DQ9_SQL = """
WITH f1 AS (
  SELECT 'part.p_name->p_brand' AS fd,
         CAST(count(*) AS BIGINT) AS n_keys,
         CAST(count(*) FILTER (nd > 1) AS BIGINT) AS n_violating
  FROM (SELECT p_name, count(DISTINCT p_brand) AS nd FROM part GROUP BY p_name)
),
f2 AS (
  SELECT 'orders.o_custkey->o_orderpriority' AS fd,
         CAST(count(*) AS BIGINT) AS n_keys,
         CAST(count(*) FILTER (nd > 1) AS BIGINT) AS n_violating
  FROM (SELECT o_custkey, count(DISTINCT o_orderpriority) AS nd
        FROM orders GROUP BY o_custkey)
),
f3 AS (
  SELECT 'nation.n_name->n_regionkey' AS fd,
         CAST(count(*) AS BIGINT) AS n_keys,
         CAST(count(*) FILTER (nd > 1) AS BIGINT) AS n_violating
  FROM (SELECT n_name, count(DISTINCT n_regionkey) AS nd
        FROM nation GROUP BY n_name)
),
u AS (SELECT * FROM f1 UNION ALL SELECT * FROM f2 UNION ALL SELECT * FROM f3)
SELECT fd, n_keys, n_violating,
       (1000000 * n_violating) // n_keys AS violation_ppm
FROM u
"""


@register(
    "dq9_fd_audit",
    category="etl",
    oracle=_DQ9_SQL,
)
def dq9_fd_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared functional-dependency audit: for each asserted FD
    'determinant → dependent', count keys whose determinant value maps
    to MORE than one distinct dependent value (the dependency
    violators) and report the violation rate in exact ppm. Three FDs
    in one suite — part.p_name→p_brand and orders.o_custkey→
    o_orderpriority (violated on the fixture: shared vocabulary names
    / multi-order customers) and nation.n_name→n_regionkey (clean) —
    so the audit output discriminates, not just flags (guard in
    tests/test_registered_guards.py); the Deequ-style "dependency
    holds" check dq1–dq8 don't cover. Each FD is one groupBy + one
    tiny count agg; tables are touched once each. At 100 TB: the
    per-FD shuffle is key-cardinality-sized and map-side-combined; the
    suite output is FD-count rows (one-row scalar aggs — ALLOWED entry
    in tests/test_shuffle_audit.py)."""

    def fd(df, name, det, dep):
        keys = df.groupBy(det).agg(
            F.count_distinct(dep).alias("nd")
        )
        return keys.agg(
            F.lit(name).alias("fd"),
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.count(F.when(F.col("nd") > 1, True)).cast("bigint").alias(
                "n_violating"
            ),
        )

    part = load_table(spark, sf_dir, "part")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    out = (
        fd(part, "part.p_name->p_brand", "p_name", "p_brand")
        .unionByName(
            fd(orders, "orders.o_custkey->o_orderpriority",
               "o_custkey", "o_orderpriority")
        )
        .unionByName(fd(nation, "nation.n_name->n_regionkey",
                        "n_name", "n_regionkey"))
    )
    return out.select(
        "fd",
        "n_keys",
        "n_violating",
        F.expr("(1000000 * n_violating) div n_keys").alias("violation_ppm"),
    )
