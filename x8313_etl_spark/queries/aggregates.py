"""Aggregation operators (SURVEY.md §2.4, A1-A12).

All double sums/averages use the decimal-trick (functions/numeric.py)
so partial-agg order can't perturb the oracle hash. Everything here is
map-side partial-aggregated by Catalyst before the single shuffle on
the grouping key (A12 is a plan property, asserted in plan tests).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions.numeric import davg, dsum, dsum_cents, sql_davg, sql_dsum, sql_dsum_cents
from ..io import load_table
from ..registry import register


@register(
    "a1_groupby_basic",
    category="aggregation",
    bench=True,
    oracle=f"""
SELECT l_returnflag,
       l_linestatus,
       COUNT(*) AS cnt,
       {sql_dsum_cents('l_quantity')} AS sum_qty,
       MIN(l_extendedprice) AS min_price,
       MAX(l_extendedprice) AS max_price,
       ({sql_dsum_cents('l_discount')} / COUNT(*)) AS avg_disc
FROM lineitem
GROUP BY l_returnflag, l_linestatus
""",
)
def a1_groupby_basic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: hash group-by with count/sum/min/max/avg."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            dsum_cents("l_quantity").alias("sum_qty"),
            F.min("l_extendedprice").alias("min_price"),
            F.max("l_extendedprice").alias("max_price"),
            dsum_cents("l_discount").alias("_sd"),
        )
        .withColumn("avg_disc", F.col("_sd") / F.col("cnt"))
        .drop("_sd")
    )


@register(
    "a2_global_agg",
    category="aggregation",
    oracle=f"""
SELECT COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS n_customers,
       {sql_dsum('o_totalprice')} AS total_sales,
       {sql_davg('o_totalprice')} AS avg_sale,
       MIN(o_orderdate) AS first_order,
       MAX(o_orderdate) AS last_order
FROM orders
""",
)
def a2_global_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: keyless (whole-table) aggregation."""
    return load_table(spark, sf_dir, "orders").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.countDistinct("o_custkey").alias("n_customers"),
        dsum("o_totalprice").alias("total_sales"),
        davg("o_totalprice").alias("avg_sale"),
        F.min("o_orderdate").alias("first_order"),
        F.max("o_orderdate").alias("last_order"),
    )


@register(
    "a3_count_distinct",
    category="aggregation",
    oracle="""
SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
       COUNT(DISTINCT o_custkey) AS uniq_customers,
       COUNT(DISTINCT o_orderpriority) AS uniq_priorities,
       COUNT(*) AS n
FROM orders
GROUP BY 1
""",
)
def a3_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: exact distinct counts per group (expands to a two-phase agg)."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.year("o_orderdate").cast("bigint").alias("yr"))
        .agg(
            F.countDistinct("o_custkey").alias("uniq_customers"),
            F.countDistinct("o_orderpriority").alias("uniq_priorities"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@register(
    "a4_approx_count_distinct",
    category="aggregation",
    oracle=None,  # HLL sketch: rows-only; accuracy bounded in unit tests
)
def a4_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: HyperLogLog++ distinct-count sketch — the 100 TB path where
    exact distinct (a full shuffle of the keys) is too expensive."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
            F.countDistinct("l_partkey").alias("exact_parts"),
        )
    )


@register(
    "a5_conditional_agg",
    category="aggregation",
    oracle=f"""
SELECT o_orderstatus,
       COUNT(*) FILTER (WHERE o_totalprice > 100000) AS n_big,
       {sql_dsum("CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice ELSE 0.0 END")} AS urgent_sales,
       (CAST(SUM(CAST((CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN o_totalprice END) AS DECIMAL(25,6))) AS DOUBLE)
        / COUNT(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 END)) AS avg_hipri
FROM orders
GROUP BY o_orderstatus
""",
)
def a5_conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: filtered/conditional aggregation (CASE-guarded sums, count_if).

    Note `avg_hipri`: the CASE has no ELSE → nulls are excluded from both
    the sum and the count, matching SQL FILTER semantics.
    """
    o = load_table(spark, sf_dir, "orders")
    hipri = F.when(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), F.col("o_totalprice")
    )
    urgent = F.when(F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice")).otherwise(0.0)
    return o.groupBy("o_orderstatus").agg(
        F.count_if(F.col("o_totalprice") > 100000).alias("n_big"),
        dsum(urgent).alias("urgent_sales"),
        (F.sum(hipri.cast("decimal(25,6)")).cast("double") / F.count(hipri)).alias("avg_hipri"),
    )


_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "a6_rollup",
    category="aggregation",
    oracle=f"""
SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
       o_orderstatus,
       COUNT(*) AS cnt,
       {sql_dsum('o_totalprice')} AS total
FROM orders
GROUP BY ROLLUP (CAST(year(o_orderdate) AS BIGINT), o_orderstatus)
""",
)
def a6_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: rollup — (yr, status), (yr), () granularities in one pass;
    grouped-out keys surface as NULL exactly as in SQL ROLLUP."""
    o = load_table(spark, sf_dir, "orders")
    return o.rollup(
        F.year("o_orderdate").cast("bigint").alias("yr"),
        F.col("o_orderstatus"),
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        dsum("o_totalprice").alias("total"),
    )


@register(
    "a6b_cube",
    category="aggregation",
    oracle=f"""
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS cnt, {sql_dsum('o_totalprice')} AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
)
def a6b_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: cube — all four granularities of a two-key group in one pass."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("cnt"),
        dsum("o_totalprice").alias("total"),
    )


@register(
    "a6c_grouping_sets",
    category="aggregation",
    oracle=f"""
SELECT o_orderstatus, o_orderpriority,
       COUNT(*) AS cnt, {sql_dsum('o_totalprice')} AS total,
       CAST(grouping(o_orderstatus) AS INTEGER) AS g_status
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""",
)
def a6c_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: explicit grouping sets (status-only, priority-only, grand
    total) + the grouping() marker distinguishing real NULLs from
    grouped-out keys — via the SQL entry point, which is where grouping
    sets live in Spark's surface."""
    from ..io import register_temp_views

    register_temp_views(spark, sf_dir)
    return spark.sql(
        f"""
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS cnt, {sql_dsum('o_totalprice')} AS total,
               CAST(grouping(o_orderstatus) AS INTEGER) AS g_status
        FROM orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@register(
    "a7_collect_list_set",
    category="aggregation",
    oracle="""
SELECT s_nationkey,
       array_to_string(list_sort(list(s_suppkey)), '|') AS supp_keys,
       array_to_string(list_sort(list(DISTINCT s_name)), '|') AS supp_names
FROM supplier
GROUP BY s_nationkey
""",
)
def a7_collect_list_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: collect_list / collect_set, sorted for determinism (collection
    order is partition-dependent; sort_array pins it). The sorted lists
    are serialized to '|'-joined strings: array-typed result columns
    crash the grading harness's pandas canonicalization (unhashable
    list), and the string form is hash-identical across engines. Sorting
    happens on the native element type (numeric for keys), THEN the
    elements are stringified."""
    s = load_table(spark, sf_dir, "supplier")
    return s.groupBy("s_nationkey").agg(
        F.concat_ws(
            "|",
            F.transform(
                F.sort_array(F.collect_list("s_suppkey")),
                lambda x: x.cast("string"),
            ),
        ).alias("supp_keys"),
        F.concat_ws("|", F.sort_array(F.collect_set("s_name"))).alias("supp_names"),
    )


@register(
    "a8_statistical_aggs",
    category="aggregation",
    oracle="""
WITH m AS (
  SELECT l_returnflag,
         COUNT(*) AS cnt,
         CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sx2,
         CAST(SUM(CAST(l_extendedprice / 100 AS DECIMAL(25,6))) AS DOUBLE) AS sy,
         CAST(SUM(CAST((l_extendedprice / 100) * (l_extendedprice / 100) AS DECIMAL(25,6))) AS DOUBLE) AS sy2,
         CAST(SUM(CAST(l_quantity * (l_extendedprice / 100) AS DECIMAL(25,6))) AS DOUBLE) AS sxy
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       (sx2 - (sx * sx) / cnt) / (cnt - 1) AS var_qty,
       sqrt((sx2 - (sx * sx) / cnt) / (cnt - 1)) AS std_qty,
       ((sxy - (sx * sy) / cnt) / (cnt - 1)) * 100 AS covar_qty_price,
       ((sxy - (sx * sy) / cnt) / (cnt - 1))
         / (sqrt((sx2 - (sx * sx) / cnt) / (cnt - 1))
            * sqrt((sy2 - (sy * sy) / cnt) / (cnt - 1))) AS corr_qty_price
FROM m
""",
)
def a8_statistical_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: variance/stddev/covariance/correlation via exact decimal moment
    sums + identical double arithmetic on both engines — bit-exact where
    the builtin one-pass M2 implementations (F.stddev_samp / DuckDB's)
    differ in last-ulp. Unit tests pin this against F.stddev_samp/F.corr
    to 1e-9 relative, so the operator surface remains the builtins.
    """
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity")
    # Price scaled by 1/100 so squares stay < 1e7, where the double→
    # decimal(·,6) cast is cross-engine deterministic. The scale must be a
    # power of TEN: prices are 2-dp rationals, so scaled values/squares sit
    # ON the 1e-6 grid (never on half-boundaries, where Spark's HALF_UP on
    # shortest-repr and DuckDB's nearest on the exact binary expansion
    # disagree — a power-of-two scale puts ~1/64 of rows exactly there).
    # Covariance is scaled back by 100; correlation is scale-invariant.
    y = F.col("l_extendedprice") / 100
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("cnt"),
        dsum(x).alias("sx"),
        dsum(x * x).alias("sx2"),
        dsum(y).alias("sy"),
        dsum(y * y).alias("sy2"),
        dsum(x * y).alias("sxy"),
    )
    cnt = F.col("cnt")
    var_x = (F.col("sx2") - (F.col("sx") * F.col("sx")) / cnt) / (cnt - 1)
    var_y = (F.col("sy2") - (F.col("sy") * F.col("sy")) / cnt) / (cnt - 1)
    cov = (F.col("sxy") - (F.col("sx") * F.col("sy")) / cnt) / (cnt - 1)
    return m.select(
        "l_returnflag",
        var_x.alias("var_qty"),
        F.sqrt(var_x).alias("std_qty"),
        (cov * 100).alias("covar_qty_price"),
        (cov / (F.sqrt(var_x) * F.sqrt(var_y))).alias("corr_qty_price"),
    )


@register(
    "a9_percentiles",
    category="aggregation",
    tolerance=1e-9,
    oracle="""
SELECT l_returnflag,
       ROUND(median(l_extendedprice), 6) AS p50_price,
       ROUND(quantile_cont(l_extendedprice, 0.95), 6) AS p95_price,
       ROUND(quantile_cont(l_quantity, 0.25), 6) AS p25_qty
FROM lineitem
GROUP BY l_returnflag
""",
)
def a9_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: exact percentiles (linear interpolation), rounded to 6dp on
    both engines to absorb last-ulp interpolation differences. The 100 TB
    path is approx_percentile (sketch, no global sort) — covered
    rows-only in unit tests."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.median("l_extendedprice"), 6).alias("p50_price"),
        F.round(F.percentile("l_extendedprice", 0.95), 6).alias("p95_price"),
        F.round(F.percentile("l_quantity", 0.25), 6).alias("p25_qty"),
    )


@register(
    "a9b_approx_percentiles",
    category="aggregation",
    oracle=None,  # sketch output is engine-specific; rows-only check —
    # tests/test_aggregates_unit.py bounds its error against exact a9
)
def a9b_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9b: approx_percentile — the 100 TB percentile path. Exact
    percentile (a9) materializes every group's values for interpolation;
    the KLL-style sketch here is one map-side pass with mergeable
    partials, accuracy 1/10000 (worst-case rank error 0.01%), no global
    sort. Like a4's HLL sketch, the result is engine-specific, so the
    driver records a rows-only check; the error bound vs a9 is pinned by
    a unit test."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_percentile("l_extendedprice", 0.5, 10000).alias("p50_price"),
        F.approx_percentile("l_extendedprice", 0.95, 10000).alias("p95_price"),
        F.approx_percentile("l_quantity", 0.25, 10000).alias("p25_qty"),
    )


@register(
    "a10_max_by_min_by",
    category="aggregation",
    oracle="""
SELECT o_orderstatus,
       arg_max(o_orderkey, o_totalprice) AS biggest_order,
       arg_min(o_orderkey, o_totalprice) AS smallest_order,
       MAX(o_totalprice) AS max_price,
       MIN(o_totalprice) AS min_price
FROM orders
GROUP BY o_orderstatus
""",
)
def a10_max_by_min_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: order-pinned first/last per group via max_by/min_by
    (deterministic here because o_totalprice is unique per group in the
    fixtures; ties would need the struct-max idiom)."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderstatus").agg(
        F.max_by("o_orderkey", "o_totalprice").alias("biggest_order"),
        F.min_by("o_orderkey", "o_totalprice").alias("smallest_order"),
        F.max("o_totalprice").alias("max_price"),
        F.min("o_totalprice").alias("min_price"),
    )


@register(
    "a11_pivot",
    category="aggregation",
    oracle="""
SELECT user_id,
       COUNT(*) FILTER (WHERE event_type = 'click') AS click,
       COUNT(*) FILTER (WHERE event_type = 'error') AS error,
       COUNT(*) FILTER (WHERE event_type = 'purchase') AS purchase,
       COUNT(*) FILTER (WHERE event_type = 'signup') AS signup,
       COUNT(*) FILTER (WHERE event_type = 'view') AS view
FROM events
GROUP BY user_id
""",
)
def a11_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: pivot event_type → count columns. The pivot value list is
    explicit: at scale an implicit pivot adds a full distinct-value scan
    and makes the output schema data-dependent."""
    ev = load_table(spark, sf_dir, "events")
    pivoted = (
        ev.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.count(F.lit(1)))
    )
    return pivoted.select(
        "user_id",
        *[F.coalesce(F.col(t), F.lit(0)).alias(t) for t in _EVENT_TYPES],
    )


@register(
    "a13_hll_sketch_union",
    category="aggregation",
    oracle=None,  # sketch binary is engine-specific; rows-only check —
    # tests/test_aggregates_unit.py bounds the estimates against exact
)
def a13_hll_sketch_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13: MERGEABLE HLL sketches — the two-level distinct-count shape
    a 100 TB rollup pipeline is built on. Unlike a4 (which only reads
    out one estimate), this materializes the per-group sketch BINARIES
    (`hll_sketch_agg`) and then merges them with `hll_union_agg` to get
    the global distinct WITHOUT rescanning the input — the property that
    lets hourly sketches roll up to days/months at sketch (not data)
    cost, and lets every partial ship as a few KB regardless of input
    size. Per-type rows come from the sketch read-out; the 'ALL' row is
    a true sketch-merge of the five per-type states."""
    per_type = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
    )
    per_type = per_type.persist()
    readout = per_type.select(
        "event_type",
        F.hll_sketch_estimate("sk").cast("bigint").alias("approx_users"),
    )
    merged = per_type.select(F.hll_union_agg("sk").alias("u")).select(
        F.lit("ALL").alias("event_type"),
        F.hll_sketch_estimate("u").cast("bigint").alias("approx_users"),
    )
    return readout.unionAll(merged)


#: fixed histogram spec for o_totalprice: [0, 500k) in 25k buckets
HIST_STEP = 25_000
HIST_BUCKETS = 20


@register(
    "a15_histogram",
    category="aggregation",
    oracle=f"""
SELECT LEAST(CAST(floor(o_totalprice / {HIST_STEP}) AS BIGINT), {HIST_BUCKETS - 1}) AS bucket,
       CAST(LEAST(CAST(floor(o_totalprice / {HIST_STEP}) AS BIGINT), {HIST_BUCKETS - 1}) * {HIST_STEP} AS DOUBLE) AS lo,
       count(*) AS cnt
FROM orders GROUP BY 1, 2
""",
)
def a15_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15: fixed-width histogram — bucket = floor(x/step) clamped to
    the top bucket. The bucketing is a pure projection, so the whole
    histogram is one map-side-combined agg with at most {HIST_BUCKETS}
    groups: constant-size shuffle no matter the input (the way to
    histogram 100 TB; contrast with exact percentiles, which move every
    value). Float division by a power-of-10 step then floor is
    cross-engine exact for this data range."""
    o = load_table(spark, sf_dir, "orders")
    bucket = F.least(
        F.floor(F.col("o_totalprice") / HIST_STEP).cast("bigint"),
        F.lit(HIST_BUCKETS - 1),
    )
    return (
        o.select(bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            "bucket",
            (F.col("bucket") * HIST_STEP).cast("double").alias("lo"),
            "cnt",
        )
    )


@register(
    "a17_mergeable_moments",
    category="aggregation",
    oracle="""
WITH part AS (
  SELECT l_returnflag, l_linestatus,
         COUNT(*) AS cnt,
         CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sx2
  FROM lineitem GROUP BY l_returnflag, l_linestatus
),
merged AS (
  SELECT l_returnflag,
         CAST(SUM(cnt) AS BIGINT) AS cnt,
         CAST(SUM(CAST(sx AS DECIMAL(25,6))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(sx2 AS DECIMAL(25,6))) AS DOUBLE) AS sx2
  FROM part GROUP BY l_returnflag
)
SELECT l_returnflag, cnt,
       ROUND((sx2 - (sx * sx) / cnt) / (cnt - 1), 6) AS var_qty
FROM merged
""",
)
def a17_mergeable_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17: MERGEABLE moment partials — variance computed by rolling up
    fine-grained (flag, status) partial states (count, Σx, Σx²) into
    coarse per-flag groups WITHOUT rescanning the input. This is the
    algebraic-aggregate property a 100 TB rollup pipeline lives on
    (hourly partials → daily → monthly at partial, not data, cost) —
    a13 shows it for distinct counts (HLL), this shows it for exact
    statistics. Because the partials are decimal sums of on-grid values,
    merge-then-finalize is BIT-IDENTICAL to computing from scratch
    (pinned against a8 by tests/test_aggregates_unit.py: rollup ≡
    rescan, not just ≈). Output is canonicalized for the driver hash:
    ``var_qty`` rounded to 6dp on BOTH sides (the finalize chain
    ``(sx2 - sx*sx/cnt)/(cnt-1)`` can differ in the last ulp across
    engines — r03 hash mismatch) and the twin's merged ``cnt`` pinned
    to BIGINT (DuckDB SUM(BIGINT) yields HUGEINT, which stringifies
    differently)."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity")
    part = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("cnt"),
        dsum(x).alias("sx"),
        dsum(x * x).alias("sx2"),
    )
    merged = part.groupBy("l_returnflag").agg(
        F.sum("cnt").alias("cnt"),
        dsum("sx").alias("sx"),
        dsum("sx2").alias("sx2"),
    )
    cnt = F.col("cnt")
    return merged.select(
        "l_returnflag",
        "cnt",
        F.round(
            (F.col("sx2") - (F.col("sx") * F.col("sx")) / cnt) / (cnt - 1), 6
        ).alias("var_qty"),
    )


@register(
    "a18_bitmap_distinct",
    category="aggregation",
    oracle="""
SELECT o_orderpriority,
       CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers
FROM orders
GROUP BY o_orderpriority
""",
)
def a18_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A18: EXACT distinct counting over bounded integer ids via
    fixed-size bitmap segments — the third point on the distinct-count
    spectrum after a3 (exact, shuffles raw values) and a4/a13 (HLL,
    approximate). ``bitmap_bucket_number`` shards the id domain into
    32768-bit segments; each (priority, month, bucket) partial is ONE
    4 KB bitmap regardless of row count, ``bitmap_or_agg`` merges
    partials across months without re-touching raw ids, and
    ``bitmap_count`` + a sum over buckets finalizes. At 100 TB the
    shuffle carries O(groups × id_domain/32768) fixed-size bitmaps
    instead of every distinct id — mergeable like HLL but exact, the
    engine-native pattern for user-id-shaped (dense integer) domains.
    The month level exists to prove merge-correctness: rollup across
    partials ≡ direct distinct (the oracle)."""
    o = load_table(spark, sf_dir, "orders")
    keyed = o.select(
        "o_orderpriority",
        F.date_trunc("month", F.col("o_orderdate")).alias("month"),
        F.expr("bitmap_bucket_number(o_custkey)").alias("bucket"),
        F.expr("bitmap_bit_position(o_custkey)").alias("pos"),
    )
    part = keyed.groupBy("o_orderpriority", "month", "bucket").agg(
        F.expr("bitmap_construct_agg(pos)").alias("bm")
    )
    merged = part.groupBy("o_orderpriority", "bucket").agg(
        F.expr("bitmap_or_agg(bm)").alias("bm")
    )
    return merged.groupBy("o_orderpriority").agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("n_customers")
    )


@register(
    "a19_approx_top_k",
    category="aggregation",
    oracle="""
SELECT event_type AS item,
       CAST(COUNT(*) AS BIGINT) AS est_count
FROM events
GROUP BY event_type
""",
)
def a19_approx_top_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A19: heavy hitters via the ``approx_top_k`` sketch — one
    map-side pass with a bounded (maxItemsTracked=10000) frequency
    sketch per partition, merged on the driver-free single-row agg,
    then exploded to (item, est_count) rows. The exact twin holds
    because the sketch is EXACT whenever the column's domain fits the
    tracked capacity (event_type has 5 values at every sf, so counts
    are exact at 100 TB too — the honest framing: this query
    demonstrates the operator on a domain where its guarantee is
    equality; for high-cardinality domains the result degrades to
    approximate and belongs next to a4's rows-only convention). vs the
    exact group-by (a1-shape): no shuffle of raw rows at all — each
    task ships one sketch."""
    ev = load_table(spark, sf_dir, "events")
    topk = ev.select(F.expr("approx_top_k(event_type, 5, 10000)").alias("tk"))
    return topk.select(F.explode("tk").alias("e")).select(
        F.col("e.item").alias("item"),
        F.col("e.count").cast("bigint").alias("est_count"),
    )


@register(
    "a20_listagg",
    category="aggregation",
    oracle="""
SELECT s_nationkey,
       string_agg(s_name, '|' ORDER BY s_name) AS members,
       CAST(count(*) AS BIGINT) AS n
FROM supplier
GROUP BY s_nationkey
""",
)
def a20_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A20: ordered string aggregation (``listagg ... WITHIN GROUP``,
    SQL:2016; Spark 4 surface). The WITHIN GROUP order makes the result
    deterministic under any partial-agg merge order — without it,
    concat order depends on task scheduling and the query is
    unhashable. Same shuffle shape as a7's collect_list (one exchange
    on the group key, per-group state linear in group size), so the
    scale note mirrors a7: fine for bounded groups (names per nation),
    wrong for unbounded ones."""
    s = load_table(spark, sf_dir, "supplier")
    return s.groupBy("s_nationkey").agg(
        F.expr("listagg(s_name, '|') WITHIN GROUP (ORDER BY s_name)").alias(
            "members"
        ),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "a11b_unpivot",
    category="aggregation",
    oracle="""
SELECT l_orderkey, l_linenumber, 'qty' AS metric, l_quantity AS val
FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'price', l_extendedprice FROM lineitem
UNION ALL
SELECT l_orderkey, l_linenumber, 'discount', l_discount FROM lineitem
""",
)
def a11b_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11b: unpivot/melt — wide → long, the inverse reshape of a11's
    pivot. ``DataFrame.unpivot`` plans a single Expand over one scan
    (each input row fans out to 3 output rows in-place, map-only, no
    shuffle, no self-union) — the oracle says UNION ALL because that is
    the relational definition, but executing it that way would scan the
    table once per metric; the Expand form is the 100 TB shape.
    Plan-shape pinned (no Exchange, single scan) in test_plans.py."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").alias("qty"),
        F.col("l_extendedprice").alias("price"),
        F.col("l_discount").alias("discount"),
    )
    return li.unpivot(
        ["l_orderkey", "l_linenumber"], ["qty", "price", "discount"], "metric", "val"
    )


@register(
    "a21_mode",
    category="aggregation",
    oracle="""
SELECT c_mktsegment, o_orderpriority AS mode_priority, cnt AS mode_count
FROM (
  SELECT c_mktsegment, o_orderpriority, COUNT(*) AS cnt,
         ROW_NUMBER() OVER (
           PARTITION BY c_mktsegment
           ORDER BY COUNT(*) DESC, o_orderpriority
         ) AS rn
  FROM customer JOIN orders ON c_custkey = o_custkey
  GROUP BY c_mktsegment, o_orderpriority
)
WHERE rn = 1
""",
)
def a21_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A21: statistical MODE per group (SQL:2023 ``mode()``) — the most
    frequent order priority per market segment, with a deterministic
    value tiebreak (Spark's and DuckDB's native mode() leave ties
    engine-defined, so both sides compute the pinned two-level form:
    count per (group, value), then top-1 per group by (count desc,
    value)).

    Scale: the first aggregate shuffles on the composite key and
    map-side combines; the top-1 is w7's WindowGroupLimit shape over
    the ALREADY-AGGREGATED table — |groups|×|domain| rows, not input
    rows. The same decomposition computes mode over any unbounded
    value domain without per-group collection."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    counted = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("cnt"), F.col("o_orderpriority")
    )
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "c_mktsegment",
            F.col("o_orderpriority").alias("mode_priority"),
            F.col("cnt").alias("mode_count"),
        )
    )


@register(
    "a22_weighted_median",
    category="aggregates",
    oracle="""
WITH t AS (
  SELECT l_returnflag,
         l_extendedprice AS v,
         CAST(l_quantity AS DECIMAL(25,6)) AS w,
         SUM(CAST(l_quantity AS DECIMAL(25,6)))
           OVER (PARTITION BY l_returnflag
                 ORDER BY l_extendedprice, l_orderkey, l_linenumber
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
         SUM(CAST(l_quantity AS DECIMAL(25,6)))
           OVER (PARTITION BY l_returnflag) AS totw
  FROM lineitem
)
SELECT l_returnflag, MIN(v) AS wmedian
FROM t WHERE 2 * cumw >= totw
GROUP BY l_returnflag
""",
)
def a22_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A22: EXACT weighted median per group — the smallest value whose
    cumulative weight reaches half the group total (lower weighted
    median, the deterministic convention). One shuffle: both window
    passes (running cum-weight, group total) share the l_returnflag
    exchange, then a filter + MIN collapses to one row per group — no
    sort-to-driver, no percentile approximation. Weights accumulate in
    DECIMAL (windowed double SUM may run as a segment tree, so even a
    pinned row order would not pin addition order — functions/numeric
    policy), and the half-total test is ``2·cumw ≥ tot`` so no decimal
    division exists to round. Order within equal values cannot change
    MIN(v), but the tiebreak is pinned anyway (orderkey, linenumber).
    At 100 TB this is the textbook two-window single-exchange shape."""
    li = load_table(spark, sf_dir, "lineitem")
    wrun = (
        Window.partitionBy("l_returnflag")
        .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("l_returnflag")
    wdec = F.col("l_quantity").cast("decimal(25,6)")
    t = li.select(
        "l_returnflag",
        F.col("l_extendedprice").alias("v"),
        F.sum(wdec).over(wrun).alias("cumw"),
        F.sum(wdec).over(wall).alias("totw"),
    )
    return (
        t.filter(F.lit(2) * F.col("cumw") >= F.col("totw"))
        .groupBy("l_returnflag")
        .agg(F.min("v").alias("wmedian"))
    )


_CM_DEPTH = 4
_CM_WIDTH = 64


def _cm_sql_hash(d: int) -> str:
    return (
        f"((CAST(CONCAT('0x', substr(md5('cm{d}-' || CAST(user_id AS VARCHAR)), "
        f"1, 15)) AS BIGINT) % 2147483647) % {_CM_WIDTH})"
    )


@register(
    "a23_count_min",
    category="aggregates",
    oracle=" UNION ALL ".join(
        f"SELECT {d} AS depth, CAST({_cm_sql_hash(d)} AS INTEGER) AS bucket, "
        f"CAST(count(*) AS BIGINT) AS cnt FROM events "
        f"GROUP BY {_cm_sql_hash(d)}"
        for d in range(_CM_DEPTH)
    ),
)
def a23_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A23: count-min sketch over the event→user stream — d=4
    independent 31-bit md5-derived hash rows × w=64 buckets; cell
    (depth, bucket) holds the number of events whose user lands there,
    and a point estimate for any user is min over its d cells (the
    classic CM guarantee: overestimate only, by ≤ εN w.h.p.). Mergeable
    like a18/a19's sketches: cells from disjoint shards ADD. Built as
    one map-only explode (each event emits its d cells) + a single
    map-side-combined count whose key space is d×w = 256 — constant
    output at any corpus size, the defining property of a sketch
    aggregate. The twin enumerates the same md5 cells exactly, so the
    sketch CONTENT is verified, not just its shape."""
    e = load_table(spark, sf_dir, "events")
    cells = e.select(
        F.posexplode(
            F.array(
                *[
                    (
                        F.conv(
                            F.substring(
                                F.md5(
                                    F.concat(
                                        F.lit(f"cm{d}-"),
                                        F.col("user_id").cast("string"),
                                    )
                                ),
                                1,
                                15,
                            ),
                            16,
                            10,
                        ).cast("bigint")
                        % 2147483647
                    )
                    % _CM_WIDTH
                    for d in range(_CM_DEPTH)
                ]
            )
        ).alias("depth", "bucket")
    )
    return cells.groupBy("depth", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    ).select(
        F.col("depth").cast("int").alias("depth"),
        F.col("bucket").cast("int").alias("bucket"),
        "cnt",
    )


@register(
    "a24_global_median_twophase",
    category="aggregates",
    oracle="""
WITH r AS (
  SELECT l_extendedprice AS v,
         ROW_NUMBER() OVER (
           ORDER BY l_extendedprice, l_orderkey, l_linenumber
         ) - 1 AS rn,
         COUNT(*) OVER () AS n
  FROM lineitem
),
picked AS (
  SELECT * FROM r WHERE rn = (n - 1) // 2 OR rn = n // 2
)
SELECT CAST(MAX(n) AS BIGINT) AS n_rows,
       MIN(CASE WHEN rn = (n - 1) // 2 THEN v END) AS median_lo,
       MIN(CASE WHEN rn = n // 2 THEN v END) AS median_hi,
       (CAST(ROUND(MIN(CASE WHEN rn = (n - 1) // 2 THEN v END) * 100) AS BIGINT)
        + CAST(ROUND(MIN(CASE WHEN rn = n // 2 THEN v END) * 100) AS BIGINT))
       / 200.0 AS median
FROM picked
""",
)
def a24_global_median_twophase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A24: EXACT global median (order statistic over the WHOLE table)
    with no sort-to-one — the gap a9/a9b left open (a9 is per-group
    exact, a9b is the approx sketch). A naive
    ``ROW_NUMBER() OVER (ORDER BY price)`` funnels every row through
    one task; this uses the two-phase selection discipline
    (operators/globalrank.py, the o4 terasort core): range-exchange on
    the value, rank locally, turn the bounded per-partition count table
    into cumulative offsets with the one permissible single-partition
    window (over ≤ #partitions rows, never data), broadcast offsets
    back — global rank with data-sized work fully parallel. The median
    rows are then the two rank positions ⌊(n−1)/2⌋ and ⌊n/2⌋
    (quantile_cont(0.5) bracketing: equal for odd n), picked by filter
    and collapsed by a 2-row global aggregate.

    Cross-engine fp: median_lo/median_hi are untouched data values; the
    interpolated midpoint is computed from their exact cent integers —
    (round(lo·100) + round(hi·100)) / 200.0, one correctly-rounded
    double division of exact integers on both engines — so no
    double-add or decimal-tie rounding can diverge (functions/numeric
    policy). Tie order among equal prices cannot change the value at a
    rank position, but the rank order is pinned anyway (orderkey,
    linenumber).

    Scale: phase 1 is the same machinery as a full sort EXCEPT nothing
    ever concentrates: the only single-partition stage is over the
    partition-count table. At 100 TB the range exchange is the cost of
    one repartition of the column; a production variant would sample to
    probe only the median-straddling partition (two-pass selection) —
    the rank core here already exposes exactly that partition via
    __pid, documented not implemented."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    return two_phase_global_median(
        li,
        "l_extendedprice",
        [F.col("l_orderkey"), F.col("l_linenumber")],
        key="aggregates.a24_rank",
    )


def two_phase_global_median(
    df: DataFrame, value_col: str, tiebreaks: list, key: str
) -> DataFrame:
    """a24's core, factored for reuse and property testing: one-row
    DataFrame (n_rows, median_lo, median_hi, median) — the exact
    quantile_cont(0.5) bracketing over a total order on
    (value, *tiebreaks), ranked by the two-phase globalrank machinery
    (no all-to-one stage), midpoint from exact cent integers. ``key``
    names the swap-pool slot for the ranked intermediate."""
    from ..operators.globalrank import with_global_rank
    from ..session import default_parallelism

    ranked = with_global_rank(
        df,
        [F.col(value_col), *tiebreaks],
        partitions=default_parallelism(),
        key=key,
        rank_col="rn",
        count_col="n",
    )
    lo_pos = F.expr("(n - 1) div 2")
    hi_pos = F.expr("n div 2")
    picked = ranked.filter((F.col("rn") == lo_pos) | (F.col("rn") == hi_pos))
    lo = F.min(F.when(F.col("rn") == lo_pos, F.col(value_col)))
    hi = F.min(F.when(F.col("rn") == hi_pos, F.col(value_col)))
    return picked.agg(
        F.max("n").cast("bigint").alias("n_rows"),
        lo.alias("median_lo"),
        hi.alias("median_hi"),
        (
            (
                F.round(lo * 100).cast("bigint")
                + F.round(hi * 100).cast("bigint")
            )
            / F.lit(200.0)
        ).alias("median"),
    )


def two_phase_global_quantiles(
    df: DataFrame,
    value_col: str,
    tiebreaks: list,
    qs: list,
    key: str,
) -> DataFrame:
    """a25 candidate (ROADMAP): the median core generalized to a
    QUANTILE VECTOR in the same single rank pass. ``qs`` is a list of
    (name, num, den) exact fractions (e.g. ("p25", 1, 4)); for each q
    the quantile_cont position h = q·(n−1) is bracketed by rank
    positions ⌊h⌋/⌈h⌉ and interpolated EXACTLY in integer arithmetic:
    interp = (lo_cents·(den−inner) + hi_cents·inner) / (100·den) where
    inner = (num·(n−1)) mod den — one double division of exact
    integers, correctly rounded identically on any engine (the a24
    cent-integer discipline, generalized to arbitrary rational
    fractions). One-row output: n_rows + {name}_lo/{name}_hi/{name}
    per quantile.

    Scale: identical to the median — ONE range-exchange rank pass
    serves every quantile; only the bracketing filter widens to 2·|qs|
    rank positions. The filter + final aggregate still touch a
    constant number of rows."""
    from ..operators.globalrank import with_global_rank
    from ..session import default_parallelism

    ranked = with_global_rank(
        df,
        [F.col(value_col), *tiebreaks],
        partitions=default_parallelism(),
        key=key,
        rank_col="rn",
        count_col="n",
    )
    cond = F.lit(False)
    for name, num, den in qs:
        h = f"({num} * (n - 1))"
        ranked = ranked.withColumn(
            f"__lo_{name}", F.expr(f"{h} div {den}")
        ).withColumn(
            f"__hi_{name}", F.expr(f"({h} + {den} - 1) div {den}")
        ).withColumn(f"__in_{name}", F.expr(f"{h} % {den}"))
        cond = cond | (F.col("rn") == F.col(f"__lo_{name}")) | (
            F.col("rn") == F.col(f"__hi_{name}")
        )
    picked = ranked.filter(cond)
    aggs = [F.max("n").cast("bigint").alias("n_rows")]
    for name, num, den in qs:
        lo = F.min(
            F.when(F.col("rn") == F.col(f"__lo_{name}"), F.col(value_col))
        )
        hi = F.min(
            F.when(F.col("rn") == F.col(f"__hi_{name}"), F.col(value_col))
        )
        inner = F.max(F.col(f"__in_{name}"))
        aggs += [
            lo.alias(f"{name}_lo"),
            hi.alias(f"{name}_hi"),
            (
                (
                    F.round(lo * 100).cast("bigint") * (F.lit(den) - inner)
                    + F.round(hi * 100).cast("bigint") * inner
                )
                / F.lit(float(100 * den))
            ).alias(name),
        ]
    return picked.agg(*aggs)


# ---------------------------------------------------------------------------
# A25: exact global quantile VECTOR (registered round 7; twin
# pre-verified in tests/test_r7_candidates.py before registration).
# ---------------------------------------------------------------------------

_A25_QS = (("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4), ("p90", 9, 10))


def _a25_sql() -> str:
    # the a24 twin generalized: one rank CTE, 2·|qs| bracket positions,
    # cent-integer interpolation per quantile
    lo = {n: f"(({num} * (n - 1)) // {den})" for n, num, den in _A25_QS}
    hi = {n: f"((({num} * (n - 1)) + {den} - 1) // {den})" for n, num, den in _A25_QS}
    inner = {n: f"(({num} * (n - 1)) % {den})" for n, num, den in _A25_QS}
    picked = " OR ".join(f"rn = {lo[n]} OR rn = {hi[n]}" for n, _, _ in _A25_QS)
    cols = ["CAST(MAX(n) AS BIGINT) AS n_rows"]
    for n, _, den in _A25_QS:
        lo_v = f"MIN(CASE WHEN rn = {lo[n]} THEN v END)"
        hi_v = f"MIN(CASE WHEN rn = {hi[n]} THEN v END)"
        cols += [
            f"{lo_v} AS {n}_lo",
            f"{hi_v} AS {n}_hi",
            f"(CAST(ROUND({lo_v} * 100) AS BIGINT) * ({den} - MAX({inner[n]}))"
            f" + CAST(ROUND({hi_v} * 100) AS BIGINT) * MAX({inner[n]}))"
            f" / {float(100 * den)} AS {n}",
        ]
    return f"""
WITH r AS (
  SELECT l_extendedprice AS v,
         ROW_NUMBER() OVER (
           ORDER BY l_extendedprice, l_orderkey, l_linenumber
         ) - 1 AS rn,
         COUNT(*) OVER () AS n
  FROM lineitem
),
picked AS (SELECT * FROM r WHERE {picked})
SELECT {", ".join(cols)} FROM picked
"""


@register(
    "a25_global_quantiles",
    category="aggregates",
    oracle=_a25_sql(),
)
def a25_global_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A25: EXACT global quantile VECTOR (p25/p50/p75/p90) in ONE rank
    pass — a24's two-phase selection generalized: each quantile_cont
    position h = q·(n−1) is bracketed by ranks ⌊h⌋/⌈h⌉ and interpolated
    EXACTLY in integer cent arithmetic (lo·(den−inner) + hi·inner over
    100·den, inner = num·(n−1) mod den) — one correctly-rounded double
    division of exact integers per quantile, so no fp divergence
    (functions/numeric policy; the a24 midpoint discipline for
    arbitrary rational fractions).

    Scale: identical to a24 — the range-exchange rank pass is shared by
    EVERY quantile (this is the point: a quantile vector costs one
    selection pass, not |qs| passes); the only single-partition stages
    are the bounded per-partition count window (globalrank core, o1's
    entry) and the final global agg over ≤ 2·|qs| bracketing rows."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    return two_phase_global_quantiles(
        li,
        "l_extendedprice",
        [F.col("l_orderkey"), F.col("l_linenumber")],
        list(_A25_QS),
        key="aggregates.a25_rank",
    )


# ---------------------------------------------------------------------------
# a26_dim_covariance (registered round 8; twin pre-verified in
# tests/test_r7_candidates_b.py — retired at registration; its
# nontriviality guards live on in tests/test_registered_guards.py and
# the record in ROADMAP's r8 summary).
# ---------------------------------------------------------------------------

def _a26_sql() -> str:
    # the co-moment CTE chain is shared verbatim with sim_pca_power's
    # oracle (similarity_q.PCA_COV_CTES — the _KMEANS_PREFIX
    # composition rule), so the composed PCA query re-verifies this one
    from .similarity_q import PCA_COV_CTES

    return f"WITH {PCA_COV_CTES}\nSELECT i, j, n, cov_num FROM cov"


def _a26_dims() -> tuple[int, int]:
    # dim/qscale come from similarity_q (the r8 ADVICE fix: the fn and
    # its embedded PCA_COV_CTES oracle CANNOT use different values —
    # one import site instead of a duplicated constant pair)
    from .similarity_q import _PCA_DIM, _PCA_Q

    return _PCA_DIM, _PCA_Q


@register(
    "a26_dim_covariance",
    category="aggregation",
    oracle=_a26_sql(),
)
def a26_dim_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A26: d×d feature co-moment matrix over the embedding corpus —
    the one-pass statistic behind PCA (sim_pca_power composes on it),
    feature whitening, and drift monitors. ENGINE-EXACT: embeddings
    floor-quantize to an integer grid (q = ⌊x·1000⌋) and the co-moment
    numerator n·Σqᵢqⱼ − Σqᵢ·Σqⱼ stays in int64 (the r7 ADVICE fix put
    the 2·n²·max|qᵢ|·max|qⱼ| ≤ 2⁶² fail-fast assert IN the plan —
    operators/covariance.py:114 — so a corpus that would overflow
    errors loudly instead of wrapping).

    Scale: the corpus is touched ONCE — explode to (vec_id, i, qᵢ),
    self-join on vec_id (each key has exactly d rows, so pair work is
    a CONSTANT d² per vector, never rows×rows), and a groupBy(i, j)
    whose map-side combine collapses to d²/2 cells before the
    exchange. Upper triangle only (i ≤ j); d=64 keeps the output a
    2080-row table. 10× sweep: linear law (PERF.md;
    git show 0b946b4:scripts/scale10x_r8.py). Operator:
    operators/covariance.py."""
    from ..operators.covariance import dim_comoment

    dim, qscale = _a26_dims()
    emb = load_table(spark, sf_dir, "embeddings")
    return dim_comoment(emb, dim=dim, qscale=qscale)


# ---------------------------------------------------------------------------
# a27_weighted_median (registered round 12; twin pre-verified in the
# batch-J candidate suite at both fixture sfs —
# tests/test_r12_candidates.py, now retired)
# ---------------------------------------------------------------------------

_WMED_SQL = """
WITH g AS (
  SELECT l_returnflag,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
         CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
  FROM lineitem GROUP BY 1, 2
),
c AS (
  SELECT l_returnflag, cents,
         CAST(sum(w) OVER (PARTITION BY l_returnflag ORDER BY cents
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cumw,
         CAST(sum(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS totw
  FROM g
)
SELECT l_returnflag, cents AS median_cents,
       cumw AS cum_weight, totw AS total_weight
FROM (
  SELECT c.*, row_number() OVER (PARTITION BY l_returnflag ORDER BY cents)
           AS rn
  FROM c WHERE 2 * cumw >= totw
) WHERE rn = 1
"""


@register(
    "a27_weighted_median",
    category="aggregates",
    oracle=_WMED_SQL,
)
def a27_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median per group (quantity-weighted price per
    return flag): the smallest price v whose cumulative weight reaches
    half the total — 2·cumw ≥ totw in integer cross-multiplication, no
    interpolation, no fp anywhere (the robust-statistics sibling of
    a24's unweighted exact median). Values are AGGREGATED per (group,
    cents) before the cumulative window, so the window input is
    distinct-value-sized, not row-sized (the long tail of duplicate
    prices collapses in the map-side combine); the per-group window is
    |distinct prices|-bounded. Output carries the integer evidence
    (total weight, cumulative weight at the median). The weighting-
    moves-the-median nontriviality guard lives in
    tests/test_registered_guards.py."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
        F.col("l_quantity").cast("bigint").alias("qty"),
    )
    g = li.groupBy("l_returnflag", "cents").agg(F.sum("qty").alias("w"))
    wc = (
        Window.partitionBy("l_returnflag")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("l_returnflag")
    c = g.select(
        "l_returnflag",
        "cents",
        F.sum("w").over(wc).alias("cumw"),
        F.sum("w").over(wt).alias("totw"),
    ).filter(2 * F.col("cumw") >= F.col("totw"))
    first = Window.partitionBy("l_returnflag").orderBy("cents")
    return (
        c.withColumn("rn", F.row_number().over(first))
        .filter(F.col("rn") == 1)
        .select(
            "l_returnflag",
            F.col("cents").alias("median_cents"),
            F.col("cumw").cast("bigint").alias("cum_weight"),
            F.col("totw").cast("bigint").alias("total_weight"),
        )
    )
