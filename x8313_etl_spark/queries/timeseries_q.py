"""Time-series ops (hypertable-style, task-brief §2.12 spirit): dense
hourly grid + gap-fill with forward fill.

The reference-capability being re-expressed is the "rollup + gap-fill"
shape every time-series store offers (resample to a fixed grain, emit
rows for empty buckets, carry the last observation forward). Spark has
no built-in gap-fill; the Spark-first composition is

    agg to the grain  →  per-key ``sequence()`` grid + ``explode``  →
    left join  →  ``last(ignorenulls=True)`` window

which is one shuffle for the agg, a broadcast-sized grid build, and a
per-key window — no UDF, fully whole-stage-codegen.

Scale note: the forward-fill window partitions by the series key. With
5 event types the window stage has 5 partitions regardless of input
size — fine here and for any "thousands of series" workload (the common
case); for million-series gap-fill you would window on (series, day)
and stitch day boundaries with one extra per-series pass.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions.numeric import dsum, sql_dsum
from ..io import load_table
from ..registry import register


@register(
    "ts_gap_fill",
    category="timeseries",
    bench=True,
    oracle=f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         count(*) AS n_events, {sql_dsum('value')} AS hourly_sum
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT event_type, min(hour) AS mn, max(hour) AS mx FROM hourly GROUP BY 1),
grid AS (
  SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hour
  FROM bounds
)
SELECT g.event_type,
       strftime(g.hour, '%Y-%m-%d %H:%M:%S') AS hour_s,
       coalesce(h.n_events, 0) AS n_events,
       last_value(h.hourly_sum IGNORE NULLS) OVER (
         PARTITION BY g.event_type ORDER BY g.hour
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_sum,
       CAST(h.hourly_sum IS NULL AS INTEGER) AS is_gap
FROM grid g LEFT JOIN hourly h USING (event_type, hour)
""",
)
def ts_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample events to an hourly grain per event_type, densify to the
    full [min, max] hour grid (rows for silent hours), and forward-fill
    the hourly sum across gaps. ``is_gap`` marks synthesized rows.

    The grid never materializes on the driver: ``sequence()`` builds the
    hour array inside the plan from the per-key min/max aggregate, so
    the same query densifies a 10-year grid on a cluster unchanged.
    The first grid point per key always has data (the grid starts at the
    key's own min hour), so forward fill never reads an undefined value.
    """
    hourly = (
        load_table(spark, sf_dir, "events")
        .select("event_type", F.date_trunc("hour", F.col("ts")).alias("hour"), "value")
        .groupBy("event_type", "hour")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value").alias("hourly_sum"))
    )
    grid = (
        hourly.groupBy("event_type")
        .agg(F.min("hour").alias("mn"), F.max("hour").alias("mx"))
        .select(
            "event_type",
            F.explode(
                F.sequence(F.col("mn"), F.col("mx"), F.expr("INTERVAL 1 HOUR"))
            ).alias("hour"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(hourly, ["event_type", "hour"], "left")
        .select(
            "event_type",
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour_s"),
            F.coalesce("n_events", F.lit(0)).alias("n_events"),
            F.last("hourly_sum", ignorenulls=True).over(w).alias("filled_sum"),
            F.col("hourly_sum").isNull().cast("int").alias("is_gap"),
        )
    )


@register(
    "ts_ohlc_bars",
    category="timeseries",
    oracle=f"""
WITH ranked AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, value,
         row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY event_type, date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events
)
SELECT event_type, strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour_s,
       count(*) AS n,
       max(CASE WHEN rn_a = 1 THEN value END) AS open,
       max(value) AS high, min(value) AS low,
       max(CASE WHEN rn_d = 1 THEN value END) AS close
FROM ranked GROUP BY event_type, hour
""",
)
def ts_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC bars: per (series, hour) the first/last/extreme values — the
    canonical financial downsample. First/last are defined by
    (ts, event_id) order so ties are deterministic (min_by/first alone
    are not, and would flap under retries at scale). Both row_number
    windows share one (series, hour)-keyed sort-shuffle; the final agg
    reuses the same partitioning, so the whole query is one exchange."""
    ranked = (
        load_table(spark, sf_dir, "events")
        .select(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("hour"),
            "value",
            "ts",
            "event_id",
        )
    )
    w_a = Window.partitionBy("event_type", "hour").orderBy("ts", "event_id")
    w_d = Window.partitionBy("event_type", "hour").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ranked.withColumn("rn_a", F.row_number().over(w_a))
        .withColumn("rn_d", F.row_number().over(w_d))
        .groupBy("event_type", "hour")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.max(F.when(F.col("rn_a") == 1, F.col("value"))).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max(F.when(F.col("rn_d") == 1, F.col("value"))).alias("close"),
        )
        .select(
            "event_type",
            F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour_s"),
            "n", "open", "high", "low", "close",
        )
    )


@register(
    "ts_sliding_dau",
    category="timeseries",
    oracle=None,  # HLL estimates are engine-specific; rows-only check —
    # tests/test_streaming.py-style bound test pins accuracy vs exact
)
def ts_sliding_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct users per day ("rolling DAU/WAU") via HLL
    sketches MERGED OVER A WINDOW: one pass builds a per-day sketch,
    then `hll_union_agg` over a 7-row trailing frame merges sketch
    STATES — no re-touching of events, no 7× recount. This is the only
    tractable shape at 100 TB: exact trailing distinct requires either a
    7-way self-join or carrying per-day user SETS through the window;
    sketch merge carries ~KB per day instead. The window runs over
    day-grain rows (one per day — thousands of rows at most), so its
    single-partition ordering is irrelevant to scale; the heavy lifting
    (event → day sketch) is an ordinary mergeable agg.
    tests/test_ts_unit.py bounds the estimates against exact."""
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("day", F.col("ts")).alias("day"), "user_id"
    )
    daily = ev.groupBy("day").agg(F.hll_sketch_agg("user_id").alias("sk"))
    w = Window.orderBy("day").rowsBetween(-6, 0)
    return daily.select(
        F.date_format("day", "yyyy-MM-dd").alias("day_s"),
        F.hll_sketch_estimate(F.hll_union_agg("sk").over(w))
        .cast("bigint")
        .alias("dau7"),
    )


@register(
    "ts_interpolate",
    category="timeseries",
    oracle=f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour,
         {sql_dsum('value')} AS hourly_sum
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT event_type, min(hour) AS mn, max(hour) AS mx FROM hourly GROUP BY 1),
grid AS (
  SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hour
  FROM bounds
),
g AS (
  SELECT grid.event_type, grid.hour, h.hourly_sum,
         epoch_us(grid.hour) AS eh
  FROM grid LEFT JOIN hourly h USING (event_type, hour)
),
ctx AS (
  SELECT event_type, hour, hourly_sum, eh,
         last_value(hourly_sum IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY hour
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_val,
         last_value(CASE WHEN hourly_sum IS NOT NULL THEN eh END IGNORE NULLS)
           OVER (PARTITION BY event_type ORDER BY hour
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_eh,
         first_value(hourly_sum IGNORE NULLS) OVER (
           PARTITION BY event_type ORDER BY hour
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_val,
         first_value(CASE WHEN hourly_sum IS NOT NULL THEN eh END IGNORE NULLS)
           OVER (PARTITION BY event_type ORDER BY hour
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_eh
  FROM g
)
SELECT event_type,
       strftime(hour, '%Y-%m-%d %H:%M:%S') AS hour_s,
       CASE WHEN hourly_sum IS NOT NULL THEN hourly_sum
            ELSE prev_val + (next_val - prev_val)
                 * (CAST(eh - prev_eh AS DOUBLE) / CAST(next_eh - prev_eh AS DOUBLE))
       END AS interp_sum,
       CAST(hourly_sum IS NULL AS INTEGER) AS is_interp
FROM ctx
""",
)
def ts_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear interpolation over the dense hourly grid — ts_gap_fill's
    sibling for continuous-valued series where carrying the last
    observation forward biases downstream aggregates (sensor/finance
    resampling): a gap hour gets prev + (next-prev) * elapsed-fraction
    between its two NEAREST REAL observations.

    Same scale shape as ts_gap_fill (agg shuffle, in-plan sequence()
    grid, per-key windows) with one extra window pass in the opposite
    frame direction (first_value over CURRENT ROW → UNBOUNDED
    FOLLOWING) for the next-observation context. The grid spans exactly
    [per-key min hour, per-key max hour], so every gap row has both a
    previous and a next real observation — the interpolation expression
    is total, no edge-case NULL arithmetic. The elapsed fraction
    divides integer microsecond deltas cast to double, and both engines
    evaluate the identical prev + (next-prev)*frac expression tree on
    identical doubles — IEEE ops are correctly rounded, so the result
    is bit-identical with no rounding crutch."""
    hourly = (
        load_table(spark, sf_dir, "events")
        .select("event_type", F.date_trunc("hour", F.col("ts")).alias("hour"), "value")
        .groupBy("event_type", "hour")
        .agg(dsum("value").alias("hourly_sum"))
    )
    grid = (
        hourly.groupBy("event_type")
        .agg(F.min("hour").alias("mn"), F.max("hour").alias("mx"))
        .select(
            "event_type",
            F.explode(
                F.sequence(F.col("mn"), F.col("mx"), F.expr("INTERVAL 1 HOUR"))
            ).alias("hour"),
        )
    )
    g = grid.join(hourly, ["event_type", "hour"], "left").withColumn(
        "eh", F.unix_micros(F.col("hour").cast("timestamp"))
    )
    back = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    real_eh = F.when(F.col("hourly_sum").isNotNull(), F.col("eh"))
    ctx = (
        g.withColumn("prev_val", F.last("hourly_sum", ignorenulls=True).over(back))
        .withColumn("prev_eh", F.last(real_eh, ignorenulls=True).over(back))
        .withColumn("next_val", F.first("hourly_sum", ignorenulls=True).over(fwd))
        .withColumn("next_eh", F.first(real_eh, ignorenulls=True).over(fwd))
    )
    frac = (F.col("eh") - F.col("prev_eh")).cast("double") / (
        F.col("next_eh") - F.col("prev_eh")
    ).cast("double")
    return ctx.select(
        "event_type",
        F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour_s"),
        F.when(F.col("hourly_sum").isNotNull(), F.col("hourly_sum"))
        .otherwise(
            F.col("prev_val") + (F.col("next_val") - F.col("prev_val")) * frac
        )
        .alias("interp_sum"),
        F.col("hourly_sum").isNull().cast("int").alias("is_interp"),
    )


_EWMA_ALPHA = 0.3
_EWMA_TERMS = 20
#: α(1−α)^k literals shared verbatim by both engines (repr round-trips)
_EWMA_COEFS = [_EWMA_ALPHA * (1 - _EWMA_ALPHA) ** k for k in range(_EWMA_TERMS)]


@register(
    "ts_ewma",
    category="timeseries",
    oracle="""
SELECT event_id, user_id, value,
       CAST(CAST((coalesce(value, 0.0) * 0.3 + coalesce(lag(value, 1) OVER w, 0.0) * 0.21 + coalesce(lag(value, 2) OVER w, 0.0) * 0.14699999999999996 + coalesce(lag(value, 3) OVER w, 0.0) * 0.10289999999999998 + coalesce(lag(value, 4) OVER w, 0.0) * 0.07202999999999998 + coalesce(lag(value, 5) OVER w, 0.0) * 0.05042099999999998 + coalesce(lag(value, 6) OVER w, 0.0) * 0.035294699999999984 + coalesce(lag(value, 7) OVER w, 0.0) * 0.02470628999999999 + coalesce(lag(value, 8) OVER w, 0.0) * 0.01729440299999999 + coalesce(lag(value, 9) OVER w, 0.0) * 0.012106082099999993 + coalesce(lag(value, 10) OVER w, 0.0) * 0.008474257469999994 + coalesce(lag(value, 11) OVER w, 0.0) * 0.005931980228999996 + coalesce(lag(value, 12) OVER w, 0.0) * 0.0041523861602999965 + coalesce(lag(value, 13) OVER w, 0.0) * 0.0029066703122099975 + coalesce(lag(value, 14) OVER w, 0.0) * 0.002034669218546998 + coalesce(lag(value, 15) OVER w, 0.0) * 0.0014242684529828986 + coalesce(lag(value, 16) OVER w, 0.0) * 0.000996987917088029 + coalesce(lag(value, 17) OVER w, 0.0) * 0.0006978915419616202 + coalesce(lag(value, 18) OVER w, 0.0) * 0.0004885240793731341 + coalesce(lag(value, 19) OVER w, 0.0) * 0.00034196685556119386) / (CASE WHEN value IS NULL THEN 0.0 ELSE 0.3 END + CASE WHEN lag(value, 1) OVER w IS NULL THEN 0.0 ELSE 0.21 END + CASE WHEN lag(value, 2) OVER w IS NULL THEN 0.0 ELSE 0.14699999999999996 END + CASE WHEN lag(value, 3) OVER w IS NULL THEN 0.0 ELSE 0.10289999999999998 END + CASE WHEN lag(value, 4) OVER w IS NULL THEN 0.0 ELSE 0.07202999999999998 END + CASE WHEN lag(value, 5) OVER w IS NULL THEN 0.0 ELSE 0.05042099999999998 END + CASE WHEN lag(value, 6) OVER w IS NULL THEN 0.0 ELSE 0.035294699999999984 END + CASE WHEN lag(value, 7) OVER w IS NULL THEN 0.0 ELSE 0.02470628999999999 END + CASE WHEN lag(value, 8) OVER w IS NULL THEN 0.0 ELSE 0.01729440299999999 END + CASE WHEN lag(value, 9) OVER w IS NULL THEN 0.0 ELSE 0.012106082099999993 END + CASE WHEN lag(value, 10) OVER w IS NULL THEN 0.0 ELSE 0.008474257469999994 END + CASE WHEN lag(value, 11) OVER w IS NULL THEN 0.0 ELSE 0.005931980228999996 END + CASE WHEN lag(value, 12) OVER w IS NULL THEN 0.0 ELSE 0.0041523861602999965 END + CASE WHEN lag(value, 13) OVER w IS NULL THEN 0.0 ELSE 0.0029066703122099975 END + CASE WHEN lag(value, 14) OVER w IS NULL THEN 0.0 ELSE 0.002034669218546998 END + CASE WHEN lag(value, 15) OVER w IS NULL THEN 0.0 ELSE 0.0014242684529828986 END + CASE WHEN lag(value, 16) OVER w IS NULL THEN 0.0 ELSE 0.000996987917088029 END + CASE WHEN lag(value, 17) OVER w IS NULL THEN 0.0 ELSE 0.0006978915419616202 END + CASE WHEN lag(value, 18) OVER w IS NULL THEN 0.0 ELSE 0.0004885240793731341 END + CASE WHEN lag(value, 19) OVER w IS NULL THEN 0.0 ELSE 0.00034196685556119386 END) AS DECIMAL(18,6)) AS DOUBLE) AS ewma
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
""",
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average over a BOUNDED 20-term
    frame per user (ts order): ewma_t = Σ_k c_k·x_(t−k) / Σ_k c_k over
    the lags that exist, c_k = α(1−α)^k with α=0.3. Bounding the frame
    keeps every weight a fixed literal — the unbounded recurrence would
    need (1−α)^t powers that leave double range and an order-dependent
    running product. The 20 lag() calls share ONE window spec, so the
    plan is a single exchange on user_id + a single WindowExec; the
    coefficient literals are shared verbatim (repr round-trips), and
    the result is quantized through decimal(18,6) on both sides — the
    l6_tfidf discipline — because DuckDB's executor REORDERS flattened
    double-addition chains even under explicit parentheses (measured:
    it matches a right-associative fold while Spark evaluates the
    Column tree as built), so a 1-ulp sum difference is structural,
    not fixable by expression shape. Terms beyond the series start
    contribute exactly 0 via the same null-guard on both sides."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    num = None
    den = None
    for k, c in enumerate(_EWMA_COEFS):
        x = F.col("value") if k == 0 else F.lag("value", k).over(w)
        term = F.coalesce(x, F.lit(0.0)) * F.lit(c)
        pres = F.when(x.isNull(), F.lit(0.0)).otherwise(F.lit(c))
        num = term if num is None else num + term
        den = pres if den is None else den + pres
    return e.select(
        "event_id", "user_id", "value",
        (num / den).cast("decimal(18,6)").cast("double").alias("ewma"),
    )


# ---------------------------------------------------------------------------
# LTTB downsampling — visualization-grade series decimation.
# ---------------------------------------------------------------------------

_LTTB_BUCKETS = 12  # first + 10 area-selected + last, per series


def _lttb_oracle() -> str:
    n_buckets, mid = _LTTB_BUCKETS, _LTTB_BUCKETS - 2
    area = (
        "CAST(CAST(abs((p.x - a.ax) * (b.y - p.y) - (p.x - b.x) * (a.ay - p.y)) "
        "AS DECIMAL(25,4)) AS DOUBLE)"
    )
    ctes = [
        """base AS MATERIALIZED (
  SELECT event_type AS series, ts, event_id, value AS y,
         (epoch_us(ts) - min(epoch_us(ts))
            OVER (PARTITION BY event_type)) / 1000000.0 AS x,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY ts, event_id) AS rk,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
)""",
        f"""bkt AS MATERIALIZED (
  SELECT *, CASE WHEN rk = 1 THEN 0
                 WHEN rk = n THEN {n_buckets - 1}
                 ELSE 1 + CAST(((rk - 2) * {mid}) // (n - 2) AS INTEGER)
            END AS bucket
  FROM base
)""",
        """avgs AS MATERIALIZED (
  SELECT series, bucket,
         CAST(SUM(CAST(x AS DECIMAL(25,6))) AS DOUBLE) / count(*) AS ax,
         CAST(SUM(CAST(y AS DECIMAL(25,6))) AS DOUBLE) / count(*) AS ay
  FROM bkt GROUP BY series, bucket
)""",
        "s0 AS MATERIALIZED (SELECT series, ts, event_id, x, y FROM bkt "
        "WHERE bucket = 0)",
    ]
    for r in range(1, mid + 1):
        ctes.append(
            f"""s{r} AS MATERIALIZED (
  SELECT series, ts, event_id, x, y FROM (
    SELECT b.series, b.ts, b.event_id, b.x, b.y,
           row_number() OVER (PARTITION BY b.series
                              ORDER BY {area} DESC, b.ts, b.event_id) AS rn
    FROM bkt b
    JOIN s{r - 1} p ON p.series = b.series
    JOIN avgs a ON a.series = b.series AND a.bucket = {r + 1}
    WHERE b.bucket = {r}
  ) WHERE rn = 1
)"""
        )
    unions = " UNION ALL ".join(
        f"SELECT series, {r} AS bucket, ts, y FROM s{r}" for r in range(mid + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"""
SELECT series, CAST(bucket AS INTEGER) AS bucket, ts, y AS value FROM (
  {unions}
  UNION ALL
  SELECT series, {n_buckets - 1} AS bucket, ts, y FROM bkt
  WHERE bucket = {n_buckets - 1}
)"""
    )


@register(
    "ts_lttb",
    category="timeseries",
    oracle=_lttb_oracle(),
)
def ts_lttb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-Triangle-Three-Buckets downsampling (Steinarsson 2013):
    each series (event_type) decimates to 12 points — first, last, and
    one point per middle bucket chosen to maximize the triangle area
    with the PREVIOUSLY SELECTED point and the NEXT bucket's centroid —
    the standard visualization-grade decimator that preserves visual
    extremes where uniform sampling flattens them. The
    previous-selection dependency makes it inherently sequential per
    bucket, so it runs as 10 fixed rounds (the p_bpe_train chained
    discipline), each a tiny broadcast join (one prev point + one
    centroid per series) against the PERSISTED bucketed table — rounds
    cost O(bucket) each, and the bucket count, not the series length,
    bounds the sequential depth.

    Cross-engine exactness: x is seconds offset from the series start —
    (µs − µs)/1e6 is an exact 6-dp rational, so the centroid's decimal
    mean is grid-exact; the triangle area (two products, one subtract —
    a fixed IEEE tree) is quantized to 1e-4 before the argmax so a
    cross-engine ulp can never flip the selection, and ties pin on
    (ts, event_id). Bucket assignment is pure integer math."""
    from ..audit import audited_checkpoint
    from ..operators.cachepool import swap_persist

    n_buckets, mid = _LTTB_BUCKETS, _LTTB_BUCKETS - 2
    e = load_table(spark, sf_dir, "events")
    wseries = Window.partitionBy("event_type")
    worder = wseries.orderBy("ts", "event_id")
    base = e.select(
        F.col("event_type").alias("series"),
        "ts",
        "event_id",
        F.col("value").alias("y"),
        (
            (
                F.unix_micros(F.col("ts").cast("timestamp"))
                - F.min(F.unix_micros(F.col("ts").cast("timestamp"))).over(wseries)
            )
            / 1000000.0
        ).alias("x"),
        F.row_number().over(worder).alias("rk"),
        F.count(F.lit(1)).over(wseries).alias("n"),
    )
    # read by the bucket averages, the first pick and every round
    bkt = swap_persist(
        "ts_lttb.bkt",
        base.withColumn(
            "bucket",
            F.when(F.col("rk") == 1, F.lit(0))
            .when(F.col("rk") == F.col("n"), F.lit(n_buckets - 1))
            .otherwise(
                F.lit(1)
                + F.expr(f"((rk - 2) * {mid}) div (n - 2)").cast("int")
            ),
        ),
    )
    avgs = bkt.groupBy("series", "bucket").agg(
        (
            F.sum(F.col("x").cast("decimal(25,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("ax"),
        (
            F.sum(F.col("y").cast("decimal(25,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("ay"),
    )
    # read by every selection round
    avgs = swap_persist("ts_lttb.avgs", avgs)
    sel = audited_checkpoint(
        "ts_lttb.round",
        bkt.filter(F.col("bucket") == 0).select("series", "ts", "event_id", "x", "y"),
    )
    picks = [sel.select("series", F.lit(0).alias("bucket"), "ts", "y")]
    for r in range(1, mid + 1):
        prev = sel.select(
            "series", F.col("x").alias("px"), F.col("y").alias("py")
        )
        nxt = avgs.filter(F.col("bucket") == r + 1).select("series", "ax", "ay")
        area = (
            F.abs(
                (F.col("px") - F.col("ax")) * (F.col("y") - F.col("py"))
                - (F.col("px") - F.col("x")) * (F.col("ay") - F.col("py"))
            )
            .cast("decimal(25,4)")
            .cast("double")
        )
        w = Window.partitionBy("series").orderBy(
            F.col("__area").desc(), "ts", "event_id"
        )
        sel = audited_checkpoint(
            "ts_lttb.round",
            bkt.filter(F.col("bucket") == r)
            .join(F.broadcast(prev), "series")
            .join(F.broadcast(nxt), "series")
            .withColumn("__area", area)
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("series", "ts", "event_id", "x", "y"),
        )
        picks.append(sel.select("series", F.lit(r).alias("bucket"), "ts", "y"))
    picks.append(
        bkt.filter(F.col("bucket") == n_buckets - 1).select(
            "series", F.lit(n_buckets - 1).alias("bucket"), "ts", "y"
        )
    )
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out.select(
        "series", F.col("bucket").cast("int").alias("bucket"), "ts",
        F.col("y").alias("value"),
    )


# ---------------------------------------------------------------------------
# Classical seasonal decomposition (additive, fixed period 24 h).
# ---------------------------------------------------------------------------

_SD_PERIOD = 24


_SD_ORACLE = f"""
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS hour, count(*) AS y
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT event_type, min(hour) AS mn, max(hour) AS mx FROM hourly GROUP BY 1),
grid AS (
  SELECT event_type, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hour
  FROM bounds
),
dense AS MATERIALIZED (
  SELECT g.event_type, g.hour, coalesce(h.y, 0) AS y
  FROM grid g LEFT JOIN hourly h
    ON h.event_type = g.event_type AND h.hour = g.hour
),
tr AS MATERIALIZED (
  SELECT *, CASE WHEN count(*) OVER w = {_SD_PERIOD}
                 THEN CAST(SUM(y) OVER w AS DOUBLE) / {_SD_PERIOD}
            END AS trend
  FROM dense
  WINDOW w AS (PARTITION BY event_type ORDER BY hour
               ROWS BETWEEN {_SD_PERIOD // 2} PRECEDING
                        AND {_SD_PERIOD // 2 - 1} FOLLOWING)
),
seas0 AS MATERIALIZED (
  SELECT event_type, EXTRACT(hour FROM hour) AS hod,
         CAST(SUM(CAST(y - trend AS DECIMAL(25,6))) AS DOUBLE) / count(*) AS s_raw
  FROM tr WHERE trend IS NOT NULL
  GROUP BY 1, 2
),
seas AS MATERIALIZED (
  SELECT event_type, hod,
         CAST(CAST(s_raw - CAST(SUM(CAST(s_raw AS DECIMAL(25,6)))
                OVER (PARTITION BY event_type) AS DOUBLE) / {_SD_PERIOD}
              AS DECIMAL(18,6)) AS DOUBLE) AS seasonal
  FROM seas0
)
SELECT t.event_type,
       t.hour,
       CAST(t.y AS BIGINT) AS y,
       CAST(CAST(t.trend AS DECIMAL(18,6)) AS DOUBLE) AS trend,
       s.seasonal,
       CAST(CAST(t.y - t.trend - s.seasonal AS DECIMAL(18,6)) AS DOUBLE)
         AS remainder
FROM tr t JOIN seas s
  ON s.event_type = t.event_type AND s.hod = EXTRACT(hour FROM t.hour)
"""


@register(
    "ts_seasonal_decompose",
    category="timeseries",
    oracle=_SD_ORACLE,
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal decomposition, fixed period 24 h:
    y = trend + seasonal + remainder over the dense per-type hourly
    count grid (ts_gap_fill's grid build, zero-filled). Trend is the
    centered 24-point moving average (emitted only where the frame is
    complete — the standard edge-null convention); the seasonal profile
    is the hour-of-day mean of the detrended series, centered so the
    24 components sum to ~0; the remainder is what's left. Entirely
    window/aggregate algebra — the decomposition every anomaly detector
    and forecast-prep pipeline runs first.

    Determinism: counts are integers, so the trend is exact-int-sum/24;
    the detrended means go through decimal partials (order-free), and
    trend/seasonal/remainder are 1e-6-quantized at the boundary (the
    ts_ewma lesson). Scale: one exchange per series for the windows,
    one (type, hour-of-day) aggregate whose key space is 24·|types|,
    one broadcast join back — series count parallelizes, series length
    streams."""
    return _seasonal_table(spark, sf_dir)


def _seasonal_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decomposition table — shared by ts_seasonal_decompose and
    dq2_anomaly_flags."""
    e = load_table(spark, sf_dir, "events")
    hourly = e.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hour")
    ).agg(F.count(F.lit(1)).alias("y"))
    bounds = hourly.groupBy("event_type").agg(
        F.min("hour").alias("mn"), F.max("hour").alias("mx")
    )
    grid = bounds.select(
        "event_type",
        F.explode(
            F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour"),
    )
    dense = grid.join(hourly, ["event_type", "hour"], "left").select(
        "event_type", "hour", F.coalesce("y", F.lit(0)).alias("y")
    )
    half = _SD_PERIOD // 2
    w = (
        Window.partitionBy("event_type")
        .orderBy("hour")
        .rowsBetween(-half, half - 1)
    )
    tr = dense.withColumn(
        "trend",
        F.when(
            F.count(F.lit(1)).over(w) == _SD_PERIOD,
            F.sum("y").over(w).cast("double") / _SD_PERIOD,
        ),
    )
    from ..operators.cachepool import swap_persist

    # read by the seasonal aggregate and the remainder join
    tr = swap_persist("timeseries.sd_trend", tr)
    hod = F.hour(F.col("hour"))
    seas0 = (
        tr.filter(F.col("trend").isNotNull())
        .groupBy("event_type", hod.alias("hod"))
        .agg(
            (
                F.sum((F.col("y") - F.col("trend")).cast("decimal(25,6)"))
                .cast("double")
                / F.count(F.lit(1))
            ).alias("s_raw")
        )
    )
    wtype = Window.partitionBy("event_type")
    seas = seas0.select(
        F.col("event_type").alias("s_et"),
        "hod",
        (
            F.col("s_raw")
            - F.sum(F.col("s_raw").cast("decimal(25,6)")).over(wtype).cast("double")
            / _SD_PERIOD
        )
        .cast("decimal(18,6)")
        .cast("double")
        .alias("seasonal"),
    )
    return (
        tr.join(
            F.broadcast(seas),
            (F.col("event_type") == F.col("s_et")) & (hod == F.col("hod")),
        )
        .select(
            "event_type",
            "hour",
            F.col("y").cast("bigint").alias("y"),
            F.col("trend").cast("decimal(18,6)").cast("double").alias("trend"),
            "seasonal",
            (F.col("y") - F.col("trend") - F.col("seasonal"))
            .cast("decimal(18,6)")
            .cast("double")
            .alias("remainder"),
        )
    )


@register(
    "dq2_anomaly_flags",
    category="timeseries",
    oracle=f"""
WITH sd AS MATERIALIZED ({_SD_ORACLE}),
stats AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         CAST(SUM(CAST(remainder AS DECIMAL(25,6))) AS DOUBLE) AS s1,
         CAST(SUM(CAST(remainder * remainder AS DECIMAL(38,12))) AS DOUBLE)
           AS s2
  FROM sd WHERE remainder IS NOT NULL
  GROUP BY event_type
)
SELECT sd.event_type, sd.hour, sd.y, sd.remainder,
       CAST(
         (sd.remainder - stats.s1 / stats.n)
         * (sd.remainder - stats.s1 / stats.n)
         > 9.0 * (stats.s2 / stats.n
                  - (stats.s1 / stats.n) * (stats.s1 / stats.n))
       AS INTEGER) AS is_anomaly
FROM sd JOIN stats USING (event_type)
WHERE sd.remainder IS NOT NULL
""",
)
def dq2_anomaly_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly flags over the seasonal decomposition — the query
    ts_seasonal_decompose exists to feed: a point is anomalous when its
    remainder sits more than 3σ from the per-series remainder mean (the
    classical residual test: trend and seasonality explained away
    first, so a flagged hour is genuinely surprising, not just a daily
    peak). Composition: the shared _seasonal_table → one per-series
    moment aggregate (decimal partials — remainders are 1e-6-quantized,
    their squares live exactly on the 1e-12 grid, so Σ and Σ² are
    order-free) → broadcast join back with the (x−μ)² > 9σ² test
    written as the SAME arithmetic tree on both engines (no sqrt — the
    squared form avoids a transcendental). Edge-null trend rows are
    excluded on both sides."""
    sd = _seasonal_table(spark, sf_dir).filter(F.col("remainder").isNotNull())
    from ..operators.cachepool import swap_persist

    # read by the per-series moments and the flag join
    sd = swap_persist("timeseries.sd_table", sd)
    stats = sd.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("remainder").cast("decimal(25,6)")).cast("double").alias("s1"),
        F.sum((F.col("remainder") * F.col("remainder")).cast("decimal(38,12)"))
        .cast("double")
        .alias("s2"),
    )
    mean = F.col("s1") / F.col("n")
    var = F.col("s2") / F.col("n") - mean * mean
    return (
        sd.join(F.broadcast(stats.withColumnRenamed("event_type", "s_et")),
                F.col("event_type") == F.col("s_et"))
        .select(
            "event_type",
            "hour",
            "y",
            "remainder",
            (
                (F.col("remainder") - mean) * (F.col("remainder") - mean)
                > F.lit(9.0) * var
            )
            .cast("int")
            .alias("is_anomaly"),
        )
    )


# ---------------------------------------------------------------------------
# ts_holt_forecast + ts_cusum_alarms (registered round 7; twins
# pre-verified in tests/test_r7_candidates.py before registration).
# ---------------------------------------------------------------------------

_HOLT_SQL = """
WITH RECURSIVE seq AS MATERIALIZED (
  SELECT CAST(user_id AS BIGINT) AS series,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
           AS idx,
         CAST(round(value * 100) AS BIGINT) AS yc,
         CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
  FROM events
),
r AS (
  SELECT s0.series, CAST(1 AS BIGINT) AS t,
         s0.yc AS l, s1.yc - s0.yc AS b, s0.n AS n
  FROM seq s0 JOIN seq s1 ON s1.series = s0.series AND s1.idx = 1
  WHERE s0.idx = 0 AND s0.n >= 2
  UNION ALL
  SELECT r.series, r.t + 1,
         (1 * s.yc + 4 * (r.l + r.b)) // 5 AS l,
         (1 * ((1 * s.yc + 4 * (r.l + r.b)) // 5 - r.l) + 9 * r.b) // 10 AS b,
         r.n
  FROM r JOIN seq s ON s.series = r.series AND s.idx = r.t
)
SELECT series, n AS n_points, l AS level_cents, b AS trend_cents,
       l + b AS forecast1_cents
FROM r WHERE t = n
"""


@register(
    "ts_holt_forecast",
    category="timeseries",
    oracle=_HOLT_SQL,
)
def ts_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend (double exponential) smoothing per series —
    the ts family's missing FORECASTING op (Holt 1957, public): level
    l_t = α·y_t + (1−α)(l+b), trend b_t = β(l_t−l) + (1−β)b, one-step
    forecast l+b. The recurrence is inherently sequential per series,
    so it runs per-series inside applyInPandas (the sessionize cost
    model: one shuffle keyed by series, linear scan within) — NOT a
    driver loop.

    Exactness: values in integer CENTS with TRUNCATING division
    (Spark div ≡ DuckDB //, pinned by operators/holt.py's test) and
    rational α=1/5, β=1/10, so the twin's recursive CTE replays the
    recurrence step for step with zero fp divergence — iterated floats
    cannot be oracled (the g1 lesson), iterated integers can.

    Scale: one series⋈shuffle, Arrow-batched per-group scan; series
    count bounds parallelism (events fixture: one group per user).
    Operator: operators/holt.py."""
    from ..operators.holt import holt_forecast

    ev = load_table(spark, sf_dir, "events")
    return holt_forecast(
        ev, series_col="user_id", order_cols=["ts", "event_id"],
        value_col="value",
    )


_CU_SLACK, _CU_H = 50, 500

_CUSUM_SQL = f"""
WITH RECURSIVE seq AS MATERIALIZED (
  SELECT CAST(user_id AS BIGINT) AS series,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
           AS idx,
         CAST(round(value * 100) AS BIGINT) AS yc,
         CAST(sum(CAST(round(value * 100) AS BIGINT))
              OVER (PARTITION BY user_id) AS BIGINT) AS tot,
         CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n
  FROM events
),
r AS (
  SELECT series, CAST(0 AS BIGINT) AS t, CAST(0 AS BIGINT) AS s_acc,
         tot // n AS mu
  FROM seq WHERE idx = 0
  UNION ALL
  SELECT r.series, r.t + 1,
         greatest(CAST(0 AS BIGINT),
                  r.s_acc + (q.yc - r.mu - {_CU_SLACK})),
         r.mu
  FROM r JOIN seq q ON q.series = r.series AND q.idx = r.t
)
SELECT series, t - 1 AS idx, s_acc AS s_cents
FROM r WHERE t >= 1 AND s_acc > {_CU_H}
"""


@register(
    "ts_cusum_alarms",
    category="timeseries",
    oracle=_CUSUM_SQL,
)
def ts_cusum_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM drift alarms per series (Page 1954, public) —
    SUSTAINED-shift detection (S_t = max(0, S + (y−μ−slack)), alarm
    when S > h), complementing dq2's point anomalies: a metric drifting
    +1σ forever never trips a point test but accumulates here. μ is the
    truncating per-series mean in cents; slack/h are fixture-scaled
    cents constants.

    Exactness: same integer-cents + truncating-division discipline as
    ts_holt_forecast, replayed by a recursive-CTE twin. Scale: one
    series⋈shuffle + linear per-series scan in applyInPandas (the Holt
    shape). Operator: operators/cusum.py."""
    from ..operators.cusum import cusum_alarms

    ev = load_table(spark, sf_dir, "events")
    return cusum_alarms(
        ev, series_col="user_id", order_cols=["ts", "event_id"],
        value_col="value", slack_cents=_CU_SLACK, h_cents=_CU_H,
    )


_TWA_SQL = """
WITH dd AS (
  SELECT series, tus, cents FROM (
    SELECT event_type AS series, epoch_us(ts) AS tus,
           CAST(round(value * 100) AS BIGINT) AS cents,
           row_number() OVER (
             PARTITION BY event_type, epoch_us(ts) ORDER BY event_id DESC
           ) AS rn
    FROM events
  ) WHERE rn = 1
),
seg AS (
  SELECT series, cents, tus,
         lead(tus) OVER (PARTITION BY series ORDER BY tus) AS t_next
  FROM dd
)
SELECT series,
       CAST(sum(CAST(cents * (t_next - tus) AS HUGEINT))
            // CAST(sum(t_next - tus) AS HUGEINT) AS BIGINT) AS twa_cents,
       CAST(sum(t_next - tus) AS BIGINT) AS span_us,
       CAST(count(*) + 1 AS BIGINT) AS n_obs
FROM seg WHERE t_next IS NOT NULL
GROUP BY series
"""


@register(
    "ts_twa",
    category="timeseries",
    oracle=_TWA_SQL,
)
def ts_twa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average per series (left-constant / previous-tick
    weighting over [t0, tN]): TWA = Σ value_i·(t_{i+1}−t_i) / (tN−t0) —
    the irregular-sampling mean every monitoring and market-data store
    ships (a burst of readings must not out-vote a quiet hour, which is
    exactly what the row-mean a1 computes). Duplicate timestamps are
    deduped per (series, ts) keeping the max event_id row (the j9
    keep_first convention). Exactness: cents(int) × dt_µs(int) summed
    in DECIMAL(38,0) — an integer grid, so the irregular-weight sum is
    order-free and engine-exact; the output TWA is a truncating integer
    division back to cents. One window shuffle keyed by series."""
    from ..operators.dedup import keep_first

    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("series"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("tus"),
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        "event_id",
    )
    ev = keep_first(
        ev, ["series", "tus"], [F.col("event_id").desc()]
    ).drop("event_id")
    w = Window.partitionBy("series").orderBy("tus")
    seg = ev.withColumn("t_next", F.lead("tus").over(w)).filter(
        F.col("t_next").isNotNull()
    )
    wsum = F.sum(
        (F.col("cents") * (F.col("t_next") - F.col("tus"))).cast("decimal(38,0)")
    )
    return (
        seg.groupBy("series")
        .agg(
            wsum.alias("wsum"),
            F.sum(F.col("t_next") - F.col("tus")).alias("span_us"),
            (F.count(F.lit(1)) + 1).alias("n_obs"),
        )
        .select(
            "series",
            # `div`, not `/`+CAST: decimal `/` rounds HALF_UP at result
            # scale BEFORE a cast could truncate, so a ratio just under
            # an integer boundary would round up where DuckDB's `//`
            # floors — `div` is the integral division both engines agree on
            F.expr("CAST(wsum div span_us AS BIGINT)").alias("twa_cents"),
            F.col("span_us").cast("bigint").alias("span_us"),
            F.col("n_obs").cast("bigint").alias("n_obs"),
        )
    )


_ACF_LAGS = (1, 2, 3)


def _acf_sql() -> str:
    lag_selects = []
    for l in _ACF_LAGS:
        lag_selects.append(f"""
  SELECT series, CAST({l} AS BIGINT) AS lag, CAST(n AS BIGINT) AS n,
         CAST(SUM(dev * dev_{l}) AS BIGINT) AS num,
         CAST(SUM(dev * dev) AS BIGINT) AS den
  FROM lagged GROUP BY series, n""")
    union = "\n  UNION ALL\n".join(lag_selects)
    leads = ", ".join(
        f"lead(dev, {l}) OVER (PARTITION BY series ORDER BY ts, event_id)"
        f" AS dev_{l}"
        for l in _ACF_LAGS
    )
    return f"""
WITH base AS MATERIALIZED (
  SELECT CAST(user_id AS BIGINT) AS series, ts, event_id,
         CAST(round(value * 100) AS BIGINT) AS yc
  FROM events),
stats AS (
  SELECT series, CAST(SUM(yc) AS BIGINT) AS tot,
         CAST(count(*) AS BIGINT) AS n
  FROM base GROUP BY series),
d AS (
  SELECT b.series, b.ts, b.event_id, s.n, b.yc - (s.tot // s.n) AS dev
  FROM base b JOIN stats s ON s.series = b.series),
lagged AS MATERIALIZED (
  SELECT series, n, dev, {leads} FROM d)
{union}
"""


@register(
    "ts_acf",
    category="timeseries",
    oracle=_acf_sql(),
)
def ts_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-series autocorrelation at fixed lags — the
    seasonality/persistence diagnostic a forecasting pipeline (ts_holt,
    ts_seasonal_decompose) reads first. Engine-exact by the CUSUM
    discipline: values quantized to integer cents, the per-series mean
    is the TRUNCATING division tot div n, and the ACF is returned as
    exact integer (numerator, denominator) pairs rather than a float
    ratio — num_l = sum (y_t - mu)(y_{t+l} - mu), den = sum (y_t - mu)²
    over the (ts, event_id)-ordered stream.

    Plan shape (reworked r10, the p_item_cf lesson generalized): the
    original one-branch-per-lag union re-executed the events scan SIX
    times (measured — no ReusedExchange fires across the branches),
    and the mean came from a join-back aggregate that re-scanned the
    base. Now the per-series mean is a whole-partition WINDOW over the
    one scan (no join), all lags are leads off the SAME (ts, event_id)
    sort, ONE groupBy computes every (num_l, den) together, and the
    per-lag rows come from an inline explode — 6 scans → 1, same
    output rows."""
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        F.col("user_id").cast("bigint").alias("series"),
        "ts",
        "event_id",
        F.expr("cast(round(value * 100) as bigint)").alias("yc"),
    )
    w_all = Window.partitionBy("series")
    w = Window.partitionBy("series").orderBy("ts", "event_id")
    d = base.select(
        "series",
        "ts",
        "event_id",
        "yc",
        F.count(F.lit(1)).over(w_all).alias("n"),
        F.sum("yc").over(w_all).alias("tot"),
    ).select(
        "series",
        "ts",
        "event_id",
        "n",
        (F.col("yc") - F.expr("tot div n")).alias("dev"),
    )
    lagged = d.select(
        "series",
        "n",
        "dev",
        *[F.lead("dev", l).over(w).alias(f"dev_{l}") for l in _ACF_LAGS],
    )
    agg = lagged.groupBy("series").agg(
        F.first("n").alias("n"),
        F.sum(F.col("dev") * F.col("dev")).alias("den"),
        *[
            F.sum(F.col("dev") * F.col(f"dev_{l}")).alias(f"num_{l}")
            for l in _ACF_LAGS
        ],
    )
    pairs = F.array(
        *[
            F.struct(
                F.lit(l).cast("bigint").alias("lag"),
                F.col(f"num_{l}").cast("bigint").alias("num"),
            )
            for l in _ACF_LAGS
        ]
    )
    return (
        agg.select(
            "series",
            F.col("n").cast("bigint").alias("n"),
            F.col("den").cast("bigint").alias("den"),
            F.explode(pairs).alias("e"),
        )
        .select("series", F.col("e.lag").alias("lag"), "n", F.col("e.num").alias("num"), "den")
    )


_ZS_W = 20  # rolling window (preceding rows, current row excluded)
_ZS_K2 = 9  # k² for the k=3σ rule

_ZS_SQL = f"""
WITH r AS (
  SELECT event_type AS series, event_id,
         CAST(round(value * 100) AS BIGINT) AS cents,
         count(*) OVER w AS n,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT) AS s1,
         CAST(sum(CAST(round(value * 100) AS BIGINT)
                  * CAST(round(value * 100) AS BIGINT)) OVER w AS BIGINT) AS s2
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id
               ROWS BETWEEN {_ZS_W} PRECEDING AND 1 PRECEDING)
)
SELECT series, event_id, cents,
       ({_ZS_W} * cents - s1) * ({_ZS_W} * cents - s1) AS dev2,
       {_ZS_K2} * ({_ZS_W} * s2 - s1 * s1) AS k2var,
       ({_ZS_W} * cents - s1) * ({_ZS_W} * cents - s1)
         > {_ZS_K2} * ({_ZS_W} * s2 - s1 * s1) AS is_anomaly
FROM r WHERE n = {_ZS_W}
"""


@register(
    "ts_zscore_anomaly",
    category="timeseries",
    oracle=_ZS_SQL,
)
def ts_zscore_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly flags per series: a reading is anomalous
    when |x − μ| > kσ over the W preceding observations (current row
    excluded — the standard 'compare against recent history' form).
    ENGINE-EXACT BY CONSTRUCTION: with integer cents, n = W,
    S1 = Σ cents, S2 = Σ cents², the rule |x−μ| > kσ is equivalent to
    (W·x − S1)² > k²·(W·S2 − S1²) — every quantity an int64 (bounds:
    cents ≤ ~10⁴, W = 20 → dev² ≤ 1.6e11, W·S2 ≤ 4e10), so there is no
    sqrt, no division, and no fp at any point; the twin replays the
    identical integer algebra. Rows with fewer than W predecessors are
    warm-up and not emitted. One window shuffle keyed by series; the
    two rolling sums share the single (series, ts, event_id) sort."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("series"),
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w = (
        Window.partitionBy("series")
        .orderBy("ts", "event_id")
        .rowsBetween(-_ZS_W, -1)
    )
    r = ev.select(
        "series",
        "event_id",
        "cents",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("cents").over(w).alias("s1"),
        F.sum(F.col("cents") * F.col("cents")).over(w).alias("s2"),
    ).filter(F.col("n") == _ZS_W)
    dev = _ZS_W * F.col("cents") - F.col("s1")
    var_n = _ZS_W * F.col("s2") - F.col("s1") * F.col("s1")
    return r.select(
        "series",
        "event_id",
        "cents",
        (dev * dev).cast("bigint").alias("dev2"),
        (F.lit(_ZS_K2) * var_n).cast("bigint").alias("k2var"),
        (dev * dev > _ZS_K2 * var_n).alias("is_anomaly"),
    )


_VWAP_SQL = """
WITH x AS (
  SELECT CAST(date_trunc('week', l_shipdate) AS DATE) AS week,
         CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents,
         CAST(l_quantity AS BIGINT) AS qty
  FROM lineitem
)
SELECT week, CAST(sum(qty) AS BIGINT) AS total_qty,
       CAST(sum(cents * qty) AS BIGINT) AS notional_cents,
       CAST(sum(cents * qty) // sum(qty) AS BIGINT) AS vwap_cents
FROM x GROUP BY week
"""


@register(
    "ts_vwap_bars",
    category="timeseries",
    oracle=_VWAP_SQL,
)
def ts_vwap_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly VWAP bars over lineitem: vwap = sum(price*qty)/sum(qty)
    in exact integer cents (floor division). Quantities in the TPC-H
    shape are integral doubles, so the bigint cast is exact; prices
    quantize via the ROUND(x*100) cents idiom (j15's). One map pass +
    one week-keyed aggregate — partial aggregation map-side, ~52
    groups/year at any scale. Int64 headroom: cents*qty <= ~5*10^8 per
    row, so a week's sum overflows only past ~2*10^10 rows/week; at
    that scale the sum would move to decimal(38,0) — documented, not
    needed at fixture sfs."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            F.date_trunc("week", "l_shipdate").cast("date").alias("week"),
            F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
            F.col("l_quantity").cast("bigint").alias("qty"),
        )
        .groupBy("week")
        .agg(
            F.sum("qty").alias("total_qty"),
            F.sum(F.col("cents") * F.col("qty")).alias("notional_cents"),
        )
        .select(
            "week",
            "total_qty",
            "notional_cents",
            F.expr("notional_cents div total_qty").alias("vwap_cents"),
        )
    )


# ---------------------------------------------------------------------------
# ts_changepoint (registered round 12; twin pre-verified in the batch-J
# candidate suite at both fixture sfs — tests/test_r12_candidates.py,
# now retired)
# ---------------------------------------------------------------------------

_CP_MIN_N = 8  # series shorter than this carry no meaningful split

_CP_SQL = f"""
WITH r AS (
  SELECT user_id AS series,
         CAST(row_number() OVER w AS BIGINT) AS k,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER
              (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS a,
         CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) OVER
              (PARTITION BY user_id) AS BIGINT) AS t
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT series, k, n, a, t - a AS b,
         a * a * (n - k) + (t - a) * (t - a) * k AS num,
         k * (n - k) AS den
  FROM r WHERE n >= {_CP_MIN_N} AND k < n
)
SELECT series, n, k AS k_split,
       a // k AS mu_l_cents, b // (n - k) AS mu_r_cents, num, den
FROM (
  SELECT s.*, row_number() OVER (
           PARTITION BY series
           ORDER BY CAST(num AS DOUBLE) / CAST(den AS DOUBLE) DESC, k
         ) AS rn
  FROM s
) WHERE rn = 1
"""


@register(
    "ts_changepoint",
    category="timeseries",
    oracle=_CP_SQL,
)
def ts_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single change-point per series (binary segmentation's inner step
    — Scott & Knott / CUSUM-style regime detection, public): the split
    k that minimizes SSE_left + SSE_right over the (ts, event_id)-
    ordered integer-cents series equivalently MAXIMIZES
    B(k) = a²/k + b²/(n−k) (a = prefix sum, b = total − a; the
    between-segment term of the ANOVA decomposition, total SSE fixed).
    ENGINE-EXACT: a, b, n, k are int64 prefix/total sums off ONE
    ordered window pass; B(k) is compared as the single IEEE division
    num/den with num = a²(n−k) + b²k and den = k(n−k) — both exact
    int64 (bounds: ≤99 events/user × cents ≤ 6e4 → a ≤ 6e6,
    num ≤ 4e15 < 2⁵³, so the doubles are exact and the argmax is
    engine-identical; ties break on smaller k). Warm-up: series with
    n < {_CP_MIN_N} are dropped; k ranges 1..n−1. One window shuffle
    keyed by series; the argmax is a WindowGroupLimit over the same
    key. Int64 headroom documents the decimal(38,0) escalation past
    ~10⁵ events/series. Planted-shift recovery is pinned in
    tests/test_registered_guards.py (a crafted level shift at k=10
    must split exactly there)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("series"),
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w_ord = (
        Window.partitionBy("series")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_seq = Window.partitionBy("series").orderBy("ts", "event_id")
    w_all = Window.partitionBy("series")
    r = ev.select(
        "series",
        F.row_number().over(w_seq).cast("bigint").alias("k"),
        F.sum("cents").over(w_ord).alias("a"),
        F.count(F.lit(1)).over(w_all).alias("n"),
        F.sum("cents").over(w_all).alias("t"),
    ).filter((F.col("n") >= _CP_MIN_N) & (F.col("k") < F.col("n")))
    b = F.col("t") - F.col("a")
    num = (
        F.col("a") * F.col("a") * (F.col("n") - F.col("k"))
        + b * b * F.col("k")
    )
    den = F.col("k") * (F.col("n") - F.col("k"))
    scored = r.select(
        "series",
        "k",
        "n",
        F.col("a"),
        b.alias("b"),
        num.cast("bigint").alias("num"),
        den.cast("bigint").alias("den"),
        (num.cast("double") / den.cast("double")).alias("gain"),
    )
    best = Window.partitionBy("series").orderBy(F.col("gain").desc(), F.col("k"))
    return (
        scored.withColumn("rn", F.row_number().over(best))
        .filter(F.col("rn") == 1)
        .select(
            "series",
            F.col("n").cast("bigint").alias("n"),
            F.col("k").alias("k_split"),
            F.expr("a div k").alias("mu_l_cents"),
            F.expr("b div (n - k)").alias("mu_r_cents"),
            "num",
            "den",
        )
    )


# ---------------------------------------------------------------------------
# ts_anomaly_mad (registered round 13 under the raised ≤10 budget;
# twin pre-verified in the batch-L candidate suite at both fixture sfs
# — tests/test_r14_candidates.py, now retired)
# ---------------------------------------------------------------------------

_MAD_K = 3  # flag |x - med| > K * MAD

_MAD_SQL = f"""
WITH b AS MATERIALIZED (
  SELECT user_id AS series, event_id,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
r AS (
  SELECT series, cents,
         row_number() OVER (PARTITION BY series ORDER BY cents, event_id)
           AS rn,
         count(*) OVER (PARTITION BY series) AS n
  FROM b
),
med AS MATERIALIZED (
  SELECT series, cents AS med_cents FROM r WHERE rn = (n + 1) // 2
),
dev AS MATERIALIZED (
  SELECT b.series, b.event_id, b.cents, med.med_cents,
         abs(b.cents - med.med_cents) AS dev
  FROM b JOIN med ON b.series = med.series
),
r2 AS (
  SELECT series, dev,
         row_number() OVER (PARTITION BY series ORDER BY dev, event_id) AS rn,
         count(*) OVER (PARTITION BY series) AS n
  FROM dev
),
mad AS MATERIALIZED (
  SELECT series, dev AS mad_cents FROM r2 WHERE rn = (n + 1) // 2
)
SELECT d.series, d.event_id, d.cents, d.med_cents, d.dev, m.mad_cents
FROM dev d JOIN mad m ON d.series = m.series
WHERE d.dev > {_MAD_K} * m.mad_cents
"""


@register(
    "ts_anomaly_mad",
    category="timeseries",
    oracle=_MAD_SQL,
)
def ts_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-series anomaly detection by MEDIAN absolute deviation
    — the outlier-resistant alternative to ts_zscore_anomaly (a single
    spike inflates a z-score's own std and hides itself; it cannot
    move a median). All statistics are exact integer cents selected BY
    RANK (position (n+1) div 2 under the (value, event_id) total
    order — the a24/p_embed_outliers no-interpolation discipline), so
    both engines pick the identical element and the flag predicate
    |x−med| > K·MAD is pure int64 arithmetic. The per-series base
    table is POOLED (swap_persist key tsmad.base): it feeds the median
    pass, the deviation-median pass, and the flag pass — one events
    scan total. At 100 TB everything is series-keyed windows and joins
    on the same key; no global stage anywhere. Selectivity guard in
    tests/test_registered_guards.py."""
    from ..operators.cachepool import swap_persist

    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").alias("series"),
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    b = swap_persist("tsmad.base", ev)
    wv = Window.partitionBy("series").orderBy("cents", "event_id")
    wn = Window.partitionBy("series")
    med = (
        b.select(
            "series",
            "cents",
            F.row_number().over(wv).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("series", F.col("cents").alias("med_cents"))
    )
    dev = b.join(med, "series").select(
        "series",
        "event_id",
        "cents",
        "med_cents",
        F.abs(F.col("cents") - F.col("med_cents")).alias("dev"),
    )
    wd = Window.partitionBy("series").orderBy("dev", "event_id")
    mad = (
        dev.select(
            "series",
            "dev",
            F.row_number().over(wd).alias("rn"),
            F.count(F.lit(1)).over(wn).alias("n"),
        )
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("series", F.col("dev").alias("mad_cents"))
    )
    return (
        dev.join(mad, "series")
        .filter(F.col("dev") > _MAD_K * F.col("mad_cents"))
        .select("series", "event_id", "cents", "med_cents", "dev", "mad_cents")
    )
