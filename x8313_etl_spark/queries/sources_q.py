"""Sources & sinks as verifiable queries (SURVEY.md §2.1, S1-S6).

S3/S4/S5 are write→read round-trips through a scratch dir inside the
repo (`.scratch/`, gitignored): the sink side-effect is verified by
reading the written data back and oracle-checking it against the
original table. S7/S8 (streaming source/sink) live in streaming_q.py.
"""

from __future__ import annotations

import os

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.numeric import dsum, dsum_cents, sql_dsum, sql_dsum_cents
from ..io import load_table, read_csv, read_jsonl, write_parquet_partitioned
from ..registry import register
from ..schemas import DOCUMENTS, SUPPLIER

_SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), ".scratch")


def scratch(*parts: str) -> str:
    os.makedirs(_SCRATCH, exist_ok=True)
    return os.path.join(_SCRATCH, *parts)


def _tag(sf_dir: str) -> str:
    return os.path.basename(sf_dir.rstrip("/"))


@register(
    "s1_parquet_scan",
    category="sources",
    oracle="SELECT * FROM nation",
)
def s1_parquet_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1: plain vectorized parquet scan."""
    return load_table(spark, sf_dir, "nation")


@register(
    "s2_schema_pinned_scan",
    category="sources",
    oracle="SELECT r_regionkey, r_name FROM region",
)
def s2_schema_pinned_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: scan with explicit pinned schema (all loads in io.py are pinned;
    drift raises at read — see tests/test_sources.py)."""
    return load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")


@register(
    "s3_csv_roundtrip",
    category="sources",
    oracle="SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier",
)
def s3_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: csv write → schema-pinned csv read. Doubles survive because
    Spark writes shortest-round-trip representations."""
    path = scratch(f"s3_supplier_csv_{_tag(sf_dir)}")
    sup = load_table(spark, sf_dir, "supplier")
    sup.write.mode("overwrite").csv(path, header=True)
    return read_csv(spark, path, SUPPLIER)


@register(
    "s4_jsonl_roundtrip",
    category="sources",
    oracle="SELECT doc_id, lang, source, n_chars, md5(text) AS text_md5 FROM documents",
)
def s4_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: json-lines write → schema-pinned read; text integrity checked
    via md5 so JSON string escaping bugs can't hide."""
    path = scratch(f"s4_documents_jsonl_{_tag(sf_dir)}")
    docs = load_table(spark, sf_dir, "documents")
    docs.write.mode("overwrite").json(path)
    back = read_jsonl(spark, path, DOCUMENTS)
    return back.select(
        "doc_id", "lang", "source", "n_chars", F.md5("text").alias("text_md5")
    )


@register(
    "s5_partitioned_write",
    category="sources",
    oracle=f"""
SELECT o_orderstatus,
       COUNT(*) AS cnt,
       {sql_dsum('o_totalprice')} AS total
FROM orders
WHERE o_orderstatus IN ('F', 'O')
GROUP BY o_orderstatus
""",
)
def s5_partitioned_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: partitioned parquet write, read back with a partition filter —
    the filter prunes directories (partition pruning), which is the whole
    point of this layout at 100 TB."""
    path = scratch(f"s5_orders_by_status_{_tag(sf_dir)}")
    orders = load_table(spark, sf_dir, "orders")
    write_parquet_partitioned(orders, path, "o_orderstatus")
    back = spark.read.parquet(path).filter(F.col("o_orderstatus").isin("F", "O"))
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("cnt"),
        dsum("o_totalprice").alias("total"),
    )


@register(
    "s6_temp_view_sql",
    category="sources",
    oracle="""
SELECT l_returnflag, COUNT(*) AS cnt, MAX(l_quantity) AS max_qty
FROM lineitem
GROUP BY l_returnflag
""",
)
def s6_temp_view_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6: temp-view registration + the SQL entry point (spark.sql)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("x8313_lineitem_v")
    return spark.sql(
        """
        SELECT l_returnflag, COUNT(*) AS cnt, MAX(l_quantity) AS max_qty
        FROM x8313_lineitem_v
        GROUP BY l_returnflag
        """
    )


@register(
    "s9_bucketed_join",
    category="sources",
    oracle=f"""
SELECT c_mktsegment,
       COUNT(*) AS n_orders,
       {sql_dsum('o_totalprice')} AS revenue
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
)
def s9_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9: bucketed tables → exchange-free co-located join. Both sides
    are written with ``bucketBy(8, custkey).sortBy(custkey)`` (Spark's
    native bucketing: file-per-bucket layout + bucket spec in the
    catalog), so the join keys are already hash-co-located on disk and
    the SortMergeJoin needs NO shuffle on either side — the plan test
    asserts zero Exchange between scans and join. This is the canonical
    pre-shuffle amortization at 100 TB: pay the bucketing once at write
    time, then every custkey join/agg over the fact table reads
    co-partitioned buckets forever. Data lands under .scratch via the
    explicit path option (the catalog entry is session-scoped in-memory;
    re-registration per run is idempotent)."""
    tag = _tag(sf_dir).replace(".", "_")
    ord_t, cust_t = f"x8313_orders_b_{tag}", f"x8313_customer_b_{tag}"
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    for name, df, key in ((ord_t, orders, "o_custkey"), (cust_t, customer, "c_custkey")):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.mode("overwrite")
            .option("path", scratch(f"{name}"))
            .bucketBy(8, key)
            .sortBy(key)
            .saveAsTable(name)
        )
    j = spark.table(ord_t).join(
        spark.table(cust_t),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        dsum("o_totalprice").alias("revenue"),
    )


#: z-order quantization: 8 bits per dimension → 16-bit z-values
Z_BITS = 8
Z_SIDE = 1 << Z_BITS  # 256
PRICE_HI = 500_000.0  # o_totalprice upper bound for quantization


def _z_interleave_sql(qx: str, qy: str) -> str:
    return " | ".join(
        f"(((({qx} >> {i}) & 1) << {2 * i + 1}) | ((({qy} >> {i}) & 1) << {2 * i}))"
        for i in range(Z_BITS)
    )


@register(
    "s12_zorder_layout",
    category="sources",
    oracle=f"""
WITH mx AS (SELECT max(o_custkey) AS maxk FROM orders),
q AS (
  SELECT o_orderkey,
         CAST(LEAST((o_custkey * {Z_SIDE}) // (mx.maxk + 1), {Z_SIDE - 1}) AS BIGINT) AS qx,
         CAST(LEAST(CAST(floor(o_totalprice * {Z_SIDE} / {PRICE_HI}) AS BIGINT), {Z_SIDE - 1}) AS BIGINT) AS qy
  FROM orders, mx
)
SELECT o_orderkey, qx, qy,
       CAST({_z_interleave_sql('qx', 'qy')} AS BIGINT) AS z
FROM q
""",
)
def s12_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S12: Z-order (Morton) values over (customer, price) — the
    multi-dimensional clustering key that makes file-level min/max
    pruning work for BOTH dimensions at once: writing
    ``repartitionByRange(z).sortWithinPartitions(z)`` gives every file
    a tight z-interval, and any 2-D box predicate touches only the few
    files whose interval intersects the box's z-ranges
    (tests/test_zorder.py demonstrates the pruning on a real written
    layout). The z math is pure integer bit interleaving — 8 bits per
    dimension via shift/mask, identical in any engine; the custkey
    quantizer takes its range from an in-plan scalar agg (no collect),
    the price quantizer multiplies by a power of two (exact) before one
    division. Map-only + one tiny crossed-in agg."""
    o = load_table(spark, sf_dir, "orders")
    mx = o.agg(F.max("o_custkey").alias("maxk"))
    q = o.crossJoin(mx).select(
        "o_orderkey",
        F.least(
            F.expr(f"(o_custkey * {Z_SIDE}) div (maxk + 1)"), F.lit(Z_SIDE - 1)
        ).cast("bigint").alias("qx"),
        F.least(
            F.floor(F.col("o_totalprice") * Z_SIDE / PRICE_HI).cast("bigint"),
            F.lit(Z_SIDE - 1),
        ).alias("qy"),
    )
    z = None
    for i in range(Z_BITS):
        bit = F.shiftleft(
            F.shiftright(F.col("qx"), i).bitwiseAND(F.lit(1)), 2 * i + 1
        ).bitwiseOR(
            F.shiftleft(F.shiftright(F.col("qy"), i).bitwiseAND(F.lit(1)), 2 * i)
        )
        z = bit if z is None else z.bitwiseOR(bit)
    return q.select("o_orderkey", "qx", "qy", z.cast("bigint").alias("z"))


@register(
    "s13_orc_roundtrip",
    category="sources",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def s13_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S13: ORC write → read. Completes the columnar-format matrix next
    to parquet: same pushdown/pruning machinery (ORC carries its own
    stripe-level min/max indexes), natively supported by the JVM side
    with zero extra dependencies. The practical role at scale is
    interop — reading lakes that standardized on ORC (Hive lineage)
    without a conversion hop."""
    path = scratch(f"s13_nation_orc_{_tag(sf_dir)}")
    n = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    n.write.mode("overwrite").orc(path)
    return spark.read.orc(path)


@register(
    "s14_text_roundtrip",
    category="sources",
    oracle="""
SELECT CAST(string_split(line, '\x1f')[1] AS BIGINT) AS doc_id,
       string_split(line, '\x1f')[2] AS lang,
       md5(string_split(line, '\x1f')[3]) AS text_md5
FROM (SELECT concat(doc_id, chr(31), lang, chr(31), text) AS line FROM documents)
""",
)
def s14_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S14: raw text-file sink/source — one string column per line, the
    lowest-common-denominator format log pipelines hand you. Fields are
    packed with the ASCII unit separator (0x1f, absent from the corpus
    by construction) and re-split on read; text integrity is pinned via
    md5 like s4. The fixture corpus is single-line; at scale a real
    ingest adds a lineSep contract for embedded newlines."""
    path = scratch(f"s14_documents_text_{_tag(sf_dir)}")
    d = load_table(spark, sf_dir, "documents")
    d.select(
        F.concat_ws("\x1f", F.col("doc_id"), F.col("lang"), F.col("text")).alias(
            "value"
        )
    ).write.mode("overwrite").text(path)
    back = spark.read.text(path)
    parts = F.split(F.col("value"), "\x1f")
    return back.select(
        parts.getItem(0).cast("bigint").alias("doc_id"),
        parts.getItem(1).alias("lang"),
        F.md5(parts.getItem(2)).alias("text_md5"),
    )


@register(
    "s15_compaction",
    category="sources",
    oracle=f"""
SELECT o_orderstatus,
       CAST(count(*) AS BIGINT) AS n_orders,
       {sql_dsum_cents('o_totalprice')} AS sum_price
FROM orders
""" + "GROUP BY o_orderstatus",
)
def s15_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S15: small-file compaction — the table-maintenance op every
    long-lived lake needs. Stage 1 simulates the problem: orders
    land partitioned by o_orderstatus with 16 writer tasks → up to
    16 small files per partition (a streaming ingest's natural
    output). Stage 2 compacts: ``repartition(status)`` routes each
    partition's rows to one task so the rewrite emits ONE file per
    partition (test_sources.py asserts the before/after file counts
    on disk). At 100 TB the same rewrite runs per-partition with a
    byte-size target (maxRecordsPerFile / AQE advisory size) instead
    of one-task-per-partition; what matters is that the data path is
    a shuffle-once rewrite, never a driver-side file loop. The
    returned rollup reads the COMPACTED layout, so the oracle match
    proves the rewrite lost/duplicated nothing."""
    small = scratch(f"s15_small_{_tag(sf_dir)}")
    compact = scratch(f"s15_compact_{_tag(sf_dir)}")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    o.repartition(16).write.mode("overwrite").partitionBy("o_orderstatus").parquet(
        small
    )
    ingested = spark.read.parquet(small)
    ingested.repartition(F.col("o_orderstatus")).write.mode("overwrite").partitionBy(
        "o_orderstatus"
    ).parquet(compact)
    return (
        spark.read.parquet(compact)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            dsum_cents("o_totalprice").alias("sum_price"),
        )
    )


@register(
    "s16_corrupt_records",
    category="sources",
    oracle="""
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars
FROM documents WHERE doc_id % 10 <> 0
GROUP BY lang
UNION ALL
SELECT '_corrupt', CAST(count(*) AS BIGINT), CAST(NULL AS BIGINT)
FROM documents WHERE doc_id % 10 = 0
""",
)
def s16_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S16: malformed-input quarantine — PERMISSIVE JSON parsing with a
    ``_corrupt_record`` column, the ingest posture for any feed you
    don't control. Stage 1 manufactures the feed: every 10th document
    serializes as a truncated JSON line (a mid-object cut, the classic
    partial-write), the rest as valid objects. Stage 2 reads it back
    schema-pinned in PERMISSIVE mode: bad lines land whole in the
    quarantine column with every data field NULL, good lines parse
    normally — one scan, no pre-validation pass, and the job NEVER
    fails on bad rows (FAILFAST's opposite; s2 covers strictness).
    The rollup accounts for both populations and the oracle recomputes
    them from the clean base table via the corruption rule, proving no
    line was lost or misclassified. At 100 TB quarantined raws are
    written to a dead-letter sink for replay; the parse/quarantine
    data path here is exactly that shape."""
    path = scratch(f"s16_feed_{_tag(sf_dir)}")
    d = load_table(spark, sf_dir, "documents")
    line = F.when(
        F.col("doc_id") % 10 == 0,
        F.concat(F.lit('{"doc_id": '), F.col("doc_id").cast("string"), F.lit(', "lang": "')),
    ).otherwise(
        F.to_json(F.struct("doc_id", "lang", "n_chars"))
    )
    d.select(line.alias("value")).write.mode("overwrite").text(path)
    parsed = (
        spark.read.schema("doc_id bigint, lang string, n_chars bigint, _corrupt string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(path)
    )
    # one scan, one agg: quarantined rows regroup under the '_corrupt'
    # label, and their all-NULL data fields make sum_chars NULL for that
    # group with no special-casing (also sidesteps Spark's ban on
    # querying ONLY the corrupt column off a raw json scan)
    label = F.when(F.col("_corrupt").isNotNull(), "_corrupt").otherwise(
        F.col("lang")
    )
    return (
        parsed.groupBy(label.alias("lang"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


# ---------------------------------------------------------------------------
# S17: custom Python data source (Spark 4 DataSource API).
# ---------------------------------------------------------------------------

_S17_ROWS = 10_000
_S17_SENSORS = 50


def _s17_reading_sql() -> str:
    return (
        "(CAST(CONCAT('0x', substr(md5('x11-' || CAST(seq AS VARCHAR)), 1, 8)) "
        "AS BIGINT) % 1000000) / 1000000.0"
    )


@register(
    "s17_python_datasource",
    category="sources",
    oracle=f"""
WITH g AS (SELECT unnest(generate_series(0, {_S17_ROWS - 1})) AS seq),
r AS (
  SELECT CAST(seq % {_S17_SENSORS} AS INTEGER) AS sensor_id,
         {_s17_reading_sql()} AS reading
  FROM g
)
SELECT sensor_id,
       CAST(count(*) AS BIGINT) AS n,
       {sql_dsum('reading')} AS total
FROM r GROUP BY sensor_id
""",
)
def s17_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S17: a CUSTOM batch data source through the Spark 4 Python
    DataSource API (pyspark.sql.datasource) — the modern extension
    point for sources Spark has no native connector for. The source
    declares 8 InputPartitions; each executor-side ``read(partition)``
    generates its own row range independently (the partition object is
    the only thing shipped), so the scan parallelizes like any native
    source and scales by adding partitions. Rows are deterministic
    md5-derived sensor readings quantized to 6 dp AT GENERATION, so the
    DuckDB twin regenerates the identical table from generate_series +
    the same md5 algebra, and the decimal-sum aggregate is
    grid-exact cross-engine. The aggregate on top proves rows flow
    through the normal relational pipeline (shuffle, partial aggs).
    python_ds.py holds the DataSource/Reader classes — they must be
    importable on executors, not closures."""
    from ..python_ds import SensorDataSource

    try:
        spark.dataSource.register(SensorDataSource)
    except Exception:
        pass  # already registered in this session — idempotent use
    df = spark.read.format("x8313_sensors").load()
    return df.groupBy("sensor_id").agg(
        F.count(F.lit(1)).alias("n"),
        dsum("reading").alias("total"),
    )


@register(
    "s18_csv_malformed_modes",
    category="sources",
    oracle="""
SELECT 'permissive_total' AS measure, CAST(count(*) AS BIGINT) AS n
FROM supplier
UNION ALL
SELECT 'permissive_corrupt', CAST(count(*) AS BIGINT)
FROM supplier WHERE s_suppkey % 10 = 0
UNION ALL
SELECT 'dropmalformed_rows', CAST(count(*) AS BIGINT)
FROM supplier WHERE s_suppkey % 10 <> 0
UNION ALL
SELECT 'failfast_raises', CAST(1 AS BIGINT)
""",
)
def s18_csv_malformed_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S18: the three CSV malformed-input postures, side by side —
    s16's JSON quarantine pattern completed for the other
    uncontrolled-feed format. Stage 1 manufactures a CSV where every
    10th supplier row carries a non-numeric account balance (the
    classic upstream type slip). Stage 2 reads it back three ways:
    PERMISSIVE with a _corrupt_record column (bad lines quarantined
    whole, fields NULL — the never-fail ingest posture),
    DROPMALFORMED (bad lines silently gone — the quick-and-dirty
    posture, counted to show exactly what it silently cost), and
    FAILFAST (the strict posture — asserted to raise, recorded as a
    measure row so the CONTRACT is part of the verified output). The
    twin recomputes every count from the clean base table via the
    corruption rule, proving classification lost nothing. All three
    reads share one schema-pinned scan shape; at 100 TB this is the
    dead-letter-sink triage s16 describes, format #2."""
    import os

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    path = scratch(f"s18_csvfeed_{_tag(sf_dir)}")
    s = load_table(spark, sf_dir, "supplier")
    bal = F.when(F.col("s_suppkey") % 10 == 0, F.lit("not-a-number")).otherwise(
        F.col("s_acctbal").cast("string")
    )
    line = F.concat_ws(
        ",", F.col("s_suppkey").cast("string"), F.col("s_name"), bal
    )
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        s.select(line.alias("value")).write.mode("overwrite").text(path)
    schema = StructType(
        [
            StructField("k", LongType()),
            StructField("name", StringType()),
            StructField("bal", DoubleType()),
            StructField("_corrupt_record", StringType()),
        ]
    )
    # Spark refuses a query that projects ONLY the corrupt column (it
    # would re-parse with a pruned schema and mark nothing corrupt) —
    # cache the parsed result first, the documented pattern
    permissive = spark.read.csv(
        path, schema=schema, mode="PERMISSIVE",
        columnNameOfCorruptRecord="_corrupt_record",
    ).cache()
    try:
        n_total = permissive.count()
        n_corrupt = permissive.filter(
            F.col("_corrupt_record").isNotNull()
        ).count()
    finally:
        permissive.unpersist(blocking=False)
    dropm = spark.read.csv(
        path, schema=StructType(schema.fields[:3]), mode="DROPMALFORMED"
    )
    # same pruning trap as FAILFAST: carry the typed column through the
    # aggregate so malformed rows are actually detected and dropped
    n_drop = dropm.agg(
        F.count(F.lit(1)).alias("n"), F.sum("bal").alias("__force_parse")
    ).collect()[0].n
    failfast_raised = 0
    try:
        # count() alone would prune every column and parse nothing —
        # aggregate the typed column so FAILFAST actually converts it
        spark.read.csv(
            path, schema=StructType(schema.fields[:3]), mode="FAILFAST"
        ).agg(F.sum("bal")).collect()
    except Exception:
        failfast_raised = 1
    assert failfast_raised == 1, "FAILFAST accepted a malformed feed"
    rows = [
        ("permissive_total", n_total),
        ("permissive_corrupt", n_corrupt),
        ("dropmalformed_rows", n_drop),
        ("failfast_raises", failfast_raised),
    ]
    return spark.createDataFrame(rows, "measure string, n long")


# ---------------------------------------------------------------------------
# S19: XML round-trip (registered round 7; twin pre-verified in
# tests/test_r7_candidates.py before registration).
# ---------------------------------------------------------------------------

_S19_SQL = """
SELECT s_suppkey, s_name, CAST(s_nationkey AS BIGINT) AS s_nationkey,
       CAST(s_acctbal AS DOUBLE) AS s_acctbal
FROM supplier
"""


@register(
    "s19_xml_roundtrip",
    category="sources",
    oracle=_S19_SQL,
)
def s19_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S19: XML write → read via Spark 4's BUILT-IN xml datasource
    (spark-xml was folded into spark-sql in 4.0 — zero extra jars;
    probed working in this image, unlike avro whose connector module is
    absent — ROADMAP blocker note). Supplier is the interop-shaped
    table: mixed ints, strings with punctuation, doubles. XML stores
    everything as text elements, so the read-back pins an explicit
    schema (the s2 discipline) rather than trusting inference, and the
    doubles round-trip through the XML writer's shortest-repr text form
    — exact for these fixture values (asserted by the twin's strict
    compare). Scale: XML is a row-major text format — fine for feeds
    and interchange, never the analytics store; the write/read is
    partition-parallel like csv/json (s3/s4)."""
    path = scratch(f"s19_supplier_xml_{_tag(sf_dir)}")
    s = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey", "s_acctbal"
    )
    s.write.format("xml").option("rootTag", "suppliers").option(
        "rowTag", "supplier"
    ).mode("overwrite").save(path)
    return spark.read.format("xml").option("rowTag", "supplier").schema(
        "s_suppkey long, s_name string, s_nationkey long, s_acctbal double"
    ).load(path)


# ---------------------------------------------------------------------------
# s21: Spark 4 STREAMING Python DataSource (DataSourceStreamReader)
# ---------------------------------------------------------------------------


def _s21_sql() -> str:
    from ..functions.numeric import sql_dsum
    from ..python_ds import N_SENSORS, STREAM_ROWS_PER_TICK, STREAM_TICKS

    total_rows = STREAM_TICKS * STREAM_ROWS_PER_TICK
    reading = (
        "round((CAST(CONCAT('0x', substr(md5('s21-' || CAST(seq AS VARCHAR)), 1, 8)) "
        "AS BIGINT) % 1000000) / 1000000.0, 6)"
    )
    return f"""
WITH g AS (SELECT unnest(generate_series(0, {total_rows - 1})) AS seq),
r AS (
  SELECT CAST(seq % {N_SENSORS} AS INTEGER) AS sensor_id, seq,
         {reading} AS reading
  FROM g
)
SELECT sensor_id,
       CAST(count(*) AS BIGINT) AS n,
       CAST(min(seq) AS INTEGER) AS seq_min,
       CAST(max(seq) AS INTEGER) AS seq_max,
       {sql_dsum('reading')} AS total
FROM r GROUP BY sensor_id
"""


@register(
    "s21_python_stream_source",
    category="streaming",
    oracle=_s21_sql(),
)
def s21_python_stream_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A custom STREAMING source through the Spark 4 Python DataSource
    API (DataSourceStreamReader — the partition-planned form whose
    read() runs executor-side; SimpleDataSourceStreamReader is the
    documented driver-side lightweight variant, deliberately not used).
    The source serves STREAM_TICKS deterministic micro-batches of
    md5-derived sensor readings and then holds its offset, so the
    stream goes idle exactly like a caught-up queue; the query polls
    the memory sink to the known row count and stops. The aggregate on
    top proves streamed rows flow through the normal relational
    pipeline; the twin regenerates the identical table from
    generate_series + the same md5 algebra. Completes the Python
    DataSource triangle with s17 (batch read) and x13 (stream write);
    restart safety pinned by the sidecar unit + live-checkpoint drills
    in tests/test_registered_guards.py."""
    import time as _time
    import tempfile
    import uuid as _uuid

    from ..functions.numeric import dsum
    from ..python_ds import (
        STREAM_ROWS_PER_TICK,
        STREAM_TICKS,
        SensorStreamDataSource,
    )

    try:
        spark.dataSource.register(SensorStreamDataSource)
    except Exception:
        pass  # already registered in this session — idempotent use
    run_id = _uuid.uuid4().hex[:8]
    sink = f"s21_sink_{run_id}"
    # per-run durable offset sidecar: the reader's served-tick
    # high-water survives a checkpoint restart (see SensorStreamReader's
    # restart-safety note) — a fresh file per run restarts the feed
    progress = os.path.join(tempfile.gettempdir(), f"s21_progress_{run_id}")
    df = (
        spark.readStream.format("x8313_sensor_stream")
        .option("progressDir", progress)
        .load()
    )
    q = (
        df.writeStream.format("memory")
        .queryName(sink)
        .trigger(processingTime="0 seconds")
        .start()
    )
    want = STREAM_TICKS * STREAM_ROWS_PER_TICK
    try:
        deadline = _time.time() + 180
        while _time.time() < deadline:
            if spark.table(sink).count() >= want:
                break
            _time.sleep(0.5)
        else:
            raise TimeoutError("s21 stream did not serve all ticks in 180s")
    finally:
        q.stop()
    got = spark.table(sink)
    return got.groupBy("sensor_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("seq").alias("seq_min"),
        F.max("seq").alias("seq_max"),
        dsum("reading").alias("total"),
    )


# ---------------------------------------------------------------------------
# s22: binaryFile scan — the media-file front door of the multimodal path
# ---------------------------------------------------------------------------

_S22_N_FILES = 24


def _s22_payload(i: int) -> bytes:
    """Deterministic pseudo-media payload: i's md5 digest repeated
    (i % 7 + 1) times — variable lengths, exact bytes both engines can
    regenerate."""
    import hashlib

    return hashlib.md5(f"s22-{i}".encode()).digest() * (i % 7 + 1)


def _s22_sql() -> str:
    import hashlib

    rows = []
    for i in range(_S22_N_FILES):
        p = _s22_payload(i)
        rows.append(
            f"('m{i:03d}.bin', {len(p)}, '{hashlib.md5(p).hexdigest()}', "
            f"'{p[0]:02X}')"
        )
    values = ",\n".join(rows)
    return f"""
SELECT * FROM (VALUES
{values}
) AS t(fname, n_bytes, content_md5, first_byte_hex)
"""


@register(
    "s22_binaryfile_scan",
    category="sources",
    oracle=_s22_sql(),
)
def s22_binaryfile_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ``binaryFile`` source — Spark's ingestion path for media
    FILES (images/audio dropped in object storage), the front door of
    the multimodal pipeline whose column-side plumbing x7–x9 cover:
    each file becomes (path, modificationTime, length, content:binary).
    A deterministic corpus of pseudo-media files is written once per
    fixture dir, scanned via format('binaryFile'), and digested
    JVM-side (length + md5 of content + first byte) — so the twin
    (driver-computed VALUES from the same generator — legitimate
    because the thing under test is Spark's file→row boundary, not a
    relational computation) proves bytes survived the file→row
    boundary intact. Scale: one file = one row; the scan parallelizes
    per file exactly like any file source, and pushing length/path
    filters down (pathGlobFilter, the documented knob) prunes before
    content IO."""
    d = scratch(f"s22_binfiles_{_tag(sf_dir)}")
    if not os.path.isdir(d) or len(os.listdir(d)) != _S22_N_FILES:
        os.makedirs(d, exist_ok=True)
        for i in range(_S22_N_FILES):
            with open(os.path.join(d, f"m{i:03d}.bin"), "wb") as f:
                f.write(_s22_payload(i))
    df = spark.read.format("binaryFile").load(d)
    return df.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("fname"),
        F.col("length").cast("bigint").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
        # first BYTE as hex text (binary has no element access; a
        # string cast would mangle non-UTF8 media bytes)
        F.hex(F.expr("substring(content, 1, 1)")).alias("first_byte_hex"),
    )


# ---------------------------------------------------------------------------
# S23: CSV round-trip with embedded delimiters/quotes/newlines
# (registered r11, batch I)
# ---------------------------------------------------------------------------

_S23_SQL = r"""
WITH d AS (
  SELECT doc_id, lang,
         'pre,"fix"' || chr(10) || text || ',"tail' AS text
  FROM documents
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(text)) AS BIGINT) AS chars_total,
       md5(string_agg(CAST(doc_id AS VARCHAR) || ':' || md5(text), '|'
                      ORDER BY CAST(doc_id AS VARCHAR) || ':' || md5(text)))
         AS content_digest
FROM d GROUP BY lang
"""


@register(
    "s23_csv_quoted_multiline",
    category="sources",
    oracle=_S23_SQL,
)
def s23_csv_quoted_multiline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S23: CSV round-trip under adversarial field content: document
    texts are decorated IN-PLAN with embedded commas, double quotes,
    and a literal newline, written as quoted CSV, and read back with
    multiLine=true + escape='\"' (RFC-4180 double-quote doubling — the
    mode real exports use). The aggregate digests text lengths and an
    md5 per doc_id band, so ANY quoting/newline corruption (the classic
    'row split at the embedded newline' failure) changes counts or
    hashes loudly. The twin computes the same digest from the ORIGINAL
    table — the compare proves the round-trip is lossless. Scale: CSV
    multiLine forces whole-file parsing per file (no intra-file
    splitting), which is exactly why the documented posture at 100 TB
    is many medium files; the write keeps Spark's default per-partition
    files so the read parallelizes per file."""
    import shutil
    import time as _time
    import uuid as _uuid

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.concat(
            F.lit('pre,"fix"\n'),
            F.col("text"),
            F.lit(',"tail'),
        ).alias("text"),
    )
    family = scratch(f"s23_csvq_{_tag(sf_dir)}")
    # age-prune older sibling runs (t15 discipline) — the CURRENT run's
    # dir must outlive this fn: the returned frame reads it lazily
    cutoff = _time.time() - 1800
    for sub in os.listdir(family) if os.path.isdir(family) else []:
        pth = os.path.join(family, sub)
        try:
            if os.path.getmtime(pth) < cutoff:
                shutil.rmtree(pth, ignore_errors=True)
        except OSError:
            pass
    work = os.path.join(family, _uuid.uuid4().hex[:12])
    shutil.rmtree(work, ignore_errors=True)
    (
        d.write.option("header", "true")
        .option("quoteAll", "true")
        .option("escape", '"')
        .csv(work)
    )
    back = (
        spark.read.option("header", "true")
        .option("multiLine", "true")
        .option("escape", '"')
        .schema("doc_id long, lang string, text string")
        .csv(work)
    )
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.length("text")).cast("bigint").alias("chars_total"),
        F.md5(
            F.concat_ws(
                "|",
                F.sort_array(
                    F.collect_list(
                        F.concat_ws(
                            ":", F.col("doc_id").cast("string"), F.md5("text")
                        )
                    )
                ),
            )
        ).alias("content_digest"),
    )


# ---------------------------------------------------------------------------
# s24_nested_json_roundtrip (registered round 13 under the raised ≤10
# budget; twin pre-verified in the batch-L candidate suite at both
# fixture sfs — tests/test_r14_candidates.py, now retired)
# ---------------------------------------------------------------------------

_S24_SQL = """
SELECT doc_id, lang, source, n_chars,
       CAST(length(text) AS BIGINT) AS text_len
FROM documents
"""


@register(
    "s24_nested_json_roundtrip",
    category="sources",
    oracle=_S24_SQL,
)
def s24_nested_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S24: NESTED JSONL round-trip — a struct column (doc metadata)
    and an array column (per-doc stats) written to JSON lines and read
    back with an EXPLICIT nested schema (schema inference on nested
    JSON is a planning-time corpus scan at 100 TB — production pins
    the schema), then flattened back to columns. The twin states the
    net effect declaratively from the base table, so the encode →
    decode → flatten chain is what's verified. s4 covers flat JSONL;
    this is the remaining nested-connector surface (the shape real
    document corpora with metadata blobs arrive in). The written-files-
    are-really-nested-JSON guard lives in
    tests/test_registered_guards.py."""
    d = load_table(spark, sf_dir, "documents")
    nested = d.select(
        "doc_id",
        F.struct(F.col("lang"), F.col("source")).alias("meta"),
        F.array(
            F.col("n_chars"), F.length("text").cast("bigint")
        ).alias("stats"),
    )
    path = scratch(f"s24_nested_{_tag(sf_dir)}")
    nested.write.mode("overwrite").json(path)
    back = spark.read.schema(
        "doc_id bigint, meta struct<lang:string,source:string>, "
        "stats array<bigint>"
    ).json(path)
    return back.select(
        "doc_id",
        F.col("meta.lang").alias("lang"),
        F.col("meta.source").alias("source"),
        F.element_at("stats", 1).alias("n_chars"),
        F.element_at("stats", 2).alias("text_len"),
    )
