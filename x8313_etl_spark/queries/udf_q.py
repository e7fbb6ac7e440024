"""UDF / UDAF / UDTF surface (SURVEY.md §2.11 X1-X6) + multimodal decode.

Each query demonstrates one Python-extension mechanism with a pure
function, so a DuckDB SQL twin exists and the driver's value-hash check
applies to the UDF path itself (catching Arrow round-trip bugs, not
just plan bugs).

Determinism notes: numpy/pandas elementwise arithmetic is IEEE-exact
per element (same doubles as JVM/DuckDB). Cross-row reductions inside
UDFs use exact arithmetic (python Decimal via repr — the same
shortest-repr semantics as Spark's double→decimal cast) so group order
never matters. Scale: X1 is the known-slow row-at-a-time path (kept
because the surface requires it); X2-X6 are Arrow-batched.
"""

# NOTE: no `from __future__ import annotations` here — pandas-UDF type
# hints must be real objects for pyspark's signature inference, not the
# postponed-evaluation strings that import turns them into. Iterator
# lives at MODULE level for the same reason: pyspark resolves x14's
# SCALAR_ITER hints in the function's globals.
from typing import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.numeric import sql_davg
from ..io import load_table, register_temp_views
from ..operators.multimodal import attach_binary, media_features
from ..registry import register


@register(
    "x1_scalar_udf",
    category="udf",
    oracle="""
SELECT o_orderkey, o_orderpriority,
       CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS prio_rank
FROM orders
""",
)
def x1_scalar_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1: row-at-a-time Python UDF (the slow path — one Python call per
    row; prefer X2's Arrow batching in production)."""
    from pyspark.sql.types import IntegerType

    @F.udf(IntegerType())
    def prio_rank(p: str) -> int:
        return int(p[0])

    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey", "o_orderpriority", prio_rank("o_orderpriority").alias("prio_rank")
    )


@register(
    "x2_pandas_udf",
    category="udf",
    oracle="""
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) AS disc_price
FROM lineitem
""",
)
def x2_pandas_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X2: vectorized scalar pandas UDF (Arrow batches, numpy elementwise
    — same IEEE doubles as the JVM expression it mirrors)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def disc_price(price: pd.Series, disc: pd.Series) -> pd.Series:
        return price * (1 - disc)

    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        disc_price("l_extendedprice", "l_discount").alias("disc_price"),
    )


@register(
    "x3_grouped_agg_udf",
    category="udf",
    oracle=f"""
SELECT c_mktsegment, {sql_davg('c_acctbal')} AS avg_bal
FROM customer GROUP BY c_mktsegment
""",
)
def x3_grouped_agg_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3: grouped-aggregate pandas UDF — an exact decimal mean.
    python repr(float) and Spark's double→decimal cast share
    shortest-repr semantics, so Decimal(repr(x)) sums match the
    engine-side decimal policy bit-for-bit, in any arrival order."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def exact_mean(v: pd.Series) -> float:
        from decimal import Decimal

        total = sum((Decimal(repr(float(x))) for x in v), Decimal(0))
        return float(total) / len(v)

    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(exact_mean("c_acctbal").alias("avg_bal"))


@register(
    "x4_apply_in_pandas",
    bench=True,
    category="udf",
    oracle="""
SELECT l_orderkey, l_linenumber, l_returnflag,
       CASE WHEN mx = mn THEN 0.5 ELSE (l_quantity - mn) / (mx - mn) END AS q_norm
FROM (
  SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity,
         min(l_quantity) OVER (PARTITION BY l_returnflag) AS mn,
         max(l_quantity) OVER (PARTITION BY l_returnflag) AS mx
  FROM lineitem
)
""",
)
def x4_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X4: grouped-map applyInPandas — per-group min-max normalization.
    min/max are order-free and the final (x-mn)/(mx-mn) is one exact
    double op chain, so the pandas path equals the window-function twin.
    Scale: each group must fit one executor's memory — that's the
    operator's documented contract (use window functions otherwise)."""

    def minmax(pdf):
        mn, mx = pdf["l_quantity"].min(), pdf["l_quantity"].max()
        out = pdf[["l_orderkey", "l_linenumber", "l_returnflag"]].copy()
        if mx == mn:
            out["q_norm"] = 0.5
        else:
            out["q_norm"] = (pdf["l_quantity"] - mn) / (mx - mn)
        return out

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"
    )
    return li.groupBy("l_returnflag").applyInPandas(
        minmax,
        schema="l_orderkey bigint, l_linenumber int, l_returnflag string, q_norm double",
    )


@register(
    "x5_map_in_pandas",
    category="udf",
    oracle="""
SELECT event_id, user_id, value * 2 AS boosted
FROM events WHERE value > 50.0
""",
)
def x5_map_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X5: partition-wise mapInPandas (iterator of Arrow batches in/out)
    — filter + transform done batch-at-a-time. Row-wise pure → exact
    SQL twin despite the Python hop."""

    def boost(batches):
        for pdf in batches:
            hit = pdf[pdf["value"] > 50.0]
            out = hit[["event_id", "user_id"]].copy()
            out["boosted"] = hit["value"] * 2
            yield out

    ev = load_table(spark, sf_dir, "events")
    return ev.mapInPandas(boost, schema="event_id bigint, user_id bigint, boosted double")


@register(
    "x6_udtf",
    category="udf",
    oracle="""
SELECT doc_id,
       CAST(generate_subscripts(string_split(text, ' '), 1) - 1 AS INTEGER) AS pos,
       unnest(string_split(text, ' ')) AS word
FROM documents
WHERE doc_id < 20
""",
)
def x6_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X6: Python UDTF — one input row fans out to one row per token,
    via LATERAL join in the SQL entry point (the UDTF equivalent of
    F.posexplode)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, word string")
    class SplitWords:
        def eval(self, text: str):
            for i, w in enumerate(text.split(" ")):
                yield i, w

    spark.udtf.register("split_words", SplitWords)
    register_temp_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT d.doc_id, s.pos, s.word
        FROM documents d, LATERAL split_words(d.text) s
        WHERE d.doc_id < 20
        """
    )


@register(
    "x7_multimodal_decode",
    category="udf",
    oracle="""
SELECT doc_id,
       'image' AS modality,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5,
       CAST(CAST(CONCAT('0x', substr(md5(text), 1, 2)) AS INTEGER) % 64 + 16 AS INTEGER) AS width,
       CAST(CAST(CONCAT('0x', substr(md5(text), 3, 2)) AS INTEGER) % 64 + 16 AS INTEGER) AS height
FROM documents
""",
)
def x7_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal pipeline: text → binary content column → Arrow-batched
    feature extraction over mapInPandas (operators/multimodal.py). The
    codec is a deterministic byte-level stand-in (a real decoder slots
    into the per-batch extractor); the Spark plumbing — binary columns,
    pinned UDF schema, batch iteration — is the real thing and
    oracle-checked."""
    d = load_table(spark, sf_dir, "documents")
    mm = attach_binary(d, "doc_id", "text", modality="image")
    return media_features(mm)


@register(
    "x8_multimodal_frames",
    category="udf",
    oracle="""
WITH m AS (
  SELECT doc_id, md5(text) AS d,
         CAST(CONCAT('0x', substr(md5(text), 5, 4)) AS BIGINT) % 60000 + 1000 AS duration_ms
  FROM documents
),
f AS (
  SELECT doc_id, d, duration_ms, unnest(generate_series(0, 3)) AS frame_idx FROM m
)
SELECT doc_id,
       CAST(frame_idx AS INTEGER) AS frame_idx,
       frame_idx * (duration_ms // 4) AS frame_offset_ms,
       md5(d || '-' || CAST(frame_idx * (duration_ms // 4) AS VARCHAR)) AS frame_md5
FROM f
""",
)
def x8_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over video-typed binary columns: 4 evenly-spaced
    frames per media row (md5-derived duration stand-in; a real sampler
    swaps in ffmpeg inside operators/multimodal.py and keeps this exact
    fan-out shape). mapInPandas in, one row per frame out."""
    from ..operators.multimodal import sample_frames

    d = load_table(spark, sf_dir, "documents")
    mm = attach_binary(d, "doc_id", "text", modality="video")
    return sample_frames(mm)


@register(
    "x9_resize_plan",
    category="udf",
    oracle="""
WITH feat AS (
  SELECT doc_id,
         CAST(CAST(CONCAT('0x', substr(md5(text), 1, 2)) AS INTEGER) % 64 + 16 AS INTEGER) AS width,
         CAST(CAST(CONCAT('0x', substr(md5(text), 3, 2)) AS INTEGER) % 64 + 16 AS INTEGER) AS height
  FROM documents
)
SELECT doc_id, width, height,
       CAST(FLOOR((width * 32.0) / GREATEST(width, height)) AS INTEGER) AS out_width,
       CAST(FLOOR((height * 32.0) / GREATEST(width, height)) AS INTEGER) AS out_height,
       32 AS scale_num,
       CAST(GREATEST(width, height) AS INTEGER) AS scale_den
FROM feat
""",
)
def x9_resize_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resize planning over extracted media dimensions: exact integer
    target box (longest side → 32, aspect preserved); the distributed
    decision layer above the codec. Composes feature extraction →
    resize plan in one pipeline."""
    from ..operators.multimodal import media_features, resize_plan

    d = load_table(spark, sf_dir, "documents")
    mm = attach_binary(d, "doc_id", "text", modality="image")
    return resize_plan(media_features(mm))


@register(
    "x10_map_in_arrow",
    category="udf",
    oracle="""
SELECT l_orderkey,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                 AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem
GROUP BY l_orderkey
""",
)
def x10_map_in_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X10: mapInArrow — the zero-copy end of the Python surface.
    Batches arrive as pyarrow RecordBatches (no pandas conversion at
    all); per-line revenue is computed with pyarrow.compute kernels and
    quantized to integer cents IN ARROW, then the per-order rollup runs
    engine-side. Fixed-point quantization before the sum keeps the
    Python leg bit-exact vs the SQL twin (same round-half-away-from-zero
    as both engines' round()); the groupBy after the map is partial-aggregated
    as usual, so the Python hop never sees cross-partition data."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def line_revenue(batches):
        for batch in batches:
            price = batch.column("l_extendedprice")
            disc = batch.column("l_discount")
            rev = pc.multiply(price, pc.subtract(pa.scalar(1.0), disc))
            # SQL round() is half-away-from-zero; Arrow's default is
            # half-to-even — match the engines explicitly
            cents = pc.cast(
                pc.round(
                    pc.multiply(rev, pa.scalar(100.0)),
                    round_mode="half_towards_infinity",
                ),
                pa.int64(),
            )
            yield pa.RecordBatch.from_arrays(
                [batch.column("l_orderkey"), cents],
                names=["l_orderkey", "line_cents"],
            )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    mapped = li.mapInArrow(line_revenue, schema="l_orderkey bigint, line_cents bigint")
    return mapped.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum("line_cents").alias("revenue_cents"),
    )


_X12_K = 4


@register(
    "x12_polymorphic_udtf",
    category="udf",
    oracle=f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
           WHERE doc_id < 50)
SELECT doc_id,
       {", ".join(f"w[{i + 1}] AS tok{i}" for i in range(_X12_K))}
FROM w
""",
)
def x12_polymorphic_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X12: ANALYZE-TIME POLYMORPHIC Python UDTF (Spark 4's
    table-function extension point beyond x6's fixed-schema form): the
    static ``analyze`` hook inspects the CONSTANT k argument at plan
    time and returns a k-column schema — the output shape is decided by
    Catalyst analysis, not hardcoded, which is how table functions like
    ``read_files``/``variant_explode`` self-describe. The function
    widens each document's first k tokens into columns (short docs
    null-pad), the twin does the same with list extracts. The UDTF
    class lives at module scope (executors unpickle it by module path
    — the python_ds.py rule). Per-row Python is the slow path by
    policy; this row exists to cover the API surface, and the lateral
    join it plans is map-side only."""
    from x8313_etl_spark.udtfs import FirstKTokens

    spark.udtf.register("x12_first_k_tokens", FirstKTokens)
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    d.createOrReplaceTempView("x12_docs")
    return spark.sql(
        f"SELECT v.doc_id, t.* FROM x12_docs v, "
        f"LATERAL x12_first_k_tokens(v.text, {_X12_K}) t"
    )


_X13_SQL = """
SELECT user_id,
       count(*) AS n_purchases,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents_total,
       min(event_id) AS first_event,
       max(event_id) AS last_event
FROM events WHERE event_type = 'purchase'
GROUP BY user_id
"""


@register(
    "x13_python_stream_sink",
    category="streaming",
    oracle=_X13_SQL,
)
def x13_python_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A custom streaming SINK through the Spark 4 Python DataSource
    API (DataSourceStreamWriter): executor-side ``write(iterator)``
    stages one JSON-lines file per task; driver-side
    ``commit(messages, batchId)`` publishes the batch ATOMICALLY by
    renaming the staged files into a ``v{batchId}`` dir, and a replayed
    batchId is an idempotent no-op — the upsert_sink/verdir per-epoch
    commit contract expressed through the extension point instead of
    foreachBatch (t15's sibling). The purchases stream is written
    through the sink, read back from the committed version dirs, and
    aggregated per user — so the twin (batch SQL over events) verifies
    the full write→publish→read-back loop including that every batch
    committed exactly once. Completes the Python DataSource triangle
    (s17 batch read / s21 stream read / x13 stream write); replay
    idempotency unit-pinned in tests/test_registered_guards.py."""
    import glob
    import os
    import shutil
    import uuid as _uuid

    from ..io import stream_events
    from ..python_ds import JsonDirStreamDataSource
    from .sources_q import _tag, scratch

    try:
        spark.dataSource.register(JsonDirStreamDataSource)
    except Exception:
        pass  # idempotent re-register within a session
    family = scratch(f"x13_jsonsink_{_tag(sf_dir)}")
    # age-prune older sibling runs (the t15 discipline: per-invocation
    # unique dirs must not accumulate a JSON copy per sweep call)
    import time as _time

    cutoff = _time.time() - 1800
    for sub in os.listdir(family) if os.path.isdir(family) else []:
        p = os.path.join(family, sub)
        try:
            if os.path.getmtime(p) < cutoff:
                shutil.rmtree(p, ignore_errors=True)
        except OSError:
            pass
    work = os.path.join(family, _uuid.uuid4().hex[:12])
    out, ckpt = os.path.join(work, "out"), os.path.join(work, "ckpt")
    shutil.rmtree(work, ignore_errors=True)

    s = (
        stream_events(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.round(F.col("value") * 100).cast("bigint").alias("cents"),
        )
    )
    q = (
        s.writeStream.format("x8313_jsondir_sink")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(180):
        q.stop()
        raise TimeoutError("x13 sink stream did not finish in 180s")
    files = glob.glob(os.path.join(out, "v*", "part-*.jsonl"))
    back = spark.read.schema("event_id long, user_id long, cents long").json(
        files
    )
    return back.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_purchases"),
        F.sum("cents").alias("cents_total"),
        F.min("event_id").alias("first_event"),
        F.max("event_id").alias("last_event"),
    )


_X14_SALTS = 256

_X14_SQL = f"""
SELECT event_id,
       (CAST(CONCAT('0x', substr(md5('x14-' ||
            CAST(CAST(round(value * 100) AS BIGINT) % {_X14_SALTS} AS VARCHAR)
        ), 1, 8)) AS BIGINT) % 1000000)
       + CAST(round(value * 100) AS BIGINT) * 10000 AS enriched_micro
FROM events
"""


@register(
    "x14_scalar_iter_udf",
    category="udf",
    oracle=_X14_SQL,
)
def x14_scalar_iter_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ITERATOR-of-series pandas UDF (SCALAR_ITER): same row
    semantics as x2's scalar pandas UDF, but the function receives the
    whole partition as an iterator of Arrow batches, so EXPENSIVE
    ONE-TIME INIT (a model, a codec table) runs once per partition
    instead of once per batch — the standard pattern for UDF-side model
    scoring. Here the 'model' is a 256-entry md5-derived salt table
    built once per partition; every batch then does vectorized integer
    arithmetic only. Output stays on the exact integer grid
    (salt + cents·10⁴ in micro-units), so the twin replays the identical
    algebra from the same md5 bytes. Iterator/pd hints resolve at
    MODULE level (pyspark signature detection, see the header note)."""
    import hashlib

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def enrich(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # one-time per-partition init — the SCALAR_ITER point
        salts = [
            int(hashlib.md5(f"x14-{b}".encode()).hexdigest()[:8], 16)
            % 1_000_000
            for b in range(_X14_SALTS)
        ]
        for cents in batches:
            yield (cents % _X14_SALTS).map(lambda b: salts[int(b)]) + cents * 10_000

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    return ev.select(
        "event_id", enrich(F.col("cents")).alias("enriched_micro")
    )
