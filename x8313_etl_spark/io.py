"""Sources & sinks (SURVEY.md §2.1, operators S1-S8).

All fixture reads are schema-pinned (S2) and go through
``ensure_session_invariants`` so they are correct on *any* session,
including the driver-owned one.

Scale notes: parquet scans are the vectorized columnar reader; pinning
the schema skips footer merging across files. Filters/projections
applied by callers reach the scan via Catalyst pushdown (verified by
plan-shape tests in tests/test_plans.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from .schemas import SCHEMAS, TABLE_NAMES
from .session import ensure_session_invariants

def table_path(sf_dir: str, name: str) -> str:
    return f"{sf_dir.rstrip('/')}/{name}.parquet"


#: (sf_dir, name, mtime_ns, size) keys whose on-disk timestamp unit has
#: been verified. Keying on the file's stat — not just the path — means
#: an IN-PLACE fixture regeneration (the exact hazard this guard
#: targets; the driver rewrites /root/testdata between rounds) re-checks
#: instead of silently trusting a stale verdict if the process survives
#: the swap.
_TS_UNIT_CHECKED: set[tuple[str, str, int, int]] = set()


def _assert_us_timestamps(sf_dir: str, name: str) -> None:
    """Fixture regenerations have switched ``events.ts`` between NANOS
    and MICROS across rounds. A unit change under a pinned
    TimestampNTZType read would silently shift every value 1000x, so
    fail loudly here instead (one cached footer read per table/dir,
    re-done whenever the file's mtime/size changes)."""
    import os

    path = table_path(sf_dir, name)
    st = os.stat(path)
    key = (sf_dir, name, st.st_mtime_ns, st.st_size)
    if key in _TS_UNIT_CHECKED:
        return
    import pyarrow.parquet as pq

    schema = pq.ParquetFile(path).schema_arrow
    import pyarrow as pa

    for field in schema:
        if pa.types.is_timestamp(field.type) and field.type.unit != "us":
            raise SchemaDriftError(
                f"{name}.{field.name}: timestamp unit {field.type.unit!r}, "
                "expected 'us' — fixtures were regenerated; re-pin schemas.py"
            )
    _TS_UNIT_CHECKED.add(key)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S1/S2: schema-pinned parquet scan of one fixture table."""
    ensure_session_invariants(spark)
    if name in ("events", "orders", "lineitem"):
        _assert_us_timestamps(sf_dir, name)
    return spark.read.schema(SCHEMAS[name]).parquet(table_path(sf_dir, name))


class SchemaDriftError(RuntimeError):
    """Pinned schema does not match what the files actually contain."""


def validate_table_schema(spark: SparkSession, sf_dir: str, name: str) -> None:
    """S2 enforcement: fail LOUDLY on any drift, including columns that
    the pinned schema expects but the files lack (Spark's reader would
    silently null those; type mismatches it already rejects). One footer
    read — run it at pipeline ingress, not per query."""
    ensure_session_invariants(spark)
    actual = {f.name: f.dataType for f in spark.read.parquet(table_path(sf_dir, name)).schema}
    pinned = {f.name: f.dataType for f in SCHEMAS[name]}
    missing = sorted(set(pinned) - set(actual))
    extra = sorted(set(actual) - set(pinned))
    wrong = sorted(
        f"{c}: pinned={pinned[c].simpleString()} actual={actual[c].simpleString()}"
        for c in set(pinned) & set(actual)
        if pinned[c] != actual[c]
    )
    if missing or extra or wrong:
        raise SchemaDriftError(
            f"{name}: missing={missing} extra={extra} type_mismatch={wrong}"
        )


def register_temp_views(spark: SparkSession, sf_dir: str) -> None:
    """S6: register every fixture table as a temp view for the SQL entry point."""
    for n in TABLE_NAMES:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)


# ---------------------------------------------------------------------------
# Generic connectors (S3/S4/S5) — used by ETL round-trip tests and pipelines.
# ---------------------------------------------------------------------------

def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType,
) -> DataFrame:
    """S3: comma-separated ingest with a header line and an explicit
    schema (no sampling pass at scale)."""
    ensure_session_invariants(spark)
    return spark.read.csv(path, schema=schema, header=True)


def read_jsonl(spark: SparkSession, path: str, schema: StructType) -> DataFrame:
    """S4: JSON-lines ingest, schema-pinned (inference is a full extra scan)."""
    ensure_session_invariants(spark)
    return spark.read.schema(schema).json(path)


def write_parquet_partitioned(df: DataFrame, path: str, *partition_cols: str) -> None:
    """S5: partitioned parquet writes → layout that enables partition pruning.

    At 100 TB this is the canonical sink: readers filtering on the
    partition columns scan only matching directories (static + dynamic
    partition pruning are both Catalyst built-ins).
    """
    df.write.mode("overwrite").partitionBy(*partition_cols).parquet(path)


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: replay the events fixture as an unbounded stream.

    ``maxFilesPerTrigger`` is irrelevant under ``trigger(availableNow=True)``
    (our deterministic test mode); in production this same source tails a
    directory that an upstream job appends to.
    """
    ensure_session_invariants(spark)
    # the streaming file source requires a *directory*; pathGlobFilter
    # narrows it to the events table file
    _assert_us_timestamps(sf_dir, "events")
    return (
        spark.readStream.schema(SCHEMAS["events"])
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir.rstrip("/"))
    )
