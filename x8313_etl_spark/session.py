"""SparkSession factory + session-level invariants.

Two concerns live here:

1. ``get_spark()`` — build a local session for tests/bench with settings
   that mirror how we'd configure a real cluster (AQE on, shuffle
   partitions sized to parallelism, broadcast threshold for star dims).

2. ``ensure_session_invariants(spark)`` — the driver owns the session
   used for correctness runs; some invariants are *required for
   correctness* (not tuning) and must be (re)applied at runtime on any
   session before reading fixtures:

   - ``spark.sql.session.timeZone=UTC``: all fixture timestamps are
     parquet isAdjustedToUTC=false (naive) and pinned TIMESTAMP_NTZ on
     read, but queries that cast NTZ → LTZ (epoch math, streaming
     windows) must agree with the DuckDB oracle, which treats naive
     timestamps as UTC.

   (Until the 2026-08-13 fixture regeneration ``events.ts`` was
   TIMESTAMP(NANOS) and needed ``spark.sql.legacy.parquet.nanosAsLong``;
   the fixtures are MICROS now and io.py asserts that unit at load.)
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

#: Correctness-critical runtime confs (see module docstring).
_INVARIANT_CONFS = {
    "spark.sql.session.timeZone": "UTC",
}


def ensure_session_invariants(spark: SparkSession) -> SparkSession:
    """Apply correctness-critical confs to an existing (driver-owned) session.

    Idempotent and cheap; called by every loader in io.py.
    """
    for k, v in _INVARIANT_CONFS.items():
        if spark.conf.get(k, None) != v:
            spark.conf.set(k, v)
    return spark


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_spark(app_name: str = "x8313-etl-spark", cpus: int | None = None) -> SparkSession:
    """Local session configured the way we'd configure a cluster.

    Scale notes (SURVEY.md §1.3/§4): AQE handles skew-join splitting and
    post-shuffle coalescing at any scale; shuffle partitions default to
    the local core count here but on a 1000-executor cluster would be
    sized ~2-3x total cores (AQE coalesces the excess). The broadcast
    threshold is raised to 64 MB so every star-schema dimension
    (region/nation/customer/supplier/part at fixture scale; the same
    dims are <<64 MB even at TPC-H sf1000) broadcasts instead of
    shuffling the fact table.
    """
    n = cpus or default_parallelism()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalescing: parallelism-first (the Spark default). The r12
        # posture pinned this to false (respect the 64 MB advisory), but
        # measured across the bench set that coalesced EVERY post-shuffle
        # stage at bench scale to 1-2 tasks — the heavy intermediates
        # (p_item_cf's 2.4M-row symmetrized pair table, the LSH candidate
        # tables) compress to a few MB, so their window sorts and verify
        # joins serialized on one core while 31 idled. A/B at sf0.1
        # local[32], cold caches, median of 3 (scripts/ab_parallelism_r13.py):
        # p_item_cf 6.72→2.72 s, 10 of 13 slots 0.87-0.96×, worst
        # regression a1_groupby_basic +0.04 s; subset total 23.5→18.2 s.
        # Parallelism-first also makes post-shuffle parallelism track the
        # session core count, so per-core scaling is measurable at all.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
    )
    for k, v in _INVARIANT_CONFS.items():
        builder = builder.config(k, v)
    return ensure_session_invariants(builder.getOrCreate())
