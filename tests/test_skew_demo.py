"""Skew salting demonstrated on an actually-skewed join (SURVEY.md §4).

j12's oracle proves salted_join is result-identical on fixture data;
this module proves the operator's reason to exist: with AQE off (the
config where explicit salting is the only defense) a key holding 50% of
a 1.5M-row table funnels through one reducer unsalted, and spreads over
16 with salting. Result identity is asserted; the timing delta is
printed for the bench record (never asserted — wall-clock under a
loaded CI box is not a correctness property).
"""

from __future__ import annotations

import time

import pyspark.sql.functions as F

from x8313_etl_spark.operators.skew import salted_join

_N_BIG = 1_500_000
_N_KEYS = 100


def _tables(spark):
    # key 0 owns 50% of rows; the rest spread over 99 keys
    big = spark.range(_N_BIG).select(
        F.col("id"),
        F.when(F.col("id") % 2 == 0, 0)
        .otherwise(F.pmod(F.col("id"), F.lit(_N_KEYS)))
        .cast("bigint")
        .alias("k"),
    )
    small = spark.range(_N_KEYS).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("w")
    )
    return big, small


def _agg(df):
    # order-insensitive digest of the full join result
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("id") % 1_000_003).alias("sid"),
        F.sum("w").alias("sw"),
    ).first()


def test_salted_join_identical_and_spread_on_real_skew(spark):
    big, small = _tables(spark)
    confs = {
        "spark.sql.adaptive.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)

        t0 = time.perf_counter()
        plain = _agg(big.join(small, "k"))
        t_plain = time.perf_counter() - t0

        t0 = time.perf_counter()
        salted = _agg(salted_join(big, small, on="k", salt_by="id"))
        t_salted = time.perf_counter() - t0
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)

    assert (salted.n, salted.sid, salted.sw) == (plain.n, plain.sid, plain.sw)
    assert plain.n == _N_BIG
    print(
        f"\nskew-demo (AQE off, no broadcast, 50% hot key, {_N_BIG} rows): "
        f"unsalted={t_plain:.2f}s salted={t_salted:.2f}s"
    )
