"""Hot-bucket guard on the LSH band joins (operators/bandjoin.py).

The degenerate corpus every real crawl contains — thousands of
near-identical boilerplate documents — collapses LSH buckets into one
mega-bucket. These tests pin the promised behavior: the pipeline
completes with defaults and full pair output below the cap, drops
mega-buckets above it (``hot_buckets`` lists them), and is a provable
no-op whenever no bucket exceeds the cap.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from hypothesis import given, settings, strategies as st

from x8313_etl_spark.operators.bandjoin import (
    DEFAULT_MAX_BUCKET_SIZE,
    guarded_band_self_join,
    hot_buckets,
)
from x8313_etl_spark.operators.minhash import near_dup_pairs

_TEXT = "alpha beta gamma delta epsilon zeta"
_N = 1000


def _identical_docs(spark, n=_N):
    return spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit(_TEXT).alias("text")
    )


def test_degenerate_corpus_completes_with_defaults(spark):
    """1000 identical docs: one band bucket of 1000 < the default cap, so
    every pair survives — exactly C(1000, 2), each at Jaccard 1.0 — and
    candidate fan-out stays bucketed (8 bands × B², deduped), not n²
    over a wider corpus."""
    pairs = near_dup_pairs(_identical_docs(spark))
    rows = pairs.collect()
    assert len(rows) == _N * (_N - 1) // 2
    assert all(r.jaccard == 1.0 for r in rows)


def test_guard_drops_and_reports_hot_bucket(spark):
    """Cap below the cluster size: every bucket is hot, all pairs drop,
    and ``hot_buckets`` reports the dropped bucket with its size —
    bounded work, never a silent wrong answer."""
    docs = _identical_docs(spark, 200)
    assert near_dup_pairs(docs, max_bucket_size=50).count() == 0

    banded = _identical_docs(spark, 200).select(
        "doc_id", F.lit(0).alias("band"), F.lit("k").alias("key")
    )
    hot = hot_buckets(banded, ("band", "key"), 50).collect()
    assert [(r.band, r.key, r.bucket_size) for r in hot] == [(0, "k", 200)]


@settings(max_examples=6, deadline=None)
@given(
    sizes=st.lists(st.integers(1, 8), min_size=1, max_size=5),
    cap=st.integers(1, 10),
)
def test_guard_is_noop_below_cap_and_subset_above(spark, sizes, cap):
    """For clusters of generated sizes sharing per-cluster buckets: the
    guarded join equals the unguarded join restricted to buckets ≤ cap —
    dropping is exact at the bucket level, never partial."""
    rows = [
        (cluster * 1000 + i, cluster)
        for cluster, n in enumerate(sizes)
        for i in range(n)
    ]
    banded = spark.createDataFrame(rows, "doc_id long, key int").withColumn(
        "band", F.lit(0)
    )
    got = guarded_band_self_join(
        banded, "doc_id", ("band", "key"), max_bucket_size=cap
    ).collect()
    expect = {
        (cluster * 1000 + a, cluster * 1000 + b)
        for cluster, n in enumerate(sizes)
        if n <= cap
        for a in range(n)
        for b in range(a + 1, n)
    }
    assert {(r.doc_a, r.doc_b) for r in got} == expect


def test_default_cap_cannot_trigger_on_fixtures(spark, sf_oracle_dir):
    """The registered near-dup queries keep oracle-exact semantics only
    while no fixture bucket exceeds the default cap — pin that headroom
    (≥10×) so a fixture regrowth flags loudly before the driver sees a
    hash mismatch."""
    from x8313_etl_spark.io import load_table
    from x8313_etl_spark.operators.minhash import band_keys, shingle_stage

    d = load_table(spark, sf_oracle_dir, "documents")
    banded = (
        shingle_stage(d, "doc_id", "text")
        .filter(F.size("sh") > 0)
        .select("doc_id", F.posexplode(band_keys(F.col("sig"))).alias("band", "key"))
    )
    biggest = (
        banded.groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("mx"))
        .first()
        .mx
    )
    assert biggest * 10 <= DEFAULT_MAX_BUCKET_SIZE, biggest
