"""Unit tests for operators/increment.py (incremental MinHash dedup)."""

from __future__ import annotations

import pyspark.sql.functions as F

from x8313_etl_spark.io import load_table
from x8313_etl_spark.operators.increment import incremental_near_dups, sketch_index
from x8313_etl_spark.operators.minhash import near_dup_pairs

_MOD = 5


def _split(spark, sf_dir):
    """(index sig, index sh, batch docs): the index pre-sketched, the
    batch raw — the operator's one input shape."""
    d = load_table(spark, sf_dir, "documents")
    sig, sh = sketch_index(d.filter(F.col("doc_id") % _MOD != 0))
    return sig, sh, d.filter(F.col("doc_id") % _MOD == 0)


def test_incremental_equals_full_restricted_to_cross_pairs(spark, sf_dir):
    """The incremental verdict must agree with the full self-join dedup
    (near_dup_pairs over the whole corpus) restricted to new×old pairs:
    the batch×index band join is an algebraic slice of the self-join,
    not a different sketch."""
    sig, sh, batch = _split(spark, sf_dir)
    inc = {
        r["doc_id"]: (r["is_dup"], r["dup_of"], r["jaccard"])
        for r in incremental_near_dups(sig, sh, batch).collect()
    }

    full = near_dup_pairs(load_table(spark, sf_dir, "documents")).collect()
    cross = {}
    for r in full:
        a, b, j = r["doc_a"], r["doc_b"], r["jaccard"]
        for new, old in ((a, b), (b, a)):
            if new % _MOD == 0 and old % _MOD != 0:
                cur = cross.get(new)
                # top-1 by (jaccard desc, old asc)
                if cur is None or (-j, old) < (-cur[1], cur[0]):
                    cross[new] = (old, j)

    batch_ids = {r["doc_id"] for r in batch.select("doc_id").collect()}
    assert set(inc) == batch_ids
    for doc_id, (is_dup, dup_of, jac) in inc.items():
        if doc_id in cross:
            assert is_dup and (dup_of, jac) == cross[doc_id], doc_id
        else:
            assert not is_dup and dup_of is None and jac is None, doc_id
    # the fixture corpus must actually exercise the dup path
    assert any(v[0] for v in inc.values())


def test_short_batch_doc_gets_non_dup_row(spark, sf_dir):
    sig, sh, batch = _split(spark, sf_dir)
    two_words = batch.limit(1).select(
        F.col("doc_id"), F.lit("alpha beta").alias("text")
    )
    out = incremental_near_dups(sig, sh, two_words).collect()
    assert len(out) == 1
    assert out[0]["is_dup"] is False and out[0]["dup_of"] is None


def test_hot_bucket_guard_drops_all_when_cap_zero(spark, sf_dir):
    sig, sh, batch = _split(spark, sf_dir)
    out = incremental_near_dups(sig, sh, batch, max_bucket_size=0).collect()
    assert out and all(not r["is_dup"] for r in out)
