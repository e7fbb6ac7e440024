"""Unit tests for operators/increment.py (incremental MinHash dedup)."""

from __future__ import annotations

import pyspark.sql.functions as F

from x8313_etl_spark.io import load_table
from x8313_etl_spark.operators.increment import incremental_near_dups
from x8313_etl_spark.operators.minhash import near_dup_pairs

_MOD = 5


def _split(spark, sf_dir):
    d = load_table(spark, sf_dir, "documents")
    return (
        d.filter(F.col("doc_id") % _MOD != 0),
        d.filter(F.col("doc_id") % _MOD == 0),
    )


def test_incremental_equals_full_restricted_to_cross_pairs(spark, sf_dir):
    """The incremental verdict must agree with the full self-join dedup
    (near_dup_pairs over the whole corpus) restricted to new×old pairs:
    the batch×index band join is an algebraic slice of the self-join,
    not a different sketch."""
    index, batch = _split(spark, sf_dir)
    inc = {
        r["doc_id"]: (r["is_dup"], r["dup_of"], r["jaccard"])
        for r in incremental_near_dups(index, batch).collect()
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
    index, batch = _split(spark, sf_dir)
    two_words = batch.limit(1).select(
        F.col("doc_id"), F.lit("alpha beta").alias("text")
    )
    out = incremental_near_dups(index, two_words).collect()
    assert len(out) == 1
    assert out[0]["is_dup"] is False and out[0]["dup_of"] is None


def test_hot_bucket_guard_drops_all_when_cap_zero(spark, sf_dir):
    index, batch = _split(spark, sf_dir)
    out = incremental_near_dups(index, batch, max_bucket_size=0).collect()
    assert out and all(not r["is_dup"] for r in out)


def test_precomputed_index_tables_match_recompute(spark, sf_dir):
    """The production contract (ADVICE r6): pass the persisted standing
    index via index_sig/index_sh and the verdicts must be identical to
    the recompute path — the index side is consumed as-is."""
    from x8313_etl_spark.operators.minhash import (
        shingle_table,
        signature_from_shingles,
    )

    index, batch = _split(spark, sf_dir)
    base = incremental_near_dups(index, batch).collect()
    sig = signature_from_shingles(shingle_table(index, "doc_id", "text"))
    sh = shingle_table(index, "doc_id", "text")
    pre = incremental_near_dups(None, batch, index_sig=sig, index_sh=sh).collect()

    def key(rows):
        return sorted(
            (r["doc_id"], r["is_dup"], r["dup_of"], r["jaccard"]) for r in rows
        )

    assert key(pre) == key(base)
    assert any(r["is_dup"] for r in pre)


def test_index_tables_must_come_together(spark, sf_dir):
    import pytest

    from x8313_etl_spark.operators.minhash import (
        shingle_table,
        signature_from_shingles,
    )

    index, batch = _split(spark, sf_dir)
    sig = signature_from_shingles(shingle_table(index, "doc_id", "text"))
    with pytest.raises(ValueError, match="together"):
        incremental_near_dups(index, batch, index_sig=sig)
    with pytest.raises(ValueError, match="index_docs or index_sig"):
        incremental_near_dups(None, batch)


def test_docs_and_precomputed_index_together_is_an_error(spark, sf_dir):
    """Silently preferring one source would let a stale precomputed
    index masquerade as the passed docs (review round 7)."""
    import pytest

    from x8313_etl_spark.operators.minhash import (
        shingle_table,
        signature_from_shingles,
    )

    index, batch = _split(spark, sf_dir)
    sig = signature_from_shingles(shingle_table(index, "doc_id", "text"))
    sh = shingle_table(index, "doc_id", "text")
    with pytest.raises(ValueError, match="not both"):
        incremental_near_dups(index, batch, index_sig=sig, index_sh=sh)
