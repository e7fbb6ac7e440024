"""Unit semantics for the MinHash LSH pipeline on crafted corpora
(the fixture-level behavior is oracle-checked; these pin the edge
semantics)."""

from __future__ import annotations

from x8313_etl_spark.operators.minhash import near_dup_pairs


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )


def test_exact_duplicates_found_with_jaccard_one(spark):
    base = "alpha beta gamma delta epsilon zeta eta theta"
    docs = _docs(spark, [base, base, "one two three four five six seven"])
    got = {(r.doc_a, r.doc_b): r.jaccard for r in near_dup_pairs(docs, cache=False).collect()}
    assert got == {(0, 1): 1.0}


def test_near_duplicate_found_disjoint_not(spark):
    a = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    b = a + " lambda"  # one appended word → high shingle overlap
    c = "uno dos tres cuatro cinco seis siete ocho nueve diez"
    got = {(r.doc_a, r.doc_b) for r in near_dup_pairs(_docs(spark, [a, b, c]), cache=False).collect()}
    assert (0, 1) in got
    assert all(2 not in pair for pair in got)


def test_short_docs_yield_no_pairs(spark):
    # < 3 words → empty shingle set → null signature → never a candidate
    docs = _docs(spark, ["one two", "one two", "x y"])
    assert near_dup_pairs(docs, cache=False).count() == 0


def test_native_signature_matches_hof_fold(spark):
    """signature_table (the Arrow kernel sketch) must be bit-identical
    to the shingle_stage HOF-fold reference on every doc with shingles."""
    import pyspark.sql.functions as F

    from x8313_etl_spark.operators.minhash import shingle_stage, signature_table

    texts = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "alpha beta gamma delta epsilon zeta eta thetb",
        "one two three four five six seven",
        "one two",  # shingle-less: absent from signature_table
        "repeat repeat repeat repeat repeat",
    ]
    docs = _docs(spark, texts)
    ref = (
        shingle_stage(docs, "doc_id", "text")
        .filter(F.size("sh") > 0)
        .select("doc_id", F.col("sig").alias("sig_ref"))
    )
    fast = signature_table(docs, "doc_id", "text")
    joined = ref.join(fast, "doc_id", "full")
    assert joined.filter("sig_ref IS NULL OR sig IS NULL").count() == 0
    assert joined.filter("sig_ref != sig").count() == 0


def test_perm_constants_match_expressions(spark):
    """PERM_A/PERM_B literals must equal the _perm_a/_perm_b expression
    derivations the HOF fold (and the DuckDB twin SQL) use."""
    import pyspark.sql.functions as F

    from x8313_etl_spark.operators.minhash import (
        N_HASHES,
        PERM_A,
        PERM_B,
        _perm_a,
        _perm_b,
    )

    idx = spark.range(N_HASHES).select(F.col("id").cast("int").alias("i"))
    rows = idx.select(
        "i", _perm_a(F.col("i")).alias("a"), _perm_b(F.col("i")).alias("b")
    ).collect()
    for r in rows:
        assert PERM_A[r.i] == r.a and PERM_B[r.i] == r.b


def test_tune_bands_divides_and_tracks_threshold():
    from x8313_etl_spark.operators.minhash import tune_bands

    prev_rows = 0
    for t in (0.1, 0.3, 0.5, 0.7, 0.9):
        b, r = tune_bands(t, 32)
        assert b * r == 32
        assert r >= prev_rows  # higher threshold -> longer rows (sharper AND)
        prev_rows = r


def test_tune_bands_pins_pipeline_default():
    # The hard-coded (BANDS, ROWS_PER_BAND) = (8, 4) split is exactly
    # what the tuner picks at the near-dup pipeline's operating
    # threshold — the default is optimal, not arbitrary.
    from x8313_etl_spark.operators.minhash import BANDS, ROWS_PER_BAND, tune_bands

    assert tune_bands(0.5, 32) == (BANDS, ROWS_PER_BAND)


def test_band_candidate_prob_is_a_monotone_cdf_shape():
    import pytest

    from x8313_etl_spark.operators.minhash import band_candidate_prob, tune_bands

    prev = -1.0
    for i in range(11):
        s = i / 10
        p = band_candidate_prob(s, 8, 4)
        assert 0.0 <= p <= 1.0 and p >= prev
        prev = p
    with pytest.raises(ValueError):
        tune_bands(0.0)
    with pytest.raises(ValueError):
        tune_bands(1.0)


def test_signature_from_shingles_matches_signature_table(spark):
    """signature_from_shingles(shingle_table(docs)) must be bit-identical
    to signature_table(docs) — the r13 single-regex-pass derivation used
    by every sig+sh co-consumer (near_dup_pairs, incremental_near_dups,
    p_dedup_recall_eval)."""
    import pyspark.sql.functions as F

    from x8313_etl_spark.operators.minhash import (
        shingle_table,
        signature_from_shingles,
        signature_table,
    )

    texts = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "alpha beta gamma delta epsilon zeta eta thetb",
        "one two three four five six seven",
        "one two",  # shingle-less: absent from both forms
        "repeat repeat repeat repeat repeat",
    ]
    docs = _docs(spark, texts)
    ref = signature_table(docs, "doc_id", "text").select(
        "doc_id", F.col("sig").alias("sig_ref")
    )
    derived = signature_from_shingles(shingle_table(docs, "doc_id", "text"))
    joined = ref.join(derived, "doc_id", "full")
    assert joined.filter("sig_ref IS NULL OR sig IS NULL").count() == 0
    assert joined.filter("sig_ref != sig").count() == 0
