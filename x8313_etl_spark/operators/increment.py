"""Incremental MinHash deduplication: a delta batch against a corpus
index (SURVEY.md §2.10 dedup family — the PRODUCTION arrival shape).

At 100 TB you do not re-LSH the whole corpus every ingest: the standing
corpus keeps a persisted signature/band index, and each arriving batch
is sketched once and probed AGAINST that index. The pair join is
batch × index on band keys — never a corpus self-join — so per-ingest
work is |batch| sketching plus Σ_key |batch_bucket|·|index_bucket|
verify candidates, independent of corpus size outside the collided
buckets.

This module implements that shape with the SAME deterministic sketch as
``operators/minhash.py`` (identical constants, so a signature computed
at ingest time N is still valid at ingest time N+k, and the DuckDB twin
can regenerate it exactly):

1. ``shingle_table`` then ``signature_from_shingles`` on each side — in
   production the index side is a parquet-persisted table maintained
   across ingests (pass it via ``index_sig``/``index_sh``); recomputing
   it here is fixture convenience, not the contract.
2. Band keys exploded on both sides; equi-join batch bands to index
   bands (one shuffle keyed by band value — the index side can be
   pre-bucketed by band key on disk, making the probe a co-located
   join).
3. Exact shingle-Jaccard verify at ``NEAR_DUP_THRESHOLD`` on the candidates.
4. Per batch doc: top-1 match by (jaccard DESC, index id ASC) and an
   ``is_dup`` verdict, LEFT-joined so every batch doc gets a row
   (non-dups carry NULL match columns) — the keep/drop decision an
   ingest pipeline actually consumes (``top1_verdict``, which the
   streaming sink in operators/ingestdedup.py shares).

Banding and the verify are ``minhash.band_table`` and
``minhash.jaccard_verify``; the guard is ``bandjoin.drop_hot_buckets``.

Hot-bucket guard: a band key shared by B_index docs multiplies every
colliding batch doc by B_index. ``max_bucket_size`` drops index-side
buckets over the cap (the ``on_hot="drop"`` posture of
operators/bandjoin.py); the default cannot trigger without a
5000-strong near-identical index cluster, so the twin's exact band
predicate holds on any test corpus while a boilerplate-heavy crawl
stays bounded.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from .bandjoin import DEFAULT_MAX_BUCKET_SIZE, drop_hot_buckets
from .minhash import (
    NEAR_DUP_THRESHOLD,
    band_table,
    jaccard_verify,
    shingle_table,
    signature_from_shingles,
)


def top1_verdict(ids: DataFrame, verified: DataFrame) -> DataFrame:
    """(doc_id, is_dup, dup_of, jaccard): one row per ``ids`` doc_id.

    ``verified`` holds the (new_id, old_id, jaccard) matches that passed
    the threshold; each doc keeps its best one by (jaccard DESC, old_id
    ASC), and a doc with none gets ``is_dup = false`` and NULL match
    columns."""
    # top-1 per batch doc — WindowGroupLimit prunes below the shuffle
    w = Window.partitionBy("new_id").orderBy(
        F.col("jaccard").desc(), F.col("old_id").asc()
    )
    best = (
        verified.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return (
        ids.join(best.withColumnRenamed("new_id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.col("old_id").isNotNull().alias("is_dup"),
            F.col("old_id").alias("dup_of"),
            "jaccard",
        )
    )


def incremental_near_dups(
    index_docs: DataFrame | None,
    batch_docs: DataFrame,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    index_sig: DataFrame | None = None,
    index_sh: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, is_dup, dup_of, jaccard): one row per batch doc.

    ``dup_of`` is the index doc with the highest verified Jaccard
    (ties → min index id); NULL (with ``is_dup = false``) when no
    index doc collides on any band with Jaccard ≥ ``NEAR_DUP_THRESHOLD``.
    Batch docs with fewer than 3 words have no shingles and are
    never dups under this metric (same contract as
    ``minhash.near_dup_pairs``).

    ``index_sig``/``index_sh``: the PERSISTED standing-corpus
    signature and shingle tables ((doc_id, sig) / (doc_id, sh), the
    ``signature_from_shingles``/``shingle_table`` schemas). When both
    are given, ``index_docs`` may be None: the index side is consumed
    as-is — no re-sketching, no repartition (a parquet index
    pre-bucketed by band key keeps its layout), no re-persist — which
    is what makes per-ingest work independent of corpus size. When
    omitted, both are derived from ``index_docs`` (fixture
    convenience, not the production contract).

    Determinism: constants are shared with operators/minhash.py, so
    the same corpus gives the same verdicts on any cluster size and
    the DuckDB twin regenerates identical signatures.

    Cache lifetime (r14): the recompute path persists its shingle
    tables through the keyed swap-pool (operators/cachepool.py), which
    bounds them to one live table per key across repeated sweep calls
    and files each plan in the audit ledger. Every path returns a
    plain lazy frame.
    """
    sp = batch_docs.sparkSession.sparkContext.defaultParallelism
    batch_docs = batch_docs.repartition(sp)

    # One regex shingling pass per side, not two (r13 optimization
    # round): sig derives from sh via signature_from_shingles —
    # bit-identical signatures, but the CPU-dense shingling runs once
    # while sh materializes instead of once per table.
    sh_new = shingle_table(batch_docs, "doc_id", "text")
    if index_sig is None:
        from .cachepool import swap_persist

        # two consumers: the batch signatures and the verify join
        sh_new = swap_persist("increment.sh_new", sh_new)
    sig_new = signature_from_shingles(sh_new)
    if (index_sig is None) != (index_sh is None):
        raise ValueError("pass index_sig and index_sh together")
    if index_sig is not None:
        if index_docs is not None:
            # silently preferring one source over the other would let a
            # STALE precomputed index masquerade as the docs the caller
            # passed — make the ambiguity loud (review round 7)
            raise ValueError(
                "pass either index_docs or precomputed index_sig/index_sh, "
                "not both"
            )
        sig_old, sh_old = index_sig, index_sh
    else:
        if index_docs is None:
            raise ValueError("need index_docs or index_sig+index_sh")
        index_docs = index_docs.repartition(sp)
        # sh_old feeds the index signatures AND the verify join;
        # precomputed tables are parquet reads, which amortize the same
        # way without a persist. sig is not pooled: the guard pass and
        # the band join each rerun its map-only kernel, cheaper than a
        # persist (sf0.1: same jobs and tasks, executor CPU 1.19 →
        # 1.01 s).
        sh_old = swap_persist(
            "increment.sh_old", shingle_table(index_docs, "doc_id", "text")
        )
        sig_old = signature_from_shingles(sh_old)

    b_new = band_table(sig_new, "new_id")
    b_old = drop_hot_buckets(
        band_table(sig_old, "old_id"), ("band", "key"), max_bucket_size
    )
    cand = b_new.join(b_old, ["band", "key"]).select("new_id", "old_id").distinct()
    verified = jaccard_verify(
        cand, sh_new, sh_old, "new_id", "old_id", NEAR_DUP_THRESHOLD
    )
    return top1_verdict(batch_docs.select("doc_id"), verified)
