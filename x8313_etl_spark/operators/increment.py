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

1. ``shingle_table`` then ``signature_from_shingles`` on each side. The
   index side arrives PRE-SKETCHED: (doc_id, sig) and (doc_id, sh)
   tables, in production parquet-persisted and maintained across
   ingests; ``sketch_index`` builds them from raw docs (what
   p_incremental_dedup does with the fixture corpus).
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
buckets over the cap (operators/bandjoin.py's guard); the default
cannot trigger without a 5000-strong near-identical index cluster, so
the twin's exact band predicate holds on any test corpus while a
boilerplate-heavy crawl stays bounded.
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


def sketch_index(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(sig, sh) for ``incremental_near_dups`` from raw (doc_id, text)
    index docs: the ``signature_from_shingles``/``shingle_table``
    tables a standing index persists.

    sh feeds the index signatures AND the verify join, so it is pooled;
    sig is not: the guard pass and the band join each rerun its
    map-only kernel, cheaper than a persist (sf0.1: same jobs and
    tasks, executor CPU 1.19 → 1.01 s)."""
    from .cachepool import swap_persist

    docs = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    sh = swap_persist("increment.sh_old", shingle_table(docs, "doc_id", "text"))
    return signature_from_shingles(sh), sh


def incremental_near_dups(
    index_sig: DataFrame,
    index_sh: DataFrame,
    batch_docs: DataFrame,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """(doc_id, is_dup, dup_of, jaccard): one row per batch doc.

    ``dup_of`` is the index doc with the highest verified Jaccard
    (ties → min index id); NULL (with ``is_dup = false``) when no
    index doc collides on any band with Jaccard ≥ ``NEAR_DUP_THRESHOLD``.
    Batch docs with fewer than 3 words have no shingles and are
    never dups under this metric (same contract as
    ``minhash.near_dup_pairs``).

    ``index_sig``/``index_sh``: the standing-corpus signature and
    shingle tables ((doc_id, sig) / (doc_id, sh), as ``sketch_index``
    returns them). They are consumed as-is — no re-sketching, no
    repartition (a parquet index pre-bucketed by band key keeps its
    layout), no re-persist — which is what makes per-ingest work
    independent of corpus size.

    Determinism: constants are shared with operators/minhash.py, so
    the same corpus gives the same verdicts on any cluster size and
    the DuckDB twin regenerates identical signatures.

    Cache lifetime (r14): the batch shingle table goes through the
    keyed swap-pool (operators/cachepool.py), which bounds it to one
    live table per key across repeated sweep calls and files its plan
    in the audit ledger. The result is a plain lazy frame.
    """
    from .cachepool import swap_persist

    batch_docs = batch_docs.repartition(
        batch_docs.sparkSession.sparkContext.defaultParallelism
    )
    # One regex shingling pass per side, not two (r13 optimization
    # round): sig derives from sh via signature_from_shingles —
    # bit-identical signatures, but the CPU-dense shingling runs once
    # while sh materializes instead of once per table. Two consumers:
    # the batch signatures and the verify join.
    sh_new = swap_persist(
        "increment.sh_new", shingle_table(batch_docs, "doc_id", "text")
    )
    b_new = band_table(signature_from_shingles(sh_new), "new_id")
    b_old = drop_hot_buckets(
        band_table(index_sig, "old_id"), ("band", "key"), max_bucket_size
    )
    cand = b_new.join(b_old, ["band", "key"]).select("new_id", "old_id").distinct()
    verified = jaccard_verify(
        cand, sh_new, index_sh, "new_id", "old_id", NEAR_DUP_THRESHOLD
    )
    return top1_verdict(batch_docs.select("doc_id"), verified)
