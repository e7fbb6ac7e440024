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

1. ``signature_table`` / ``shingle_table`` on each side — in
   production the index side is a parquet-persisted table maintained
   across ingests (pass it via ``index_sig``/``index_sh``); recomputing
   it here is fixture convenience, not the contract.
2. Band keys exploded on both sides; equi-join batch bands to index
   bands (one shuffle keyed by band value — the index side can be
   pre-bucketed by band key on disk, making the probe a co-located
   join).
3. Exact shingle-Jaccard verify at ``threshold`` on the candidates.
4. Per batch doc: top-1 match by (jaccard DESC, index id ASC) and an
   ``is_dup`` verdict, LEFT-joined so every batch doc gets a row
   (non-dups carry NULL match columns) — the keep/drop decision an
   ingest pipeline actually consumes.

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
from pyspark.sql import DataFrame
from .bandjoin import DEFAULT_MAX_BUCKET_SIZE
from .minhash import (
    band_keys,
    shingle_table,
    signature_from_shingles,
    signature_table,
)

_SHINGLE_K = 3


def _banded(sig: DataFrame, out_id: str) -> DataFrame:
    return sig.select(
        F.col("doc_id").alias(out_id),
        F.posexplode(band_keys(F.col("sig"))).alias("band", "key"),
    )


def incremental_near_dups(
    index_docs: DataFrame | None,
    batch_docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.3,
    k: int = _SHINGLE_K,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    cache: bool = True,
    index_sig: DataFrame | None = None,
    index_sh: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, is_dup, dup_of, jaccard): one row per batch doc.

    ``dup_of`` is the index doc with the highest verified Jaccard
    (ties → min index id); NULL (with ``is_dup = false``) when no
    index doc collides on any band with Jaccard ≥ ``threshold``.
    Batch docs with fewer than ``k`` words have no shingles and are
    never dups under this metric (same contract as
    ``minhash.near_dup_pairs``).

    ``index_sig``/``index_sh``: the PERSISTED standing-corpus
    signature and shingle tables ((doc_id, sig) / (doc_id, sh), the
    ``signature_table``/``shingle_table`` schemas). When both are
    given, ``index_docs`` may be None: the index side is consumed
    as-is — no re-sketching, no repartition (a parquet index
    pre-bucketed by band key keeps its layout), no re-persist — which
    is what makes per-ingest work independent of corpus size. When
    omitted, both are derived from ``index_docs`` (fixture
    convenience, not the production contract).

    Determinism: constants are shared with operators/minhash.py, so
    the same corpus gives the same verdicts on any cluster size and
    the DuckDB twin regenerates identical signatures.

    Cache lifetime (r14): the ``cache=True`` recompute path persists
    its shingle tables through the keyed swap-pool
    (operators/cachepool.py), which bounds them to one live table per
    key across repeated sweep calls and files each plan in the audit
    ledger — replacing the old raw-persist + eager-verdict-checkpoint
    + unpersist dance, whose checkpoint cost one extra full
    materialization of the verdict per invocation. Every path now
    returns a plain lazy frame.
    """
    sp = batch_docs.sparkSession.sparkContext.defaultParallelism
    batch_docs = batch_docs.repartition(sp)

    # One regex shingling pass per side, not two (r13 optimization
    # round): sig derives from sh via signature_from_shingles —
    # bit-identical signatures, but the CPU-dense shingling runs once
    # while sh materializes instead of once per table.
    sh_new = shingle_table(batch_docs, id_col, text_col, k)
    if cache and index_sig is None:
        from .cachepool import swap_persist

        # two consumers: the batch signatures and the verify join
        sh_new = swap_persist("increment.sh_new", sh_new)
        sig_new = signature_from_shingles(sh_new)
    else:
        sig_new = signature_table(batch_docs, id_col, text_col, k)
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
        sh_old = shingle_table(index_docs, id_col, text_col, k)
        if cache:
            # sh_old feeds the index signatures AND the verify join;
            # precomputed tables are parquet reads, which amortize the
            # same way without a persist. sig derives from the persisted
            # sh (one shingling pass — see the batch side) and is not
            # pooled: the guard pass and the band join each rerun its
            # map-only kernel, cheaper than a persist (sf0.1: same jobs
            # and tasks, executor CPU 1.19 → 1.01 s).
            from .cachepool import swap_persist

            sh_old = swap_persist("increment.sh_old", sh_old)
            sig_old = signature_from_shingles(sh_old)
        else:
            sig_old = signature_table(index_docs, id_col, text_col, k)

    b_new = _banded(sig_new, "new_id")
    b_old = _banded(sig_old, "old_id")
    if max_bucket_size is not None:
        hot = (
            b_old.groupBy("band", "key")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") > max_bucket_size)
            .select("band", "key")
        )
        b_old = b_old.join(F.broadcast(hot), ["band", "key"], "left_anti")

    cand = (
        b_new.join(b_old, ["band", "key"])
        .select("new_id", "old_id")
        .distinct()
    )

    jac = (
        F.size(F.array_intersect(F.col("sa"), F.col("sb"))).cast("double")
        / F.size(F.array_distinct(F.concat(F.col("sa"), F.col("sb"))))
    )
    verified = (
        cand.join(
            sh_new.select(F.col("doc_id").alias("new_id"), F.col("sh").alias("sa")),
            "new_id",
        )
        .join(
            sh_old.select(F.col("doc_id").alias("old_id"), F.col("sh").alias("sb")),
            "old_id",
        )
        .select("new_id", "old_id", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )
    # top-1 per batch doc — WindowGroupLimit prunes below the shuffle
    from pyspark.sql import Window

    w = Window.partitionBy("new_id").orderBy(
        F.col("jaccard").desc(), F.col("old_id").asc()
    )
    best = (
        verified.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    verdict = (
        batch_docs.select(F.col(id_col).alias("doc_id"))
        .join(best.withColumnRenamed("new_id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.col("old_id").isNotNull().alias("is_dup"),
            F.col("old_id").alias("dup_of"),
            "jaccard",
        )
    )
    # cache lifetime is owned by the keyed swap-pool (see the batch-side
    # note): no eager verdict materialization, no per-call unpersist —
    # the verdict returns lazy on every path; the pool keys file its
    # plans in the audit ledger.
    return verdict
