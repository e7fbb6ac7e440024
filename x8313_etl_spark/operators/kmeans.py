"""Fixed-round Lloyd k-means over embedding vectors — the clustering
primitive LLM data curation builds on (SemDeDup's cluster-then-prune,
DataComp's density-balanced sampling, and IVF coarse-quantizer training
all start from exactly this loop; Lloyd 1982 / the k-means|| paper are
the public sources).

Engine-exactness discipline (the g1 / holt lesson: iterated floating
point cannot be oracled):

1. **Integer quantization.** Every component is mapped once to a fixed
   global grid ``floor(x·scale + 0.5)`` (float→double widening is
   exact, floor is IEEE-exact in both engines — the
   p_quantize_embeddings idiom), so every distance is an exact BIGINT:
   |q| ≤ ~5·10⁵ at scale 10⁶, squared-diff ≤ ~10¹², ×64 dims ≤ ~10¹⁴ —
   no overflow, and integer addition is order-free, so the zip_with
   fold needs no ordering discipline.
2. **Deterministic seeding.** Centroids start as the k smallest
   vec_ids' quantized vectors (the sim_ivf_topk seed convention) — no
   RNG state to replicate cross-engine.
3. **Deterministic assignment.** argmin over (d², cid) via a
   ``min(struct(d2, cid))`` aggregate — lexicographic struct ordering
   IS the tie-break, and a map-side-combinable agg beats a row_number
   window at scale (no per-vector sort, partial min per partition).
4. **Truncating mean.** Centroid update divides component sums by
   member counts with ``div`` (truncate-toward-zero — DuckDB's ``//``
   semantics, pinned by operators/holt.py's test). Empty clusters keep
   their previous centroid (the standard Lloyd convention).

Scale shape (the 100 TB argument): per round, assignment is a
broadcast nested-loop over N×k with k tiny and constant — the exact
shape Spark MLlib's KMeans uses — so NO shuffle touches the vector
table for assignment; the only shuffle is the centroid update, a
groupBy on (cid, idx) with map-side combine reducing everything to
k×dim cells before the exchange. Centroids (k×dim BIGINTs) are
checkpointed per round so the lineage stays shallow and the broadcast
stays a k-row table. Rounds are a fixed small constant: cost is
rounds × (one vector scan + one k×dim shuffle) — linear in N.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

KMEANS_SCALE = 10**6


def quantize_vectors(vectors: DataFrame) -> DataFrame:
    """(vec_id, qv array<bigint>) — fixed-grid integer quantization,
    ``floor(x·KMEANS_SCALE + 0.5)`` per component (floor(+0.5), not round():
    the engines disagree on round-half semantics while floor is
    IEEE-exact in both)."""
    return vectors.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(
                x.cast("double") * F.lit(float(KMEANS_SCALE)) + F.lit(0.5)
            ).cast("bigint"),
        ).alias("qv"),
    )


def _seed_centroids(qvecs: DataFrame, k: int) -> DataFrame:
    """(cid, cv) — the k smallest vec_ids' vectors, cid densely
    numbered 0..k-1 in vec_id order. k rows: the orderBy/limit sorts a
    k-row-bounded top-k (TakeOrdered), never a global sort."""
    from pyspark.sql import Window

    seeds = qvecs.orderBy("vec_id").limit(k)
    w = Window.orderBy("vec_id")
    return seeds.select(
        (F.row_number().over(w) - F.lit(1)).alias("cid"), F.col("qv").alias("cv")
    )


def _assign(qvecs: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, cid): nearest centroid by integer squared distance,
    ties to the smallest cid.

    REWORKED r13 (optimization round, guide §4): one Arrow-batched
    numpy pass with the k centroids in the task closure (k tiny and
    constant — the bounded-closure contract of operators/annscan.py;
    MLlib's KMeans collects-and-broadcasts its centroids the same way)
    instead of a broadcast NLJ over N×k rows with the INTERPRETED
    zip_with/aggregate fold plus an N×k min(struct) aggregate. All
    arithmetic is int64 — quantized grid points, squared diffs
    ≤ ~10¹⁴ — so numpy reproduces the JVM/DuckDB integers EXACTLY (no
    IEEE ordering concerns at all), and ``argmin`` over the
    cid-ordered centroid matrix returns the first minimum = smallest
    cid, the min(struct(d2, cid)) tie-break verbatim. Emits one row
    per vector; the N×k intermediate, the BNLJ and the groupBy
    exchange are gone from every round."""
    import numpy as np

    crows = centroids.orderBy("cid").collect()
    cids = np.array([r["cid"] for r in crows], dtype=np.int64)
    cmat = np.vstack([np.asarray(r["cv"], dtype=np.int64) for r in crows])

    def go(batches):
        import pandas as pd

        for pdf in batches:
            mb = np.vstack(pdf["qv"].to_numpy()).astype(np.int64)
            acc = np.zeros((len(mb), len(cmat)), dtype=np.int64)
            for d in range(mb.shape[1]):
                diff = mb[:, d, None] - cmat[None, :, d]
                acc += diff * diff
            best = acc.argmin(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "cid": cids[best].astype(np.int32),
                }
            )

    return qvecs.select("vec_id", "qv").mapInPandas(go, "vec_id long, cid int")


def _update(qvecs: DataFrame, assign: DataFrame, centroids: DataFrame) -> DataFrame:
    """New centroids: per-(cid, idx) truncating integer mean; empty
    clusters keep the previous centroid. The posexplode fans each
    vector to dim rows, but map-side combine collapses the shuffle to
    k×dim cells before the exchange."""
    comp = (
        qvecs.join(assign, "vec_id")
        .select("cid", F.posexplode("qv").alias("idx", "q"))
        .groupBy("cid", "idx")
        .agg(F.sum("q").alias("sq"), F.count(F.lit(1)).alias("cnt"))
    )
    prev = centroids.select("cid", F.posexplode("cv").alias("idx", "pq"))
    merged = prev.join(comp, ["cid", "idx"], "left").select(
        "cid",
        "idx",
        F.when(F.col("cnt").isNull(), F.col("pq"))
        .otherwise(F.expr("sq div cnt"))
        .alias("q"),
    )
    return merged.groupBy("cid").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("idx", "q"))), lambda s: s["q"]
        ).alias("cv")
    )


def lloyd_kmeans(
    vectors: DataFrame,
    k: int,
    rounds: int,
    ledger_key: str = "kmeans",
) -> tuple[DataFrame, DataFrame]:
    """Run ``rounds`` Lloyd iterations; returns ``(assign, centroids)``
    where assign is (vec_id, cid) under the FINAL centroids and
    centroids is (cid, cv array<bigint>).

    ``vectors``: (vec_id, embedding array<float|double>). The returned
    assignment is computed against the post-round centroids (one extra
    assignment pass), so callers see a consistent (centroids,
    membership) pair.

    Cache lifetime: the quantized-vector cache is internal — the final
    assignment is materialized (checkpointed) and the cache UNPERSISTED
    before returning, so repeated calls (parameter sweeps, IVF training
    loops) don't accumulate executor storage until eviction. Every
    checkpoint is an ``audited_checkpoint`` under ``ledger_key`` +
    ``.seed``/``.round``/``.final``."""
    from pyspark import StorageLevel

    from ..audit import audited_checkpoint

    qvecs = quantize_vectors(vectors).persist(StorageLevel.MEMORY_AND_DISK)
    cents = audited_checkpoint(f"{ledger_key}.seed", _seed_centroids(qvecs, k))
    for r in range(rounds):
        assign = _assign(qvecs, cents)
        cents = audited_checkpoint(
            f"{ledger_key}.round", _update(qvecs, assign, cents)
        )
    final_assign = audited_checkpoint(f"{ledger_key}.final", _assign(qvecs, cents))
    qvecs.unpersist()
    return final_assign, cents
