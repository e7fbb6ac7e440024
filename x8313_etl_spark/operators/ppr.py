"""Personalized PageRank — the seed-restricted teleport variant of g1
(Page et al.; Jeh & Widom *Scaling Personalized Web Search*, public
papers). Global PageRank teleports uniformly; PPR teleports ONLY to a
seed set, so mass concentrates in the seeds' neighbourhood — the
similarity / recommendation primitive ("rank everything relative to
THIS user/doc/account").

Same execution discipline as the registered g1 (queries/graph_q.py):
fixed iteration count, integer pico-rank fixed-point (engine-exact —
iterated floating point cannot be oracled, the g1 module lesson), and
per round ONE edge⋈rank equi-shuffle on src (identical key each round,
co-partitioning reused), a map-side-combined integer sum, and a left
join onto the node frame so nodes receiving no mass keep their base.
The only difference is the base vector:
``PPR_SCALE·(DAMP_DEN−DAMP_NUM)/(DAMP_DEN·|S|)`` on seed nodes, ZERO
elsewhere — one broadcast seed-flag join, no new shuffle.

Dangling nodes (no out-edges) leak their mass — the usual simplified
model, fine for ranking BY seed-proximity where only relative order
matters; redistributing dangling mass adds one scalar aggregate per
round if exact probability mass is ever needed (documented, not
implemented — g1 sidesteps it the same way via its symmetric graph).

Lineage: per-round EAGER ``audited_checkpoint`` under ``ledger_key`` (a
per-round persist neither truncates the growing lineage nor is ever
released — the cache-lifetime leak class recorded in bounded_sssp's
docstring), so the shuffle audit sees each round. The node frame's
internal caches are unpersisted before returning (the lloyd_kmeans
discipline).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

PPR_SCALE = 10**12
#: damping factor DAMP_NUM/DAMP_DEN = 0.85, kept as an integer ratio
DAMP_NUM, DAMP_DEN = 85, 100


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int,
    ledger_key: str = "ppr.round",
) -> DataFrame:
    """(node, rank_pico) after ``rounds`` integer power iterations.

    ``edges``: (src, dst) directed; ``seeds``: (node). Initial rank =
    the base vector itself (PPR_SCALE/|S| on seeds — starting from the
    teleport distribution, the standard PPR power iteration)."""
    from pyspark import StorageLevel

    from ..audit import audited_checkpoint

    if rounds < 1:
        # rounds=0 would return an UN-materialized plan whose caches
        # the cleanup below has already released (review round 7)
        raise ValueError("rounds must be >= 1")
    # Persist the edge table (r14): the per-round checkpoints truncate
    # the RANK lineage, not the edge side — without this persist every
    # round's job re-executed the caller's whole edge construction
    # (g9: lineitem⋈orders + distinct + symmetrizing union, rounds×
    # over). Hash-partitioned by the propagation join key before the
    # persist (the concomp/g1 §2.1 posture): shuffle-free edge side per
    # round at the scale where the rank table cannot broadcast.
    edges = edges.repartition(F.col("src")).persist(StorageLevel.MEMORY_AND_DISK)
    # deg is node-sized and joined every round — persist it too instead
    # of re-aggregating the edge table per round (g1's shape)
    deg = (
        edges.groupBy("src")
        .agg(F.count(F.lit(1)).alias("outdeg"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    nodes = (
        edges.select(F.col("src").alias("node"))
        .unionByName(edges.select(F.col("dst").alias("node")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    ns = seeds.agg(F.count(F.lit(1)).alias("n_seeds"))
    seeded = nodes.join(
        seeds.select(F.col("node"), F.lit(1).alias("is_seed")), "node", "left"
    ).crossJoin(F.broadcast(ns))
    base = F.when(
        F.col("is_seed").isNotNull(),
        F.expr(
            f"({PPR_SCALE} * {DAMP_DEN - DAMP_NUM}) div ({DAMP_DEN} * n_seeds)"
        ),
    ).otherwise(F.lit(0))
    init = F.when(
        F.col("is_seed").isNotNull(), F.expr(f"{PPR_SCALE} div n_seeds")
    ).otherwise(F.lit(0))
    frame = seeded.select("node", base.alias("base"), init.alias("r")).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    ranks = frame.select("node", "r")
    try:
        for _ in range(rounds):
            # per-NODE message first (|V|⋈|V| on node), THEN fan out
            # over edges — r div outdeg is constant per source node, so
            # joining deg after the |E|-sized edge join recomputed it
            # once per out-edge and paid a second |E|-sized join per
            # round (measured on the 10x sweep; algebraically identical
            # either way)
            msg = ranks.join(deg, ranks.node == deg.src).select(
                "src", F.expr("r div outdeg").alias("c")
            )
            contrib = edges.join(msg, "src").select("dst", "c")
            sums = contrib.groupBy("dst").agg(F.sum("c").alias("msum"))
            merged = (
                frame.select("node", "base")
                .join(sums, frame.node == sums.dst, "left")
                .select(
                    "node",
                    (
                        F.col("base")
                        + F.expr(
                            f"({DAMP_NUM} * coalesce(msum, 0)) div {DAMP_DEN}"
                        )
                    ).alias("r"),
                )
            )
            # checkpoint, not persist: a per-round persist neither
            # truncates the growing lineage nor is ever released — the
            # cache-lifetime leak class bounded_sssp's docstring records
            # (and lloyd_kmeans fixed) from review rounds 6/7
            ranks = audited_checkpoint(ledger_key, merged)
        return ranks.select("node", F.col("r").cast("bigint").alias("rank_pico"))
    finally:
        # the final ranks are checkpointed (materialized, rounds ≥ 1),
        # so the internal caches can be released before returning —
        # and MUST be released even when a mid-round job aborts, or
        # repeated sweep calls re-accumulate exactly the storage this
        # cleanup exists to bound (review round 7)
        frame.unpersist()
        nodes.unpersist()
        deg.unpersist()
        edges.unpersist()
