"""Bounded-round weighted shortest paths — the (min, +) frontier loop
(SURVEY.md §2 g7; factored so the relaxation core is property-testable
against a driver-side reference on literal graphs).

Bellman-Ford restricted to ``rounds`` relaxation rounds computes the
exact shortest distance among paths of ≤ ``rounds`` edges — the
fixed-round discipline every iterative operator here uses (g1/g2's
lesson): a FIXED round count on both engines removes any
convergence-detection divergence, and integer weights keep every
distance exact in any engine.

Per round: ONE edge⋈frontier equi-shuffle on ``src`` (identical key
every round — co-partitioning reused), a map-side-combined MIN
aggregate, and a per-round eager checkpoint (lineage truncation — see
bounded_sssp's docstring for why persist is wrong here). Cost per round
is O(E) worst case but tracks the ACTIVE frontier once labels
stabilize — the Pregel model. The 100 TB upgrade is delta-stepping
(bucketed priority), which changes the round schedule, not this
per-round join shape.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def bounded_sssp(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int,
    ledger_key: str = "sssp.round",
) -> DataFrame:
    """Multi-source shortest distances over ≤ ``rounds`` edges.

    ``edges``: (src, dst, w) — DIRECTED; symmetrize first for an
    undirected graph. ``w`` must be non-negative (min-plus semiring).
    ``seeds``: (node) — distance-0 sources. Returns (node, dist) for
    every node reached within ``rounds`` edges; unreached nodes are
    absent (callers left-join and coalesce to their sentinel).

    Each round ends in an EAGER checkpoint, not a persist: persist
    only caches — it neither truncates the growing union-of-rounds
    lineage nor gets released at the end of the invocation (a per-round
    persist leaked ``rounds`` cached tables per call for the session
    lifetime — review round 6; the same reason delta_stepping's
    min_merge checkpoints). The checkpoint is ``audited_checkpoint``
    under ``ledger_key``, so the shuffle audit still sees each round's
    truncated plan (the repo's standing iterative-operator
    invariant)."""
    from ..audit import audited_checkpoint

    dist = seeds.select("node", F.lit(0).cast("bigint").alias("dist"))
    for _ in range(rounds):
        relaxed = edges.join(dist, edges.src == dist.node).select(
            F.col("dst").alias("node"),
            (F.col("dist") + F.col("w")).alias("dist"),
        )
        merged = (
            dist.unionByName(relaxed)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        dist = audited_checkpoint(ledger_key, merged)
    return dist


def delta_stepping(
    edges: DataFrame,
    seeds: DataFrame,
    delta: int,
    max_buckets: int,
    light_rounds: int | None = None,
    ledger_key: str = "sssp.delta",
) -> DataFrame:
    """Delta-stepping SSSP (Meyer & Sanders) — the bucketed-priority
    upgrade of ``bounded_sssp``, processing tentative distances in
    buckets of width ``delta``: within a bucket, LIGHT edges (w ≤ Δ)
    relax to fixpoint (≤ Δ inner rounds suffice — integer weights ≥ 1
    strictly advance a tentative distance inside the bucket each
    round); the bucket then SETTLES, and HEAVY edges (w > Δ) relax once
    from the settled set. Returns the EXACT distances of every node
    settled within ``max_buckets`` buckets, i.e. all nodes with true
    distance < max_buckets·Δ (the classic invariant: once a bucket
    reaches light-fixpoint, every future relaxation lands in a strictly
    later bucket — settled distances are final).

    vs bounded_sssp: Bellman-Ford's round count is bounded by path
    EDGE-count; delta-stepping's by path WEIGHT/Δ. On graphs whose
    shortest paths are many light hops, Δ buckets finish in
    weight/Δ·(Δ+1) small frontier rounds where Bellman-Ford needs
    diameter-many full-frontier rounds — the dial between Dijkstra
    (Δ=1) and Bellman-Ford (Δ=∞). The per-round join shape (ONE
    edge⋈frontier equi-shuffle + min-agg) is unchanged; only the
    schedule differs. Weights must be positive integers.

    ``light_rounds`` (default: Δ) caps the per-bucket inner loop at a
    FIXED round count independent of Δ. The Δ-round default guarantees
    light fixpoint for integer weights; a registered query needs the
    fixed cap because its chained-CTE twin must unroll a Δ-INDEPENDENT
    number of rounds (Δ itself is quantile-derived from the data — the
    g3 non-constant-threshold rule — so the SQL string cannot depend on
    it). With a cap below fixpoint the result is still EXACTLY
    deterministic — both engines replay the identical schedule — it is
    just no longer guaranteed equal to true distances; the registered
    query must verify sufficiency of its cap on the fixture the same
    way seed-nonemptiness is verified (g8's cap=2 is pinned equal to
    exact Dijkstra distances on every fixture sf by
    tests/test_registered_guards.py::test_g8_light_round_cap_suffices_on_fixtures).

    Every per-merge checkpoint is an ``audited_checkpoint`` under
    ``ledger_key`` + ``.round`` (the iterative-operator invariant — the
    shuffle audit must see each round's truncated plan).
    """
    from ..audit import audited_checkpoint

    if delta < 1:
        raise ValueError("delta must be >= 1")
    if max_buckets < 1:
        raise ValueError("max_buckets must be >= 1")
    if light_rounds is None:
        light_rounds = delta
    elif light_rounds < 1:
        raise ValueError("light_rounds must be >= 1")
    light = edges.filter(F.col("w") <= delta)
    heavy = edges.filter(F.col("w") > delta)
    tent = seeds.select("node", F.lit(0).cast("bigint").alias("dist"))
    settled = None

    def min_merge(a: DataFrame, b: DataFrame) -> DataFrame:
        # checkpoint, not persist: the schedule runs
        # max_buckets·(Δ+1) merges and a persist-only chain makes every
        # later plan re-embed all earlier ones — analysis time grows
        # quadratically (measured: the property test went from stuck to
        # seconds). Checkpointing truncates lineage per merge, the
        # standard iterative-on-Spark discipline (g1/g5), and the
        # ledger sees each round's plan.
        merged = (
            a.unionByName(b)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
        )
        return audited_checkpoint(f"{ledger_key}.round", merged)

    for b in range(max_buckets):
        lo, hi = b * delta, (b + 1) * delta
        in_bucket = (F.col("dist") >= lo) & (F.col("dist") < hi)
        for _ in range(light_rounds):
            bucket = tent.filter(in_bucket)
            relaxed = light.join(bucket, light.src == bucket.node).select(
                F.col("dst").alias("node"),
                (F.col("dist") + F.col("w")).alias("dist"),
            )
            tent = min_merge(tent, relaxed)
        done = tent.filter(in_bucket)
        settled = done if settled is None else settled.unionByName(done)
        hrelax = heavy.join(done, heavy.src == done.node).select(
            F.col("dst").alias("node"),
            (F.col("dist") + F.col("w")).alias("dist"),
        )
        tent = min_merge(tent, hrelax)
    # a union over the per-bucket checkpointed frames — already flat
    return settled
