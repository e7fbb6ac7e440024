"""Connected components over an edge table — the cluster-assignment step
of large-scale dedup (SURVEY.md §2.12): near-dup PAIRS (MinHash / SimHash
/ LSH candidates) become canonical document GROUPS, so a pipeline can
keep one representative per cluster instead of resolving pairs ad hoc.

Algorithm: Pregel-style min-label propagation. Every vertex starts
labeled with its own id; each round every vertex takes the min of its
own label and its neighbors' labels; at fixpoint every vertex carries
the minimum vertex id of its component. Rounds needed = graph diameter,
and dedup graphs are quasi-cliques (diameter 2-3), so convergence is a
handful of rounds even at corpus scale.

Edge table: one pass over the edge generator. Each input edge fans out
to both directions with ``explode(array(struct(src, dst), struct(dst,
src)))`` rather than a ``union`` of two projections. A union references
the generator twice, and with no exchange reuse across its branches the
whole candidate pipeline (SimHash/LSH banding, pair scans) runs once per
branch. ``repartition(e_src)`` precedes ``distinct()``, so ONE exchange
both de-duplicates and leaves the persisted table hash-partitioned by
the propagation key.

Per round: one Spark action, the eager ``localCheckpoint`` of the
round's label table. The fixpoint probe — the exact label sum — rides
on that action as ``DataFrame.observe(Observation, sum(...))`` instead
of a separate aggregate-and-collect per round. Under AQE the action's
broadcast and shuffle stages submit as their own jobs: 3 jobs per round
on a path graph in local mode.

Round 1 starts from identity labels, so it is the map-combinable
``least(node, min(e_dst))`` grouped by ``e_src`` over the partitioned
edge table: no init table, no join, and no exchange once the cached
edge stage is materialized. Rounds 2.. are one equi-join of the edge
table against the label table on vertex id plus one min-aggregation on
vertex id — both keyed on the same column, so a cluster reuses the
exchange; the edge table is persisted once and re-read every round.
The checkpoint truncates lineage every round: without it the iterated
plan doubles each round and Catalyst analysis itself becomes the
bottleneck. On a real cluster prefer
``spark.sparkContext.setCheckpointDir`` + ``checkpoint`` for fault
tolerance — localCheckpoint trades lineage-based recovery away, which
is the right trade in local mode only.

For adversarial topologies (million-hop chains) the round count makes
min-propagation a poor fit; the published fix is alternating
large-star/small-star contraction (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14), which converges in
O(log n) rounds with the same per-round join/agg shape. Dedup graphs
never look like that, so this module implements the simple variant and
documents the upgrade path.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark import StorageLevel
from pyspark.sql import DataFrame, Observation

from ..audit import record_plan


class ConvergenceError(RuntimeError):
    """Label propagation did not reach a fixpoint within max_iter."""


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    node_col: str = "node",
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    ledger_key: str = "concomp",
) -> DataFrame:
    """(node, component) with component = min node id in the component.

    ``nodes`` must hold every vertex (isolated vertices become singleton
    components); ``edges`` may be directed, duplicated, or self-looped —
    it is symmetrized and de-duplicated here. The edge-touched vertices
    come back as the final checkpointed label table; the singleton
    vertices are a LAZY anti-join of ``nodes`` against it, re-evaluated
    whenever the result is consumed — pass a cheap or pooled ``nodes``
    frame. ``max_iter`` counts rounds including round 1.

    Every plan this operator materializes — the symmetrized edge table
    (``.edges``), round 1 (``.init``) and the later rounds (``.round``)
    — is filed in the audit ledger under ``ledger_key`` (callers pass
    their query name): ``localCheckpoint`` truncates lineage to a Scan
    ExistingRDD, so without the ledger the shuffle audit would be blind
    to the EDGE GENERATOR's plan (the exact O(n²) pair scan in
    p_semantic_dedup was the proof case).
    """
    fwd = F.struct(F.col(src).alias("e_src"), F.col(dst).alias("e_dst"))
    rev = F.struct(F.col(dst).alias("e_src"), F.col(src).alias("e_dst"))
    sym = (
        edges.select(F.explode(F.array(fwd, rev)).alias("e"))
        .select("e.e_src", "e.e_dst")
        .filter(F.col("e_src") != F.col("e_dst"))
        # hash-partition by the propagation key, then distinct: the
        # distinct's clustering is satisfied by hash(e_src), so one
        # exchange both de-duplicates and partitions the persisted
        # table. Round 1 then aggregates by e_src without a shuffle, and
        # when a later round's join is shuffle-based (the corpus-scale
        # case, where the label table cannot broadcast) the EDGE side
        # joins shuffle-free every round.
        .repartition(F.col("e_src"))
        .distinct()
    )
    record_plan(f"{ledger_key}.edges", sym)
    sym = sym.persist(StorageLevel.MEMORY_AND_DISK)
    # Iterate ONLY the edge-touched vertices: a vertex with no edge is
    # its own component by definition and can never receive a message,
    # so it has no business riding through every round's join and
    # checkpoint. Dedup graphs are sparse, so the per-round label table
    # shrinks from |V| to |V(E)| rows. Singletons are attached once, at
    # the end, with a single anti-join — identical output rows.
    #
    # Round 1 from identity labels: every touched node takes the min of
    # itself and its neighbors, and by symmetry its neighbors are
    # exactly its e_dst values.
    step = sym.groupBy("e_src").agg(
        F.least(F.col("e_src"), F.min("e_dst")).alias("component")
    ).withColumnRenamed("e_src", "node")
    round_key = f"{ledger_key}.init"
    # The fixpoint probe: min() is monotone non-increasing per node, so
    # the label SUM strictly decreases until fixpoint and "sum
    # unchanged" ⇔ "no label got smaller". Sound because the iterated
    # node set is constant across rounds: msgs' dst values are sym's
    # e_dst, which by symmetry equal the touched set exactly. The sum
    # is decimal(38,0), exact at any scale (n·max_id ≤ 1e38). The None
    # sentinel never equals a non-empty sum, so the first real
    # comparison is round 2 vs round 1 (round 1 always lowers some
    # label); an edgeless graph sums to NULL and stops after round 1.
    prev_sum = None

    try:
        for _ in range(max_iter):
            probe = Observation()
            step = step.observe(
                probe,
                F.sum(F.col("component").cast("decimal(38,0)")).alias("s"),
            )
            # one ledger slot for round 1, one for the rest (same
            # shape every later round, first write wins)
            record_plan(round_key, step)
            labels = step.localCheckpoint(eager=True)
            new_sum = probe.get["s"]
            if new_sum == prev_sum:
                # singleton vertices (no edges) are their own component;
                # attached once here instead of iterated every round.
                # The anti-join keys on the FINAL checkpointed label
                # table, so the returned plan holds no lineage back
                # into the edge generator after sym unpersists.
                singles = (
                    nodes.select(F.col(node_col).alias("node"))
                    .join(labels.select("node"), "node", "left_anti")
                    .select("node", F.col("node").alias("component"))
                )
                return labels.unionByName(singles).withColumnRenamed(
                    "node", node_col
                )
            prev_sum = new_sum
            msgs = sym.join(labels, sym["e_src"] == labels["node"]).select(
                F.col("e_dst").alias("node"), F.col("component")
            )
            step = labels.unionByName(msgs).groupBy("node").agg(
                F.min("component").alias("component")
            )
            round_key = f"{ledger_key}.round"
    finally:
        sym.unpersist()
    raise ConvergenceError(
        f"connected_components: no fixpoint after {max_iter} rounds "
        "(graph diameter exceeds max_iter — raise it, or switch to "
        "large-star/small-star contraction)"
    )
