"""Maximal Marginal Relevance (MMR) diversity re-ranking.

The standard retrieval post-processor (Carbonell & Goldstein 1998,
public): given per-query candidates with relevance scores, greedily
select k results, each round picking the candidate that maximizes
``λ·rel − (1−λ)·max_sim_to_already_selected`` — relevant results that
are not near-duplicates of what the list already shows. This is the
step between a top-N retrieval (BM25 / ANN / re-rank) and the result
page or the RAG context window.

Spark shape: MMR is inherently sequential in k, so this runs as a
FIXED-k unrolled loop of bounded DataFrame rounds (the house
fixed-round discipline — kmeans/BPE/SSSP): each round is one
anti-join (drop selected), one bounded aggregate (max similarity to
the selected set, at most k-1 rows per candidate), and one
WindowGroupLimit pick. All tables are O(queries × N) with N the
candidate budget — the quadratic pair-similarity table is
O(queries × N²) but N is a constant (the re-rank window, 10–100), so
at 100 TB the cost scales linearly with the query stream and never
touches the corpus after candidate generation.

Determinism: selection compares ``rel − maxsim`` (the λ=½ margin;
callers wanting another λ pass pre-scaled columns). Both inputs are
required to be cross-engine-exact doubles (the functions/vector fold
discipline), so subtraction and comparison are IEEE-exact on both
engines; ties break on candidate id.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def mmr_select(
    cand: DataFrame,
    pairsim: DataFrame,
    k: int,
    ledger_key: str = "mmr",
) -> DataFrame:
    """Greedy MMR over per-group candidates.

    ``cand``: (probe_id, vec_id, rel). ``pairsim``: (probe_id, a, b,
    sim) with a row for EVERY ordered pair of distinct candidates in
    the group (symmetric input; only a→b with b selected is consulted).
    Returns (probe_id, sel_rank 1..k, vec_id, rel, score) where round
    1's score is ``rel`` and later rounds' is ``rel − max(sim to
    selected)``. Groups with fewer than k candidates return all of
    them in MMR order.

    Each round checkpoints the selection set through
    ``audited_checkpoint`` under ``ledger_key`` + ``.round`` — the
    kmeans per-round discipline. Without it the unrolled loop
    references ``out`` three times per round (anti-join, maxsim join,
    union), so the logical plan grows ~3^k and every round re-executes
    the whole prior selection chain — fatal for the documented k≈100
    re-rank windows.
    """
    from ..audit import audited_checkpoint

    key = f"{ledger_key}.round"
    w1 = Window.partitionBy("probe_id").orderBy(
        F.col("rel").desc(), F.col("vec_id")
    )
    sel = (
        cand.withColumn("rn", F.row_number().over(w1))
        .filter(F.col("rn") == 1)
        .select(
            "probe_id",
            "vec_id",
            "rel",
            F.col("rel").alias("score"),
            F.lit(1).alias("sel_rank"),
        )
    )
    out = audited_checkpoint(key, sel)
    for r in range(2, k + 1):
        rem = cand.join(
            out.select("probe_id", "vec_id"), ["probe_id", "vec_id"], "left_anti"
        )
        mx = (
            pairsim.join(
                out.select("probe_id", F.col("vec_id").alias("b")),
                ["probe_id", "b"],
            )
            .groupBy("probe_id", F.col("a").alias("vec_id"))
            .agg(F.max("sim").alias("maxsim"))
        )
        wr = Window.partitionBy("probe_id").orderBy(
            F.col("score").desc(), F.col("vec_id")
        )
        pick = (
            rem.join(mx, ["probe_id", "vec_id"])
            .withColumn("score", F.col("rel") - F.col("maxsim"))
            .withColumn("rn", F.row_number().over(wr))
            .filter(F.col("rn") == 1)
            .select(
                "probe_id", "vec_id", "rel", "score", F.lit(r).alias("sel_rank")
            )
        )
        out = audited_checkpoint(key, out.unionByName(pick))
    return out.select("probe_id", "sel_rank", "vec_id", "rel", "score")
