"""Unit tests for the connected-components operator on crafted graphs
(the oracle test covers the registered p_dedup_clusters query; these
pin the operator's own contract: topology handling and the fixpoint
guarantee independent of the SimHash pipeline)."""

from __future__ import annotations

import pytest

from x8313_etl_spark import audit
from x8313_etl_spark.operators.concomp import ConvergenceError, connected_components


def _cc(spark, nodes, edges, **kw):
    n = spark.createDataFrame([(x,) for x in nodes], "node bigint")
    e = spark.createDataFrame(
        [(a, b) for a, b in edges] or [(None, None)], "src bigint, dst bigint"
    )
    if not edges:
        e = e.filter("src IS NOT NULL")
    out = connected_components(n, e, **kw)
    return {r.node: r.component for r in out.collect()}


def test_chain_cycle_singleton(spark):
    """A 4-chain, a 3-cycle (given directed, with a duplicate edge and a
    self-loop), and two isolated vertices — all labeled by component
    minimum."""
    got = _cc(
        spark,
        nodes=range(10),
        edges=[(3, 2), (2, 1), (1, 0), (5, 6), (6, 7), (7, 5), (7, 5), (8, 8)],
    )
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 5, 6: 5, 7: 5, 8: 8, 9: 9}


def test_no_edges_all_singletons(spark):
    assert _cc(spark, nodes=[7, 9, 11], edges=[]) == {7: 7, 9: 9, 11: 11}


def test_diameter_exceeds_max_iter_raises(spark):
    """A 30-hop chain cannot converge in 3 rounds — the operator must
    fail loudly, not return a half-propagated labeling."""
    with pytest.raises(ConvergenceError):
        _cc(
            spark,
            nodes=range(31),
            edges=[(i, i + 1) for i in range(30)],
            max_iter=3,
        )


def test_edge_generator_is_scanned_once(spark):
    """The symmetrized edge table reads its generator ONCE: an edge frame
    built from a nested-loop join must show one BroadcastNestedLoopJoin
    in the ``.edges`` ledger entry. A union of the two directions would
    reference the generator twice and count 2."""
    key = "test_concomp_bnlj"
    for suffix in (".edges", ".init", ".round"):
        audit.forget(key + suffix)
    a = spark.createDataFrame([(i,) for i in range(6)], "x bigint")
    b = spark.createDataFrame([(i,) for i in range(6)], "y bigint")
    # x < y AND y <= x + 1 over a broadcast side: a non-equi predicate,
    # so a BroadcastNestedLoopJoin producing the path 0-1-...-5
    e = a.join(b.hint("broadcast"), (a.x < b.y) & (b.y <= a.x + 1)).select(
        a.x.alias("src"), b.y.alias("dst")
    )
    n = spark.createDataFrame([(i,) for i in range(6)], "node bigint")
    try:
        got = {
            r.node: r.component
            for r in connected_components(n, e, ledger_key=key).collect()
        }
        assert got == {i: 0 for i in range(6)}
        assert audit.ledger()[key + ".edges"].get("BroadcastNestedLoopJoin") == 1
    finally:
        for suffix in (".edges", ".init", ".round"):
            audit.forget(key + suffix)


def test_max_iter_counts_round_one(spark):
    """A 4-vertex path with its minimum at one end needs 3 label-lowering
    rounds plus 1 round that observes the fixpoint: max_iter=4 converges,
    max_iter=3 raises. Round 1 counts toward max_iter however it is
    computed."""
    path = [(0, 1), (1, 2), (2, 3)]
    assert _cc(spark, nodes=range(4), edges=path, max_iter=4) == {
        0: 0, 1: 0, 2: 0, 3: 0,
    }
    with pytest.raises(ConvergenceError):
        _cc(spark, nodes=range(4), edges=path, max_iter=3)
