"""Plan-shape assertions for the pre-registration operator layer (the
test_plans.py discipline, applied before these operators ever reach the
registry): no accidental cartesian products, the single-scan contract
of the constraint audit, and the broadcast shapes the docstrings claim."""

from __future__ import annotations

import pyspark.sql.functions as F

from x8313_etl_spark.operators.constraints import Check, audit
from x8313_etl_spark.operators.setjoin import similarity_join
from x8313_etl_spark.operators.substrdedup import duplicated_spans


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def test_substr_dedup_has_no_cartesian_and_no_all_to_one(spark, sf_dir):
    plan = _plan(duplicated_spans(_docs(spark, sf_dir), 8))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the interval-merge window partitions by doc_id — never a global
    # single-partition sort
    assert "Exchange SinglePartition" not in plan


def test_setjoin_has_no_cartesian(spark, sf_dir):
    plan = _plan(similarity_join(_docs(spark, sf_dir), 1, 2, shingle_k=3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_constraint_audit_row_checks_share_one_scan(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    df = audit(
        o,
        [
            Check("nn", "not_null", "o_orderkey"),
            Check("uq", "unique", "o_orderkey"),
            Check("mn", "min", "o_totalprice", value=0.0),
            Check("st", "in_set", "o_orderstatus", values=("O", "F", "P")),
        ],
    )
    plan = _plan(df)
    assert plan.count("Scan parquet") == 1, plan
    # pruning: only the three checked columns are read
    schema = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "o_orderdate" not in schema and "o_custkey" not in schema


def test_constraint_audit_fk_prunes_to_key_columns(spark, sf_dir):
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    df = audit(o, [Check("fk", "ref", "o_custkey", ref_df=c, ref_col="c_custkey")])
    plan = _plan(df)
    assert "CartesianProduct" not in plan
    # column pruning reaches both scans: only the key columns are read
    for seg in plan.split("ReadSchema:")[1:]:
        line = seg.splitlines()[0]
        assert "acctbal" not in line and "o_totalprice" not in line, line


def test_kmeans_assignment_is_single_numpy_pass(spark, sf_dir):
    from x8313_etl_spark.operators.kmeans import lloyd_kmeans

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    from x8313_etl_spark.operators.kmeans import _assign, quantize_vectors

    assign, cents = lloyd_kmeans(e, k=4, rounds=1)
    # the returned assignment is MATERIALIZED (checkpoint truncates its
    # lineage — the r6 ADVICE cache-lifetime fix), so the plan shape is
    # asserted on the assignment pass rebuilt against the returned
    # centroids — the exact plan lloyd_kmeans ran internally
    assert "Scan ExistingRDD" in _plan(assign)
    plan = _plan(_assign(quantize_vectors(e), cents))
    # r13 rework: the k centroids ride in the task closure (bounded,
    # MLlib's collect-and-broadcast shape) and the assignment is ONE
    # Arrow-batched numpy pass over the vectors — no join of the vector
    # table of any kind, no N×k intermediate, no argmin exchange
    assert "MapInPandas" in plan, plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" not in plan, plan
    # vector scan prunes to the two used columns
    seg = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "label" not in seg, seg


def test_kmeans_update_is_map_side_combined(spark, sf_dir):
    from x8313_etl_spark.operators.kmeans import (
        _assign,
        _seed_centroids,
        _update,
        quantize_vectors,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    qv = quantize_vectors(e)
    cents = _seed_centroids(qv, 4).localCheckpoint(eager=True)
    upd = _update(qv, _assign(qv, cents), cents)
    plan = _plan(upd)
    # partial_sum before the (cid, idx) exchange: the shuffle carries
    # k x dim cells, not N x dim rows
    assert "partial_sum" in plan, plan
    assert "CartesianProduct" not in plan


def test_incremental_dedup_band_join_shapes(spark, sf_dir):
    from x8313_etl_spark.operators.increment import incremental_near_dups, sketch_index

    d = _docs(spark, sf_dir)
    out = incremental_near_dups(
        *sketch_index(d.filter(F.col("doc_id") % 5 != 0)),
        d.filter(F.col("doc_id") % 5 == 0),
    )
    plan = _plan(out)
    # batch x index is an equi-join on band keys; the hot-bucket guard
    # is a broadcast anti-join — never a cartesian or nested loop
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "BroadcastHashJoin" in plan, plan


def test_dim_comoment_is_single_scan_map_side_combined(spark, sf_dir):
    from x8313_etl_spark.operators.covariance import dim_comoment

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = _plan(dim_comoment(e, dim=64))
    # the pair expansion is IN-ROW: one pruned scan, zero joins, and a
    # partial+final aggregate pair so the shuffle carries only d^2
    # groups per task
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan
    assert plan.count("HashAggregate") == 2, plan
    seg = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "vec_id" not in seg and "label" not in seg, seg


def test_mmr_rounds_have_no_cartesian(spark):
    from x8313_etl_spark.operators.mmr import mmr_select

    cand = spark.createDataFrame(
        [(0, i, float(i)) for i in range(6)],
        "probe_id long, vec_id long, rel double",
    )
    ps = spark.createDataFrame(
        [(0, a, b, 0.1) for a in range(6) for b in range(6) if a != b],
        "probe_id long, a long, b long, sim double",
    )
    plan = _plan(mmr_select(cand, ps, k=3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
