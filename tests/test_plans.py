"""Plan-shape assertions (SURVEY.md §4): the physical plans must keep
the scale-critical properties — pushdown, pruning, broadcast, window
group limits, map-only pipelines — not just produce correct rows."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from x8313_etl_spark.io import load_table
from x8313_etl_spark.registry import registry

_SPECS = registry()


def _plan(spark, name: str, sf_dir: str) -> str:
    return _SPECS[name].fn(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    """l7's lang/n_chars predicates must reach the parquet reader."""
    plan = _plan(spark, "l7_quality_filter", sf_dir)
    assert "PushedFilters:" in plan
    pushed = plan.split("PushedFilters:", 1)[1].splitlines()[0]
    assert "lang" in pushed and "n_chars" in pushed, pushed


def test_column_pruning(spark, sf_dir):
    """A two-column projection must not read the other lineitem columns."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    plan = li._jdf.queryExecution().executedPlan().toString()
    schema = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "l_orderkey" in schema and "l_quantity" in schema
    assert "l_extendedprice" not in schema and "l_comment" not in schema


def test_star_join_broadcasts_dims(spark, sf_dir):
    """j3: the nation/region dims must broadcast — a shuffled fact-table
    join on a 5-row dim would be the 100 TB disaster case."""
    plan = _plan(spark, "j3_broadcast_star_join", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_topk_per_group_uses_window_group_limit(spark, sf_dir):
    """w7: rank<=k filters must push a partial top-k below the shuffle."""
    plan = _plan(spark, "w7_topk_per_group", sf_dir)
    assert "WindowGroupLimit" in plan


def test_global_topk_avoids_total_sort(spark, sf_dir):
    """o3: ORDER BY + LIMIT must plan as TakeOrderedAndProject (per-
    partition heap + merge), never a full sort."""
    plan = _plan(spark, "o3_global_topk", sf_dir)
    assert "TakeOrderedAndProject" in plan


@pytest.mark.parametrize(
    "name",
    [
        "p_fingerprint",
        "p_simhash",
        "p_lang_id",
        "p_quality_score",
        "p_token_count",
        "p_hash_split",
        "p_chunk_text",
        "p_repetition_filter",
        "p_quantize_embeddings",
    ],
)
def test_pipeline_text_ops_are_map_only(spark, sf_dir, name):
    """Per-document text ops must not shuffle — at 100 TB an accidental
    Exchange here dominates everything else."""
    plan = _plan(spark, name, sf_dir)
    assert "Exchange" not in plan, f"{name} shuffles:\n{plan[:800]}"


def test_broadcast_in_similarity_probe(spark, sf_dir):
    """l3: the probe set must broadcast (map-only corpus pass)."""
    plan = _plan(spark, "l3_cosine_pairs", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_agg_has_partial_stage(spark, sf_dir):
    """a1: hash aggregate must run partial (map-side) + final — the
    shuffle carries one row per (partition, key), not per input row."""
    df = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("HashAggregate") >= 2  # partial + final


def test_partitioned_write_enables_partition_pruning(spark, sf_dir, tmp_path):
    """S5→scan: a filter on the partition column must prune directories
    (PartitionFilters), not scan-and-discard."""
    from x8313_etl_spark.io import write_parquet_partitioned

    out = str(tmp_path / "orders_by_status")
    o = load_table(spark, sf_dir, "orders")
    write_parquet_partitioned(o, out, "o_orderstatus")
    back = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F")
    plan = back._jdf.queryExecution().executedPlan().toString()
    seg = plan.split("PartitionFilters:", 1)
    assert len(seg) == 2, plan[:600]
    assert "o_orderstatus" in seg[1].splitlines()[0]
    # and the data filter did NOT become a post-scan filter on all rows
    n_f = back.count()
    n_all = spark.read.parquet(out).count()
    assert 0 < n_f < n_all


def test_bucketed_join_needs_no_exchange(spark, sf_dir):
    """s9: after bucketBy(8, custkey) writes, a forced SortMergeJoin of
    the two bucketed tables must read co-located buckets with ZERO
    shuffle exchanges (at tiny SF, AQE rightly prefers broadcast — the
    merge hint pins the strategy whose scale property we care about)."""
    _SPECS["s9_bucketed_join"].fn(spark, sf_dir)  # writes + registers tables
    tag = sf_dir.rstrip("/").split("/")[-1].replace(".", "_")
    j = (
        spark.table(f"x8313_orders_b_{tag}")
        .hint("merge")
        .join(
            spark.table(f"x8313_customer_b_{tag}"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
    )
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan, plan[:800]
    assert "Exchange" not in plan, f"bucketed join shuffled:\n{plan[:1200]}"
    assert plan.count("Bucketed: true") == 2, plan[:1200]


def test_dynamic_partition_pruning(spark, sf_dir, tmp_path):
    """A partition-column join against a filtered dim must plan a
    dynamicpruning subquery on the fact scan's PartitionFilters — at
    100 TB this is what keeps a fact/dim join from reading every
    partition (DPP is on by default; this pins that our partitioned
    layout actually triggers it)."""
    ev = load_table(spark, sf_dir, "events")
    path = str(tmp_path / "ev_by_type")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("click", 1.0), ("view", 2.0), ("purchase", 3.0), ("error", 4.0), ("signup", 5.0)],
        "event_type string, weight double",
    ).filter(F.col("weight") < 2.5)
    j = fact.join(dim, "event_type").groupBy("event_type").count()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan, f"no DPP subquery:\n{plan[:1500]}"


def _hash_exchanges(plan: str) -> int:
    return sum(1 for l in plan.splitlines() if "Exchange hashpartitioning" in l)


def test_merge_upsert_broadcasts_changes(spark, sf_dir):
    """m1: the CDC change set must broadcast onto the base — a
    sort-merge join here would shuffle the full base table for a <1%
    change batch."""
    plan = _plan(spark, "m1_merge_upsert", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_histogram_single_constant_size_shuffle(spark, sf_dir):
    """a15: the histogram must be one map-side-combined agg — a single
    hash exchange whose payload is at most n_buckets rows per task."""
    plan = _plan(spark, "a15_histogram", sf_dir)
    assert _hash_exchanges(plan) == 1, plan


def test_gap_fill_plan_shape(spark, sf_dir):
    """ts_gap_fill: two keyed shuffles (hourly agg, per-key bounds) and
    a broadcast grid join; the forward-fill window must reuse the
    existing partitioning rather than add a third exchange."""
    plan = _plan(spark, "ts_gap_fill", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert _hash_exchanges(plan) == 2, plan


def test_inverted_index_single_shuffle(spark, sf_dir):
    """p_inverted_index: dedup rides the collect_set aggregation —
    exactly one (term, block)-keyed exchange, no standalone distinct."""
    plan = _plan(spark, "p_inverted_index", sf_dir)
    assert _hash_exchanges(plan) == 1, plan


def test_dq_profile_no_key_shuffle(spark, sf_dir):
    """dq_profile: column checks are global conditional aggs and the RI
    check is a broadcast anti-join — the only hash exchange allowed is
    the count-distinct expand; the fact table itself must never shuffle
    on a key for a profile pass."""
    plan = _plan(spark, "dq_profile", sf_dir)
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    assert _hash_exchanges(plan) <= 1, plan


def test_zorder_values_map_only_plus_scalar(spark, sf_dir):
    """s12: z-value computation is a projection; the only plan extras
    are the crossed-in scalar max (single-partition agg + broadcast),
    never a keyed shuffle of orders."""
    plan = _plan(spark, "s12_zorder_layout", sf_dir)
    assert _hash_exchanges(plan) == 0, plan


def test_a18_bitmap_shuffles_bitmaps_not_ids(spark, sf_dir):
    """a18: the merge stage must carry ObjectHashAggregate partials
    (fixed-size bitmaps) with map-side partial aggregation — the whole
    point vs a3's raw-value shuffle."""
    plan = _plan(spark, "a18_bitmap_distinct", sf_dir)
    # map-side partials for BOTH levels: construct before the first
    # shuffle, or-merge before the second — so every exchange carries
    # fixed-size bitmaps, never raw ids
    assert "partial_bitmap_construct_agg" in plan
    assert "partial_bitmap_or_agg" in plan
    # column pruning: only the three needed columns reach the scan
    schema = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "o_totalprice" not in schema and "o_comment" not in schema


def test_a19_topk_single_sketch_row(spark, sf_dir):
    """a19: global sketch agg must plan one partial-per-task → single
    final row (SinglePartition exchange), never a raw-value shuffle."""
    plan = _plan(spark, "a19_approx_top_k", sf_dir)
    assert "SinglePartition" in plan
    assert "approx_top_k" in plan


def test_t11_session_window_single_shuffle(spark, sf_dir):
    """t11: native session windows = ONE hashpartitioning exchange on
    user_id; a gaps-and-islands self-join shape would show >=2."""
    plan = _plan(spark, "t11_session_window", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_a11b_unpivot_is_map_only_expand(spark, sf_dir):
    """a11b: unpivot must plan ONE scan + Expand, not a 3-way
    self-union (3 scans) and not a shuffle."""
    plan = _plan(spark, "a11b_unpivot", sf_dir)
    assert "Expand" in plan
    assert "Exchange" not in plan
    assert plan.count("FileScan") == 1


def test_runtime_bloom_filter_join_pruning(spark, sf_dir):
    """100 TB posture: when a selective dim filter sits across a shuffle
    join, Spark can inject a bloom filter built from the dim side into
    the fact scan (row-level runtime filtering) — the shuffle then
    carries only probable matches. Thresholds are tuned for fixture
    sizes; on a real cluster the defaults (10 GB scan-side) gate it."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, sf_dir, "lineitem")
        j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan and "might_contain" in plan
        # the probe must reach the fact side's scan stage, below the join
        assert plan.index("might_contain") > plan.index("SortMergeJoin")
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_j13_plans_null_aware_broadcast_anti(spark, sf_dir):
    """j13: NOT IN must compile to the null-aware broadcast anti join
    (the trailing `true` is BroadcastHashJoin's isNullAware flag) —
    a plain LeftAnti would silently change NULL semantics."""
    plan = _plan(spark, "j13_null_aware_anti_join", sf_dir)
    assert "LeftAnti, BuildRight, true" in plan, plan


def test_decontaminate_broadcasts_benchmark(spark, sf_dir):
    """p_decontaminate: the benchmark shingle set is fixed-size, so the
    corpus-side probe must be a broadcast hash join — a sort-merge there
    would shuffle every corpus shingle at 100 TB."""
    plan = _plan(spark, "p_decontaminate", sf_dir)
    probe = [l for l in plan.splitlines() if "BroadcastHashJoin" in l]
    # the gram probe need not be the TOPMOST broadcast join — the r10
    # rewrite's doc_id-only join back to the scan may also broadcast —
    # but it must BE a broadcast somewhere
    assert probe and any("gram" in line for line in probe), plan
    # the only permissible shuffle joins are on doc_id (the final
    # hit-count attach) — never on the exploded gram column
    for line in plan.splitlines():
        if "SortMergeJoin" in line:
            assert "gram" not in line, line


def test_f16_url_parse_map_only(spark, sf_dir):
    """f16: parse_url extraction pipelines into the scan — no exchange."""
    plan = _plan(spark, "f16_url_parse", sf_dir)
    assert "Exchange" not in plan, plan


def test_sequence_pack_single_window_shuffle(spark, sf_dir):
    """p_sequence_pack: exactly ONE hash exchange (the per-source
    prefix-sum window); the window→segment fan-out must be a map-only
    Generate above it — a second shuffle would mean the explode
    repartitioned what the window already co-located."""
    plan = _plan(spark, "p_sequence_pack", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Generate explode" in plan


def test_bm25_tf_table_is_map_only_kernel(spark, sf_dir):
    """p_bm25_topk: the pruned (doc, term) tf table is ONE map-only
    Arrow pass with the bounded query-term set in the task closure
    (r14) — no corpus-wide token explode, no semi join, no
    (doc_id, term) tf-aggregate exchange. If a LeftSemi or a
    corpus-token Generate reappeared, the whole corpus tf table would
    be back in the shuffle at 100 TB (the shape the r13 semi-prune test
    guarded; this pins its successor)."""
    plan = _plan(spark, "p_bm25_topk", sf_dir)
    assert "MapInPandas" in plan, plan
    assert "LeftSemi" not in plan, plan
    # the only Generate explode allowed is the PRUNED query-doc branch
    # (doc_id < N pushed to the scan); the corpus branch must not fan
    # out token rows in the JVM
    gen = [l for l in plan.splitlines() if "Generate explode" in l]
    assert len(gen) <= 1, plan


def test_m2_time_travel_reads_are_plain_scans(spark, sf_dir):
    """m2: both snapshot reads must be ordinary vectorized parquet scans
    (the manifest resolves on the driver, never in the plan) joined by
    one key shuffle each. v0 is one plain scan; v1, after the
    merge-on-read MERGE, is its data scan plus its DV scan under one
    broadcast anti-join — the only overhead time travel adds."""
    plan = _plan(spark, "m2_time_travel", sf_dir)
    assert plan.count("FileScan parquet") == 3, plan
    assert plan.count("LeftAnti") == 1, plan
    anti = next(ln for ln in plan.splitlines() if "LeftAnti" in ln)
    assert "BroadcastHashJoin" in anti, plan
    assert "SortMergeJoin" in plan  # full-outer on the key


def test_h5_star_join_broadcasts_bounded_dims(spark, sf_dir):
    """h5: nation and region (bounded at 25/5 rows at ANY scale factor)
    must broadcast; only fact-side joins may ever plan a shuffle. A
    SortMergeJoin on a 5-row dim is the 100 TB red flag."""
    plan = _plan(spark, "h5_local_supplier_volume", sf_dir)
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "CartesianProduct" not in plan


def test_h18_semi_join_and_bounded_topk(spark, sf_dir):
    """h18: the HAVING-subquery must plan as a LeftSemi (never a full
    inner join + distinct), and the top-100 must be
    TakeOrderedAndProject (per-partition heap), never a global sort —
    the difference between O(k) and O(n log n) driver memory at scale."""
    plan = _plan(spark, "h18_large_volume_customer", sf_dir)
    assert "LeftSemi" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_h6_predicates_reach_the_scan(spark, sf_dir):
    """h6: the date/discount/quantity envelope must be pushed into the
    parquet reader — at 100 TB this query is a scan, nothing else."""
    plan = _plan(spark, "h6_forecast_revenue", sf_dir)
    assert "PushedFilters:" in plan
    pushed = plan.split("PushedFilters:", 1)[1].splitlines()[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed, pushed


def test_o4_rank_has_no_all_to_one_exchange(spark, sf_dir):
    """o4's first draft ranked with an unpartitioned window — an
    Exchange SinglePartition over every fact row. The two-phase rank
    must keep all-to-one exchanges out of the fact path; the only
    permissible SinglePartition input is the bounded per-partition
    count table (≤ partition-count rows)."""
    import re

    from x8313_etl_spark.io import load_table
    from x8313_etl_spark.session import default_parallelism

    import pyspark.sql.functions as F
    from pyspark.sql import Window

    # reproduce the rank stage (the registered query's write makes its
    # own executed plan awkward to introspect post-hoc)
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    r = o.repartitionByRange(32, "o_totalprice", "o_orderkey").withColumn(
        "pid", F.spark_partition_id()
    )
    wloc = Window.partitionBy("pid").orderBy("o_totalprice", "o_orderkey")
    ranked = r.withColumn("lrn", F.row_number().over(wloc) - 1)
    plan = ranked._jdf.queryExecution().executedPlan().toString()
    assert "Exchange rangepartitioning" in plan
    assert "Exchange SinglePartition" not in plan, plan


def test_w8_sessionize_single_exchange(spark, sf_dir):
    """The sessionize helper's lag gap-test and running sum share one
    window spec, and the per-session rollup groups on a SUPERSET of the
    window's partition key — user_id partitioning already co-locates
    every (user_id, session_seq) group, so Catalyst must plan exactly
    ONE hash exchange for the whole query (the property
    operators/sessionize.py documents)."""
    plan = _plan(spark, "w8_sessionize", sf_dir)
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_j19_scd2_lookup_joins_on_the_equi_key(spark, sf_dir):
    """j19: the fact x dimension join must be keyed on user_id (a hash
    or sort-merge EQUI join carrying the interval predicates as join
    filters) — a nested-loop over the fact table would be the 100 TB
    disaster the docstring rules out."""
    plan = _plan(spark, "j19_scd2_lookup", sf_dir)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan), plan


def test_j18_asof_nearest_has_no_join_fanout(spark, sf_dir):
    """j18: both asof passes are union+window — the only joins in the
    plan are the purchase-keyed equi assembly of the two passes; no
    nested-loop/cartesian pair generator anywhere."""
    plan = _plan(spark, "j18_asof_nearest", sf_dir)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_x14_scalar_iter_is_arrow_batched(spark, sf_dir):
    """x14: the SCALAR_ITER pandas UDF must compile to ArrowEvalPython
    (vectorized Arrow transfer), not BatchEvalPython (row-at-a-time
    pickling) — the entire point of the iterator variant."""
    plan = _plan(spark, "x14_scalar_iter_udf", sf_dir)
    assert "ArrowEvalPython" in plan, plan
    assert "BatchEvalPython" not in plan, plan
