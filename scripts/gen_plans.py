"""Regenerate PLANS.md — physical-plan audit of every bench-set query.

For each query in the bench set, builds the DataFrame at the given
sf_dir from a cold cache (x8313_etl_spark/audit.py's cold_plans sweep;
plan-only, nothing executes) and summarizes the scale-critical
plan features: shuffle exchanges, broadcast joins/exchanges, sort-merge
joins, WindowGroupLimit partial top-k, whole-stage-codegen span count,
and whether the parquet scan carries pushed filters. This is the
"is it the plan you'd want at 100 TB" check as a standing artifact —
regenerate after plan-affecting changes and diff.

Usage: python scripts/gen_plans.py [sf_dir] (default /root/testdata/sf0.01)
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from x8313_etl_spark.audit import cold_plans
    from x8313_etl_spark.registry import bench_queries
    from x8313_etl_spark.session import get_spark

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    lines = [
        "# Physical-plan audit (bench set)",
        "",
        "Auto-generated by `scripts/gen_plans.py` — plan-only build at "
        f"`{sf_dir}` on the repo session (AQE on, 32 shuffle partitions); "
        "columns count physical-plan nodes. Streaming queries are plan-"
        "audited on their BATCH twin shape where the streaming runner owns "
        "execution. `pushed` = parquet scan carries PushedFilters. "
        "(WholeStageCodegen spans only materialize in executed AQE plans, "
        "so they are asserted by tests, not counted here.)",
        "",
        "| query | shuffles | all-to-one | broadcasts | SMJ | WindowGroupLimit | pushed |",
        "|---|---|---|---|---|---|---|",
    ]
    bench = bench_queries()
    plans = dict(cold_plans(spark, sf_dir, names=bench, skip=("streaming",)))
    for name in sorted(bench):
        if name not in plans:
            lines.append(
                f"| {name} | — | — | — | — | — | — (streaming runner owns execution; "
                "state-partition policy in streaming.py) |"
            )
            continue
        plan = plans[name]
        if isinstance(plan, Exception):
            raise plan
        # count EVERY exchange flavor — hash, range, round-robin, AND
        # SinglePartition: an exchange the audit can't see is exactly
        # the failure mode this table exists to prevent (a repartition()
        # plans as RoundRobinPartitioning, not hashpartitioning)
        n_ex = len(
            re.findall(
                r"Exchange (?:hashpartitioning|rangepartitioning|RoundRobinPartitioning)",
                plan,
            )
        )
        n_single = len(re.findall(r"Exchange SinglePartition", plan))
        n_bc = len(re.findall(r"BroadcastExchange|BroadcastHashJoin", plan))
        n_smj = len(re.findall(r"SortMergeJoin", plan))
        n_wgl = len(re.findall(r"WindowGroupLimit", plan))
        pushed = "yes" if re.search(r"PushedFilters: \[[^\]]", plan) else "none"
        single = str(n_single) if n_single else ""
        lines.append(
            f"| {name} | {n_ex} | {single} | {n_bc} | {n_smj} | {n_wgl} | {pushed} |"
        )
    lines += [
        "",
        "10× spot-checks for the round-4 operators (50k docs / 150k keys, "
        "local[32]): p_sequence_pack 0.20 s → 1.5 s (the prefix-sum window "
        "and the explode both scale with rows; no new shuffle appears), "
        "SnapshotTable commit 1.16 s and apply_cdc MERGE 1.54 s at 150k "
        "keys (measured on the copy-on-write MERGE: one full-outer key "
        "shuffle plus a full rewrite). The merge-on-read MERGE — a "
        "semi-join of the change keys against the scan, writing one "
        "deletion vector and the upserted rows — takes 0.90 / 0.76 s warm "
        "against the copy-on-write form's 0.79 / 0.74 s at 150k keys and a "
        "1% change set (4-core VM, local[4]), and leaves the table at "
        "2.25 MB on disk against 4.21 MB. p_bm25_topk 24 s cold / 6.3 s "
        "warm (see PERF.md).",
        "",
        "10× spot-check for the TPC-H suite (6M-row lineitem / 1.5M-row "
        "orders replica — sf0.1 copied 10× with shifted order keys — "
        "local[32], median of 3): h5 0.46→0.77 s, h18 0.87→2.29 s, "
        "h8 0.88 s, h3 0.70 s. Sub-linear growth on 10× data (the fixed "
        "plan/scheduling floor still dominates h5/h3/h8; h18's 2.6× tracks "
        "its two lineitem aggregates, both partial-agg'd map-side) — no "
        "scale cliff, no plan flip to SMJ-on-dim or cartesian.",
        "",
        "10× spot-checks for the round-4 pipeline additions (50k-doc / "
        "20k-vector replica, local[32]): p_feature_hash 11.4 s (1.02M "
        "sparse features — explode+count shuffle scales with tokens), "
        "p_bigram_lm 2.6 s, ts_interpolate 1.0 s (fixed grid), "
        "p_semantic_dedup 134.8 s — the documented O(n²) exact-graph "
        "baseline. Two fixes landed from this measurement: the "
        "broadcast-nested-loop probe side is round-robin repartitioned "
        "(the single-file scan gave it 2 partitions — 16× at 20k "
        "vectors: >570 s timeout → 107 s for the raw pair scan), and the "
        "pair table was pooled because concomp's symmetrizing union "
        "referenced the probe twice (218 s → 135 s); concomp now "
        "explodes its edges once into a table it persists itself, so "
        "that pool entry is gone. "
        "At real scale the pair generator swaps to the IVF/LSH-bucketed "
        "candidates per the docstring; cluster/keep stages are unchanged. "
        "o4_global_sorted_write at 10× (1.5M orders): 1.5 s with the "
        "two-phase rank — the range exchange and per-partition windows "
        "scale with the data while the offset table stays at "
        "partition-count rows.",
        "",
        "Reading guide for `all-to-one`: an Exchange SinglePartition over "
        "FACT rows is the 100 TB red flag (o4's first draft had exactly "
        "that — an unpartitioned row_number window — and was rewritten "
        "two-phase); the entries shown here (l6_tfidf, p_bm25_topk) are "
        "the FINAL stage of a single-row scalar aggregate (corpus doc "
        "count / avg doc length) — one row per partial crosses the wire, "
        "benign by construction. The column exists so the fact-row case "
        "can never again hide as 'shuffles: 0'.",
        "",
        "Reading guide: a small-dim join showing SMJ>0 with broadcasts=0 "
        "would be a red flag (none do); shuffle counts are inherent to the "
        "operator shape (each groupBy/window/non-broadcast join is one) — "
        "the per-query rationale docstrings in x8313_etl_spark/queries/ "
        "justify every exchange; tests/test_plans.py asserts the critical "
        "shapes (pushdown, pruning, broadcast, WindowGroupLimit, map-only "
        "pipelines, bucketed no-exchange joins) so regressions fail pytest "
        "rather than only showing up here.",
    ]
    with open(os.path.join(ROOT, "PLANS.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    spark.stop()
    print(f"wrote PLANS.md: {len(bench)} queries")


if __name__ == "__main__":
    main()
