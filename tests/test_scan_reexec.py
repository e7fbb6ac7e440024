"""Standing gate: no registered query may TRULY re-execute a table scan
3+ times per invocation unless adjudicated.

Round 10 measured (scripts/scan_triage.py) that Spark re-executes any
DataFrame referenced by several plan branches unless something
materializes it — ReusedExchange never fires across these shapes — and
fixed every offender worth fixing (pool/checkpoint the many-consumer
bounded intermediate, or explode instead of self-union). This test
turns that triage into a regression gate: it strips cached
(InMemoryRelation) subtrees from every registered query's executed
plan (the shared cold sweep, tests/conftest.py::cold_plans), counts the
LIVE FileScans per source table, and fails on any query scanning one
table 3+ times that is not in the adjudicated allowlist below.

The 2x tier is NOT gated: two live scans are usually the semantics
(self-joins, set operations, both sides of an interval/asof join,
fetch-text-after-ranking late materialization) and gating them would
churn correct plans. 3+ is where the r10 sweep found only either real
bugs or explicitly-argued designs.
"""

from __future__ import annotations

import os
import re
from collections import Counter

from x8313_etl_spark.audit import strip_cached

#: query -> why 3+ live scans of one table is the RIGHT plan at scale.
#: Every entry was adjudicated in the r10 triage (ROADMAP.md scan-sweep
#: section); new entries need the same written argument, not a bump.
ALLOWED_REEXEC = {
    # 8 scans: six pruned seed/codebook scans (four vec_id<16, two
    # [16,32)) around the two genuine corpus passes (encode + probe);
    # caching 16-row reads would cost more than the scans
    "sim_ivfpq_topk": "embeddings",
    # 3 scans: the stage-1 PQ pass over the corpus, then the stage-2
    # exact rerank re-reads (vec_id, embedding) once for the probes and
    # once for their capped candidate set
    "sim_rerank_two_stage": "embeddings",
    # queries slice (doc_id<10) + one corpus tokenize + late text fetch
    # by doc_id after ranking — carrying text through the shuffles is
    # worse than a second pruned scan
    "p_rag_context_pack": "documents",
    # fixture-artifact: the CDC delta/change set derives from the base
    # table by row-local predicates; in production it is an external
    # delta-sized table and these collapse to one base scan each
    # (3, 4 and 3 scans)
    "m1_merge_upsert": "customer",
    "m3_incremental_refresh": "customer",
    "m11_incremental_view_maintenance": "lineitem",
    # 3 scans: one pass for every single-column check, the FK check's
    # o_custkey-only anti-join scan and a column-free row count;
    # caching the fact table to save two narrow scans is the wrong trade
    "dq3_constraint_audit": "orders",
    # deliberately row-level / brute-force baseline instruments
    "l10_knn_classify": "embeddings",
    # interned-name ER: the re-executed branches are narrow
    # (partkey, name) scans + a substr map; the distinct/groupBy
    # aggregations execute once — caching a full column of the fact
    # table to save a pruned re-scan is the wrong trade (3 scans)
    "p_er_blocked_match": "part",
    # 5 scans, each of one or two columns: the match's (partkey, name)
    # scan, two key-only scans, and the (size, retailprice) and brand
    # scans the survivorship aggregates join back by p_partkey
    "p_er_golden_record": "part",
    # bench-slice tokenize + one corpus tokenize + doc_id-only join
    # back for zero-gram docs (reads no text)
    "p_decontaminate": "documents",
    "p_contamination_overlap_score": "documents",
    # genuine two-pass algorithm: vocabulary train pass + encode pass,
    # plus a doc_id-only companion scan
    "p_unigram_encode": "documents",
    # two union+window asof passes over events per side — the no-join
    # asof construction; scans are narrow and the sweep measured it
    # sub-linear at 10x
    "j18_asof_nearest": "events",
}


def _live_scans(plan: str, sf_dir: str) -> Counter:
    """Live FileScan count per fixture table once cached subtrees are
    stripped."""
    tag = re.escape(os.path.basename(sf_dir.rstrip("/")))
    return Counter(re.findall(rf"{tag}/(\w+)\.parquet", strip_cached(plan)))


def test_no_unadjudicated_true_reexecution(cold_plans, sf_dir):
    offenders = {}
    for name, plan in cold_plans[0].items():
        if isinstance(plan, Exception):
            offenders[name] = repr(plan)
            continue
        bad = {
            t: k
            for t, k in _live_scans(plan, sf_dir).items()
            if k >= 3 and ALLOWED_REEXEC.get(name) != t
        }
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "TRUE re-execution (3+ live scans of one table, not in "
        f"ALLOWED_REEXEC) or a build that raised: {offenders} — "
        "pool/checkpoint the many-consumer intermediate or explode "
        "instead of self-union (ROADMAP.md scan-sweep section), or "
        "adjudicate with a written argument."
    )


def test_allowlist_entries_still_reexecute(cold_plans, sf_dir):
    """Keep ALLOWED_REEXEC honest: drop entries whose queries no longer
    re-scan 3+ times (a stale allowlist would mask a future regression
    on a since-fixed query). A name the sweep did not build counts 0."""
    stale = []
    for name, table in ALLOWED_REEXEC.items():
        plan = cold_plans[0].get(name, "")
        if isinstance(plan, Exception):
            stale.append((name, table, repr(plan)))
            continue
        n = _live_scans(plan, sf_dir)[table]
        if n < 3:
            stale.append((name, table, n))
    assert not stale, f"stale ALLOWED_REEXEC entries (live count < 3): {stale}"
