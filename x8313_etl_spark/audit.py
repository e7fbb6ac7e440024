"""Plan-audit core: the red-flag scan definition + the materialization
ledger that closes the persist/checkpoint blind spot.

The repo-wide shuffle audit (tests/test_shuffle_audit.py +
scripts/gen_audit.py) scans the executedPlan STRING of every registered
query for the 100 TB red-flag node types. That scan sees through plain
``persist()`` — an InMemoryTableScan prints its cached subtree — but
NOT through ``localCheckpoint``: lineage is truncated to a
``Scan ExistingRDD``, so any plan materialized inside an iterative
operator (operators/concomp.py) vanishes from the returned DataFrame's
plan, together with everything upstream of it (verified live in the
round-4 judge pass: p_semantic_dedup's O(n²) BroadcastNestedLoopJoin
pair scan was invisible to the gate).

Fix: every house materialization point — ``swap_persist``
(operators/cachepool.py) and concomp's per-round checkpoints — records
``count_hits`` of the plan it is about to materialize into this
module-level LEDGER, keyed by its pool/operator key. The audit gate
asserts over the ledger with the same ceiling+staleness discipline as
the query-plan scan, so a hidden nested loop under a checkpoint now
fails pytest (tests/test_shuffle_audit.py has the crafted proof).

FLAGS / ``count_hits`` are the single scan definition, and
``cold_plans`` the single sweep that feeds it — the pytest gates
(tests/conftest.py) and scripts/gen_audit.py both use them, so the
artifact and the gates can never audit different node sets or build
the plans under different cache states.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession

#: plan-node substrings that are scale hazards unless justified
FLAGS = ("CartesianProduct", "BroadcastNestedLoopJoin", "Exchange SinglePartition")


def count_hits(plan: str) -> dict[str, int]:
    return {f: plan.count(f) for f in FLAGS if plan.count(f)}


#: materialization key -> flag counts of the plan materialized under it.
#: Keys with NO flags are recorded too (empty dict) so the staleness
#: check can tell "scanned, clean" from "never scanned".
_LEDGER: dict[str, dict[str, int]] = {}


def record_plan(key: str, df: DataFrame) -> None:
    """Scan ``df``'s physical plan and file the flag counts under
    ``key``. Called at every house materialization point BEFORE the
    persist/checkpoint truncates or hides the plan. Introspection
    failures are swallowed — auditing must never break the operator —
    but leave a sentinel so the gate surfaces the miss instead of
    silently passing.

    First write per key per session wins: when a query is re-invoked
    after its pooled tables are already cached, the REBUILT plan string
    re-expands cached subtrees once per InMemoryTableScan reference, so
    the same conceptual plan counts differently on later builds (found
    by the full-suite run: p_semantic_dedup's pair scan counted 1 on
    first build, 2 after caching). The first, cache-free build is the
    canonical auditable plan; concomp's per-round re-records share one
    shape anyway."""
    if key in _LEDGER:
        return
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    except Exception:
        _LEDGER[key] = {"__plan_introspection_failed__": 1}
        return
    _LEDGER[key] = count_hits(plan)


def audited_checkpoint(key: str, df: DataFrame) -> DataFrame:
    """Record ``df``'s plan under ``key``, then eagerly
    ``localCheckpoint`` it. For bounded intermediates consumed by many
    downstream plan branches (g3's quantile-thresholded edge table): a
    plain persist leaves the upstream subtree re-printed once per
    InMemoryTableScan reference, inflating the plan-scan counts with
    copies of one node, while a checkpoint truncates to a clean Scan
    ExistingRDD — legitimate ONLY because the ledger keeps the
    truncated plan auditable. On a real cluster prefer a
    checkpoint-dir checkpoint for fault tolerance (same trade as
    operators/concomp.py)."""
    record_plan(key, df)
    return df.localCheckpoint(eager=True)


def ledger() -> dict[str, dict[str, int]]:
    """Snapshot of every recorded materialization this session."""
    return {k: dict(v) for k, v in _LEDGER.items()}


def forget(key: str) -> None:
    """Drop a ledger entry (test cleanup only)."""
    _LEDGER.pop(key, None)


#: categories whose fns execute real streaming/microbatch jobs when
#: built — the pytest sweep leaves them to scripts/gen_audit.py
SKIP_CATEGORIES = ("streaming", "timeseries")


def cold_plans(
    spark: SparkSession,
    sf_dir: str,
    names: Iterable[str] | None = None,
    skip: tuple[str, ...] = SKIP_CATEGORIES,
) -> Iterator[tuple[str, str | Exception]]:
    """Build every registered query (or just ``names``, in that order)
    from a cold cache and yield ``(name, executedPlan string)``, or
    ``(name, exception)`` when the build raised.

    Cold means the query's own FIRST build, which is what ALLOWED and
    ALLOWED_REEXEC justify:

    - the keyed pool is emptied before every query — a pooled table
      materialized by an earlier query (e.g. the IVF assignment, which
      g11's eager edges checkpoint executes as a side effect) makes
      later plan strings re-expand its cached subtree, so counts would
      depend on sweep order;
    - so is the session CacheManager — after a long test session it
      holds hundreds of ambient entries whose plan substitution
      interacts with the fns' internal persist() calls (observed:
      l2_near_dup_pairs printed 16 bare scans mid-suite but is clean
      cold);
    - the ledger is emptied once at the start and then KEPT, so at
      sweep end ``ledger()`` holds exactly the cold first-build
      recordings the ledger gates audit (record_plan is
      first-write-wins, so a key filed earlier in the session by a
      warm build or a test would otherwise shadow the cold one).
    """
    from .operators.cachepool import clear_pool
    from .registry import registry

    reg = registry()
    specs = reg if names is None else {n: reg[n] for n in names}
    clear_pool()
    _LEDGER.clear()
    for name, spec in specs.items():
        if spec.category in skip:
            continue
        clear_pool(forget_ledger=False)
        spark.catalog.clearCache()
        try:
            df = spec.fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as exc:  # noqa: BLE001 - the callers report it by name
            plan = exc
        yield name, plan


def _indent(line: str) -> int:
    return len(line) - len(line.lstrip(" :+-*("))


def strip_cached(plan: str) -> str:
    """Remove every subtree rooted at an InMemoryRelation line. A
    persisted subtree re-prints under every InMemoryTableScan reference
    while executing once; what remains are the scans Spark really
    re-executes per plan branch."""
    out, skip_to = [], None
    for line in plan.splitlines():
        ind = _indent(line)
        if skip_to is not None:
            if line.strip() and ind > skip_to:
                continue
            skip_to = None
        if "InMemoryRelation" in line:
            skip_to = ind
            continue
        out.append(line)
    return "\n".join(out)
