"""Keyed persist pool — bounds cached-table leaks in multi-query sweeps.

Several queries persist an intermediate table that feeds multiple plan
branches of the SAME invocation (sim_ivf_topk's centroid assignment,
p_simhash_pairs' sketch table). The persist cannot be released inside
the query function — the returned DataFrame's plan still references it,
and the caller (driver / oracle harness) collects later. Left alone,
every invocation leaks one cached RDD for the session lifetime
(spill-backed, so a slow-growth disk cost, not a correctness risk —
ADVICE r03).

``swap_persist`` bounds that: one live cached table per KEY. When the
incoming plan is semantically IDENTICAL to the key's current holder
(the repeat-invocation case — same query, same inputs), the existing
persisted table is returned as-is, so Spark's CacheManager keeps
serving the already-materialized blocks; measured on sim_ivf_topk at
sf0.1, dropping-then-repersisting instead cost ~2× per repeat call
(the old 'leak' was silently doubling as this cross-call cache). Only
when the plan actually changed (new sf_dir, new params) is the
previous holder unpersisted (non-blocking — in-flight jobs still
reading old blocks just recompute them, standard Spark unpersist
semantics). A full-registry sweep thus holds at most len(keys) cached
tables instead of one per invocation, with repeat timing intact.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame

from ..audit import record_plan

_POOL: dict[str, DataFrame] = {}


def swap_persist(key: str, df: DataFrame) -> DataFrame:
    """Persist ``df`` (MEMORY_AND_DISK) under ``key``; reuse the key's
    previous table when the plan is unchanged, release it when it isn't.

    Every plan persisted here is also filed in the audit ledger
    (x8313_etl_spark/audit.py) under ``key``: a swap_persisted table may
    be consumed only inside later-``localCheckpoint``ed iterations
    (g4's edge table feeding the label-propagation rounds), which truncate it
    out of the returned DataFrame's plan — the ledger is how the shuffle
    audit still sees it."""
    # unconditional (even on the reuse path): the ledger must hold an
    # entry for every live key each session, or the audit's staleness
    # check couldn't tell "scanned, clean" from "never scanned"
    record_plan(key, df)
    prev = _POOL.get(key)
    if prev is not None:
        try:
            if prev.sameSemantics(df):
                return prev
            prev.unpersist(blocking=False)
        except Exception:
            _POOL.pop(key, None)  # stale session — fall through, repersist
    _POOL[key] = df.persist(StorageLevel.MEMORY_AND_DISK)
    return _POOL[key]


def clear_pool(forget_ledger: bool = True, blocking: bool = False) -> None:
    """Unpersist and forget every pooled table, AND (by default) drop
    their audit ledger entries. For test isolation: plan STRINGS
    re-expand an InMemoryRelation's child subtree, so a sweep that
    counts plan nodes (tests/test_shuffle_audit.py) must run against a
    COLD pool or its counts depend on which tests ran before it (found
    by review in round 6 — an IVF test warming similarity.ivf_assign at
    the audit's sf_dir flipped the BNLJ counts order-dependently). The
    ledger half has the same hazard: record_plan is first-write-wins
    per key, so a warm-pool recording from an earlier test would
    otherwise shadow the cold sweep's — forgetting the keys lets the
    sweep re-record cold.

    ``forget_ledger=False`` is the PER-QUERY variant for the audit
    sweeps themselves (r8): they clear the pool before EVERY query so
    each plan count is that query's own cold first build, but the
    ledger recordings made along the way are exactly the cold
    first-build plans the staleness check wants to see at sweep end —
    forgetting them each time would leave only the last query's keys.

    ``blocking=True`` waits for every block to actually drop before
    returning — the bench's cold-cache step uses it so that async
    eviction of the PREVIOUS query's pool entries cannot overlap (and
    inflate) the NEXT timed sample (observed r13: l6_tfidf, which owns
    no pool entry at all, read 2.5 s in the interleaved bench vs 0.7 s
    isolated, with l2's three freshly-built pool tables evicting
    async right before it)."""
    from .. import audit

    for key, df in _POOL.items():
        try:
            df.unpersist(blocking=blocking)
        except Exception:
            pass
        if forget_ledger:
            audit.forget(key)
    _POOL.clear()
