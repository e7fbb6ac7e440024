"""Repo-wide shuffle audit — every registered query's physical plan
scanned for the 100 TB red-flag node types. The scan definition
(FLAGS / count_hits) and the cold sweep (cold_plans) live in
x8313_etl_spark/audit.py, the justified allowlists in
tests/test_shuffle_audit.py; this script imports both, so the artifact
and the pytest gate can never audit different node sets.

PLANS.md audits the bench set in detail; this sweep covers ALL queries
(including streaming/timeseries, which the pytest gate skips because
their fns execute real microbatch jobs) and writes AUDIT.md listing
only the queries where a flag fires. Exit status is the gate for the
categories pytest can't reach: non-zero when any query errors OR any
flag lacks a justification / exceeds its allowlisted ceiling.

Queries execute at sf0.01. Usage:
    python scripts/gen_audit.py [sf_dir] [--write]
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tests.test_shuffle_audit import (  # noqa: E402
    ALLOWED,
    ALLOWED_LEDGER,
    ledger_violations,
)
from x8313_etl_spark import audit as plan_audit  # noqa: E402


def audit(
    sf_dir: str,
) -> tuple[dict[str, dict[str, int]], dict[str, str], dict[str, dict[str, int]]]:
    from x8313_etl_spark.session import get_spark

    spark = get_spark("shuffle-audit")
    spark.sparkContext.setLogLevel("ERROR")
    flagged: dict[str, dict[str, int]] = {}
    errors: dict[str, str] = {}
    for name, plan in plan_audit.cold_plans(spark, sf_dir, skip=()):
        if isinstance(plan, Exception):
            errors[name] = str(plan)[:160]
        elif hits := plan_audit.count_hits(plan):
            flagged[name] = hits
    ledger = plan_audit.ledger()
    spark.stop()
    return flagged, errors, ledger


def unjustified(flagged: dict[str, dict[str, int]]) -> list[tuple[str, str, int, int]]:
    out = []
    for name, hits in flagged.items():
        ceilings = ALLOWED.get(name, ({}, ""))[0]
        for flag, n in hits.items():
            if n > ceilings.get(flag, 0):
                out.append((name, flag, n, ceilings.get(flag, 0)))
    return out


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--write"]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    flagged, errors, ledger = audit(sf_dir)
    print(json.dumps(flagged, indent=1, sort_keys=True))
    bad = unjustified(flagged)
    bad_ledger = ledger_violations(ledger)
    for name, err in sorted(errors.items()):
        print(f"ERROR auditing {name}: {err}", file=sys.stderr)
    for name, flag, n, ceiling in bad:
        print(
            f"UNJUSTIFIED: {name} {flag}×{n} (allowlisted ceiling {ceiling})",
            file=sys.stderr,
        )
    for key, flag, n, ceiling in bad_ledger:
        print(
            f"UNJUSTIFIED LEDGER: {key} {flag}×{n} (allowlisted ceiling {ceiling})",
            file=sys.stderr,
        )
    if "--write" in sys.argv:
        lines = [
            "# Shuffle audit (all registered queries)",
            "",
            "Auto-generated by `scripts/gen_audit.py --write` at sf0.01 — every",
            "query's physical plan scanned for the 100 TB red-flag nodes",
            "(CartesianProduct / BroadcastNestedLoopJoin / Exchange",
            "SinglePartition). Only flagged queries are listed; each carries the",
            "justification from the allowlist in tests/test_shuffle_audit.py,",
            "which FAILS pytest when a new, unlisted flag appears (and when an",
            "allowlisted flag disappears — no stale ceilings). This script is",
            "the same gate for the streaming/timeseries categories pytest",
            "skips: it exits non-zero on any unjustified or errored entry.",
            "The sweep found one real defect on its first run: o1's rank was",
            "an unpartitioned window funneling every row through one task, now",
            "the two-phase global rank (operators/globalrank.py).",
            "",
            "| query | flags | why it is not a 100 TB hazard |",
            "|---|---|---|",
        ]
        for name in sorted(flagged):
            hits = ", ".join(
                f"{k}×{v}" for k, v in sorted(flagged[name].items())
            )
            why = ALLOWED.get(name, ({}, "**UNJUSTIFIED — fix or justify**"))[1]
            lines.append(f"| {name} | {hits} | {why} |")
        flagged_ledger = {k: v for k, v in ledger.items() if v}
        lines += [
            "",
            "## Materialization ledger (persisted/checkpointed plans)",
            "",
            "Plans hidden from the scan above by `localCheckpoint` lineage",
            "truncation are recorded at materialization time by",
            "`x8313_etl_spark/audit.py` (swap_persist + concomp). Flagged",
            f"entries ({len(flagged_ledger)} of {len(ledger)} recorded keys)",
            "with their justifications from ALLOWED_LEDGER:",
            "",
            "| materialization key | flags | why it is not a 100 TB hazard |",
            "|---|---|---|",
        ]
        for key in sorted(flagged_ledger):
            hits = ", ".join(
                f"{k}×{v}" for k, v in sorted(flagged_ledger[key].items())
            )
            why = ALLOWED_LEDGER.get(key, ({}, "**UNJUSTIFIED — fix or justify**"))[1]
            lines.append(f"| {key} | {hits} | {why} |")
        with open(os.path.join(ROOT, "AUDIT.md"), "w") as f:
            f.write("\n".join(lines) + "\n")
        print(
            f"wrote AUDIT.md: {len(flagged)} flagged queries, "
            f"{len(flagged_ledger)} flagged ledger keys"
        )
    return 1 if (bad or bad_ledger or errors) else 0


if __name__ == "__main__":
    raise SystemExit(main())
