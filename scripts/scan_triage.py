#!/usr/bin/env python3
"""Raw-vs-live FileScan report over the cold-plan sweep.

A raw FileScan count of the executed plan STRING overstates for
materialized plans: a persisted/checkpointed subtree re-prints its whole
child plan under every InMemoryTableScan reference while executing
exactly once. ``strip_cached`` (x8313_etl_spark/audit.py) drops every
subtree rooted at an InMemoryRelation line; the FileScans that remain
are the scans Spark really re-executes per plan branch. dup>=2 on the
SAME table in the stripped plan = TRUE re-execution; dup only in the
raw count = plan-string re-expansion, leave it alone.
tests/test_scan_reexec.py gates the 3+ live tier.

Prints one line per query that has a duplicate scan (raw or live).

Usage: python scripts/scan_triage.py [sf_dir] [query ...]
       (default sf0.001, every non-streaming registered query)
"""

import os
import re
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run() -> None:
    from x8313_etl_spark.audit import cold_plans, strip_cached
    from x8313_etl_spark.session import get_spark

    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    tag = os.path.basename(sf_dir.rstrip("/"))
    spark = get_spark("scan-triage", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    # finditer + whole-match span: with a bare groupless alternative,
    # findall would return '' for every .scratch hit and conflate all
    # scratch tables under one Counter key (ADVICE r10)
    pat = re.compile(rf"{re.escape(tag)}/(\w+)\.parquet|\.scratch/[\w/]+")
    for name, plan in cold_plans(spark, sf_dir, names=args[1:] or None):
        if isinstance(plan, Exception):
            print(f"ERR {name}: {type(plan).__name__}")
            continue
        raw_tabs = Counter(m.group(1) or m.group(0) for m in pat.finditer(plan))
        live_tabs = Counter(
            m.group(1) or m.group(0) for m in pat.finditer(strip_cached(plan))
        )
        raw_dup = {t: k for t, k in raw_tabs.items() if k >= 2}
        true_dup = {t: k for t, k in live_tabs.items() if k >= 2}
        if raw_dup:
            verdict = "TRUE-REEXEC" if true_dup else "string-only"
            print(f"{name:32s} {verdict:12s} raw={dict(raw_dup)} live={dict(true_dup)}")


if __name__ == "__main__":
    run()
