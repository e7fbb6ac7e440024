#!/usr/bin/env python3
"""Emulate the grading driver: vanilla SparkSession + __spark_entry__ contract.

Usage: python scripts/driver_emu.py [sf_dir] [query ...]

This is the repo's end-to-end verification surface (see
.claude/skills/verify/SKILL.md): a session WITHOUT our confs, the real
entry/queries/oracle_sql contract, strict value compare vs DuckDB.
Named queries limit the compare to those (in the given order) and skip
the ``entry`` check, so the first named query runs on a session no
other query has touched; with none, ``entry`` runs first and then
every registered query.
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import SparkSession  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:]
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver-emu")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as e
    from x8313_etl_spark.registry import registry
    from tests.oracle_utils import compare_query

    if not names:
        n = len(e.entry(spark).collect())
        assert n > 0, "entry() returned no rows"
        print(f"t1 entry: {n} rows OK")

    specs = registry()
    qs = e.queries()
    assert set(qs) == set(specs)
    names = names or sorted(specs)
    failures = []
    for name in names:
        t0 = time.perf_counter()
        res = compare_query(spark, specs[name], sf_dir)
        status = "OK " if res.ok else "FAIL"
        print(f"t2 {status} {name:32s} {time.perf_counter()-t0:5.1f}s  {res.detail}")
        if not res.ok:
            failures.append(name)
    spark.stop()
    if failures:
        print(f"FAILURES: {failures}")
        return 1
    print(f"all {len(names)} queries OK vs DuckDB at {sf_dir}")
    return 0


if __name__ == "__main__":
    rc = main()
    sys.stdout.flush()
    sys.stderr.flush()
    # after ~300 queries (incl. the streaming fns' microbatch jobs and
    # foreachBatch sinks) the JVM leaves non-daemon threads behind and
    # spark.stop() does not always bring the python process down —
    # measured twice in r12: the verdict line prints, then the process
    # idles until killed. The verification is complete at this point;
    # exit hard so the round's verify recipe is one command, not a
    # command plus a manual pkill.
    os._exit(rc)
