"""Record the DuckDB proxy baseline (BASELINE.md's plan, SURVEY.md §6).

No reference benchmark numbers exist (empty reference tree), so the
closest observable single-node baseline is DuckDB 1.x executing every
``oracle_sql()`` twin on the same sf0.1 parquet. This script times each
oracle (median of 3, warm cache, full materialization via fetchall) and
writes ``BASELINE_PROXY.json`` at the repo root; BASELINE.md carries the
summary. bench.py timings are then comparable query-by-query: the twin
computes the identical result, so "Spark within 2× of the proxy" is a
meaningful single-node bar (Spark pays JVM/scheduling fixed costs DuckDB
doesn't; Spark's win is the scale-out axis the proxy cannot measure).

Usage: python scripts/baseline_proxy.py [sf_dir] (default /root/testdata/sf0.1)
       python scripts/baseline_proxy.py [sf_dir] --only name1,name2
           top-up mode: time only the named twins and MERGE them into
           the existing BASELINE_PROXY.json (new registrations join the
           recorded proxy without re-running the other ~285 oracles —
           their numbers stay comparable because the protocol and
           sf_dir are unchanged; total_sec is recomputed over the
           merged set)
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from x8313_etl_spark.registry import registry

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    only: set[str] | None = None
    for i, a in enumerate(sys.argv[1:]):
        if a == "--only":
            only = set(sys.argv[1:][i + 1].split(","))
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    out: dict[str, float] = {}
    for name, spec in sorted(registry().items()):
        if spec.oracle is None or (only is not None and name not in only):
            continue
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            con.execute(spec.oracle).fetchall()
            times.append(time.perf_counter() - t0)
            # A single measurement is plenty above 20s (variance is noise
            # relative to the signal; the recursive-CTE connected-components
            # oracle runs ~7 min at sf0.1 and would triple the wall clock).
            if times[-1] > 20.0:
                break
        out[name] = round(statistics.median(times), 4)
        print(f"{name}: {out[name]:.3f}s ({len(times)} runs)", file=sys.stderr, flush=True)
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "BASELINE_PROXY.json")
    if only is not None and os.path.exists(path):
        prev = json.load(open(path))
        merged = dict(prev.get("queries", {}))
        merged.update(out)
        out = merged
    payload = {
        "engine": f"duckdb {duckdb.__version__}",
        "sf_dir": sf_dir,
        "runs_per_query": 3,
        "protocol": "median wall-clock, warm cache, full fetchall",
        "total_sec": round(sum(out.values()), 4),
        "queries": out,
    }
    # carry the quiet-host reference pins over (recorded separately by
    # scripts/record_host_pin.py; bench.py's comparability stamp reads
    # them) — a proxy re-run must never silently drop or re-baseline
    # the per-sf 'host_pins' map (r12 advice: dropping it stamped every
    # run comparability None after any proxy re-run)
    if os.path.exists(path):
        prev_payload = json.load(open(path))
        if prev_payload.get("host_pins") is not None:
            payload["host_pins"] = prev_payload["host_pins"]
    with open(path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    print(json.dumps({"total_sec": payload["total_sec"], "n": len(out)}))


if __name__ == "__main__":
    main()
