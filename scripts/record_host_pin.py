"""Record the quiet-host reference pin for bench.py's pin-relative
comparability stamp (r11 verdict item 1).

Runs bench.py's OWN ``_host_norm`` path — Spark q1_pricing_summary and
its DuckDB twin, median of 3 / min of 5, warm, inside a live 32-thread
session — so the recorded pin and every future run's in-run pin measure
exactly the same thing. Writes the result into BASELINE_PROXY.json
under ``host_pins[sf_dir]`` (merged in place; the per-query proxy
numbers are untouched). Refuses to record under ambient
load: a pin captured in a drifted host regime would silently
re-baseline every future comparability verdict — the exact failure the
pin exists to catch.

Usage: python scripts/record_host_pin.py            # gate + record
       python scripts/record_host_pin.py --force    # skip the load gate
       python scripts/record_host_pin.py --from-bench BENCH.json
           copy the pin from a saved gate-passed bench run's host_norm
           instead of measuring fresh. PREFERRED for non-default sf
           dirs: a fresh measurement runs q1 back-to-back on an
           otherwise idle machine, which is exactly the sustained-
           same-work shape that trips volume-dependent throttling (the
           first sf1 pin recorded that way read 0.416 s while the very
           next full sweep's in-run floor was 0.222 s); a bench run's
           host_norm follows a diverse workload — the context every
           future in-run pin is measured in.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench

DEFAULT_SF_DIR = "/root/testdata/sf0.1"


def _write(norm: dict, sf_dir: str, loadavg: float | None = None) -> int:
    if "q1_duckdb_sec" not in norm:
        print(f"DuckDB half missing ({norm}); not recording")
        return 1
    proxy = json.load(open(bench.PROXY_PATH))
    pin = {
        "q1_spark_sec": norm["q1_spark_sec"],
        "q1_duckdb_sec": norm["q1_duckdb_sec"],
        "q1_duckdb_min_sec": norm.get("q1_duckdb_min_sec"),
        "spark_over_duckdb": norm["spark_over_duckdb"],
        "sf_dir": sf_dir,
        "loadavg_1m": round(os.getloadavg()[0], 3) if loadavg is None else loadavg,
    }
    # pins are PER SF DIRECTORY (bench._pin_drift: the r11 sf1 sweep
    # proved host regimes are volume-dependent — an sf0.1 pin must not
    # adjudicate an sf1 run)
    proxy.setdefault("host_pins", {})[sf_dir] = pin
    json.dump(proxy, open(bench.PROXY_PATH, "w"), indent=1, sort_keys=True)
    print("recorded host_pin:", json.dumps(pin))
    return 0


def main() -> int:
    if "--from-bench" in sys.argv:
        src = sys.argv[sys.argv.index("--from-bench") + 1]
        run = json.loads(open(src).read().strip().splitlines()[-1])
        gate = run.get("load_gate") or {}
        if not gate.get("comparable") and "--force" not in sys.argv:
            print(f"bench run {src} did not pass its load gate ({gate}); "
                  "refusing to pin a loaded run (--force overrides)")
            return 1
        norm = run.get("host_norm") or {}
        sf_dir = run.get("sf_dir")
        if not sf_dir:
            print(f"bench run {src} predates the sf_dir field; pass a "
                  "post-r12 bench JSON")
            return 1
        if "q1_duckdb_min_sec" not in norm:
            print(f"bench run {src} has no q1_duckdb_min_sec pin; not recording")
            return 1
        return _write(norm, sf_dir, loadavg=gate.get("start"))

    if "--force" not in sys.argv:
        gate = bench._load_gate()
        if not gate["comparable"]:
            print(f"host not quiet (loadavg {gate['start']} >= "
                  f"{gate['threshold']}); refusing to record a drifted pin "
                  "(--force overrides)")
            return 1
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR)
    from x8313_etl_spark.session import get_spark

    spark = get_spark("record-host-pin", cpus=32)
    spark.sparkContext.setLogLevel("ERROR")
    # bench.py measures host_norm at the END of a full run, in a
    # JIT-warm JVM; a fresh JVM runs q1 ~2x slower for the first few
    # repetitions (measured: 8.9/2.3/1.7/1.5/1.4s). Warm q1 itself to
    # convergence before recording so the Spark half of the pin
    # approximates the warm-context value. The DuckDB half has no such
    # effect and is the only input to ``comparable_pins``; the Spark
    # half ships for corroboration.
    from x8313_etl_spark.registry import registry

    q1 = registry()["q1_pricing_summary"]
    for _ in range(5):
        bench._run(q1.fn(spark, sf_dir))
    norm = bench._host_norm(spark, sf_dir, runs=3)
    spark.stop()
    return _write(norm, sf_dir)


if __name__ == "__main__":
    raise SystemExit(main())
