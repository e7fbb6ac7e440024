#!/usr/bin/env python3
"""Benchmark headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Protocol (BASELINE.md): one shared SparkSession (JVM startup excluded),
one warm-up run per query, then median of 3 timed runs. Each timed run
executes the full plan and consumes every row on the executors
(count of a 1-column projection is NOT used — we force full
materialization via ``df.write.format("noop")`` so column pruning can't
fake the numbers).

MEASUREMENT FIX (r13 optimization round — declared in
OPTIMIZATION_r13.md; pre-fix receipt kept as
BENCH_r13_opt_before_pooled.json): every timed sample now starts with
COLD Spark caches (``_cold_caches``). Previously, the keyed
swap-persist pool (operators/cachepool.py) handed timed re-runs the
previous invocation's already-materialized intermediates (its
sameSemantics reuse path), so the medians of pool-using queries
measured cached reads rather than the computation — cross-run result
caching, which this bench must not do. The cache drop happens OUTSIDE
the timed region; reuse WITHIN one invocation (one persisted table
feeding several branches of the same plan) still happens inside the
timed run, as on a real cluster.

Timed runs are INTERLEAVED across the whole query set (run the full
set, then repeat xRUNS) rather than back-to-back per query, so a
transient host-load spike lands on at most one sample of MANY queries
instead of all samples of one — r6 measured a 3x intra-run swing on an
unchanged q1 plan because its 3 consecutive samples caught a load
burst (r6 verdict "what's wrong" #2). Per-query relative spread
((max-min)/median) and os.getloadavg() at start/end ship in the JSON
so a noisy sample is visible instead of masquerading as a plan
regression.

A LOAD GATE (r10 verdict item 1) additionally refuses to start under
ambient host load: before the JVM comes up, wait up to
$SPARK_GRAFT_LOAD_WAIT sec (default 600) for 1-minute loadavg to drop
below $SPARK_GRAFT_LOAD_GATE (default 2.0); if it never does, run
anyway (the driver contract is one JSON line, exit 0) but stamp
``"load_gate": {"comparable": false}`` so cross-round comparisons know
to discount the run.

A PIN-RELATIVE COMPARABILITY STAMP (r11 verdict item 1) closes the
start-gate's blind spot: the r11 driver bench passed the start gate and
still drifted uniformly 1.1-2.1x on every slot (sustained-compute host
regime change mid-run). Every run's in-run host_norm DuckDB pin is
divided by the recorded quiet-host reference pin
(BASELINE_PROXY.json's ``host_pins[sf_dir]``, recorded by
scripts/record_host_pin.py); the JSON ships ``"comparability":
{"drift_factor": ..., "comparable_pins": bool}``. Cross-round readers
divide per-query deltas by drift_factor before reading anything into
them; per-query criteria (e.g. BASELINE.md's p_item_cf waiver) are
stated pin-normalized.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from x8313_etl_spark.operators.cachepool import clear_pool  # noqa: E402
from x8313_etl_spark.registry import bench_queries  # noqa: E402
from x8313_etl_spark.session import get_spark  # noqa: E402


def _run(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _cold_caches(spark) -> None:
    """Drop every Spark-level cached intermediate BEFORE a timed run
    (outside the timed region), so each sample computes from the
    parquet inputs rather than from blocks a previous invocation of
    the same query left behind.

    Why this exists (r13 optimization round, methodology fix): the
    keyed swap-persist pool (operators/cachepool.py) returns the
    PREVIOUS invocation's already-materialized table when the incoming
    plan is semantically identical — the repeat-invocation case, i.e.
    exactly the bench's timed re-runs. Before this fix, the warm-up
    materialized each pooled intermediate (p_item_cf's basket table,
    p_bm25_topk's pruned postings, the minhash sketch tables, …) and
    all three timed samples then read it from cache, so the medians
    measured cached performance, not the computation. Pool reuse
    WITHIN one invocation (one table feeding several plan branches) is
    a legitimate plan property and still happens inside the timed run;
    reuse ACROSS timed runs is result caching and is cleared here.
    ``clear_pool(forget_ledger=False)`` keeps the shuffle-audit ledger
    recordings; ``blocking=True`` waits for eviction to finish so it
    cannot overlap the next timed sample; ``catalog.clearCache()``
    additionally drops any ad-hoc ``.cache()`` a query registered on
    the session."""
    clear_pool(forget_ledger=False, blocking=True)
    try:
        spark.catalog.clearCache()
    except Exception:
        pass


def _host_norm(spark, sf_dir: str, runs: int) -> dict:
    """Pinned host-calibration pair (BASELINE.md protocol, automated per
    r5 verdict item 5): time q1_pricing_summary on Spark AND its DuckDB
    twin on the same parquet, same host, same process run. Cross-round
    bench deltas divide by these to separate host drift from plan
    regressions — the ~1.4× uniform VM slowdown at end of r4 cost a
    manual re-measurement that this field now ships in every BENCH_rN."""
    from x8313_etl_spark.registry import registry

    spec = registry()["q1_pricing_summary"]
    _run(spec.fn(spark, sf_dir))
    spark_s = []
    for _ in range(runs):
        t0 = time.perf_counter()
        _run(spec.fn(spark, sf_dir))
        spark_s.append(time.perf_counter() - t0)
    out = {"q1_spark_sec": round(statistics.median(spark_s), 4)}
    try:
        import duckdb
    except ImportError:
        return out  # no DuckDB in this environment — Spark half still calibrates
    try:
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW lineitem AS SELECT * FROM "
            f"read_parquet('{sf_dir}/lineitem.parquet')"
        )
        con.execute(spec.oracle).fetchall()  # warm-up
        duck_s = []
        # at least 5 samples: the pin's drift verdict compares MINIMA —
        # q1 DuckDB samples swing ~1.5x (0.095-0.145s measured on one
        # quiet host within seconds) from transient contention, which
        # pollutes upper samples and the median but not the attainable
        # floor; a sustained host-regime change (the thing the
        # comparability stamp exists to catch) raises the floor itself
        for _ in range(max(runs, 5)):
            t0 = time.perf_counter()
            con.execute(spec.oracle).fetchall()
            duck_s.append(time.perf_counter() - t0)
        out["q1_duckdb_sec"] = round(statistics.median(duck_s), 4)
        out["q1_duckdb_min_sec"] = round(min(duck_s), 4)
        out["spark_over_duckdb"] = round(
            out["q1_spark_sec"] / out["q1_duckdb_sec"], 3
        )
    except Exception as exc:
        # a real failure (bad parquet path, oracle regression, API
        # change) must be LOUD — silently dropping the field would
        # quietly lose the cross-round normalization it exists for —
        # but must not kill the bench contract (one JSON line, exit 0)
        import traceback

        traceback.print_exc(file=sys.stderr)
        out["error"] = f"{type(exc).__name__}: {exc}"
    return out


#: in-run pin drift beyond this factor (either direction) marks the run
#: non-comparable — r11's lesson: a run can pass the START loadavg gate
#: and still drift ~1.2x on every slot (sustained-compute host regime),
#: which only the in-run pins can see. ~1.15x is the r11 verdict's
#: suggested band; the builder's quiet-host repro runs sat within
#: 0.86-1.12x of each other.
PIN_DRIFT_TOL = 1.15

#: where the quiet-host reference pin lives (recorded by
#: scripts/record_host_pin.py; preserved by scripts/baseline_proxy.py)
PROXY_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "BASELINE_PROXY.json")


def _pin_drift(
    host_norm: dict, sf_dir: str | None = None, proxy_path: str = PROXY_PATH
) -> dict:
    """Pin-relative comparability stamp (r11 verdict item 1): the
    start-only load gate is insufficient — the driver's r11 bench
    passed it (ambient 1.61 < 2.0) and still ran uniformly 1.1-2.1x
    slower on every slot, because the host entered a slower sustained-
    compute regime AFTER the gate. The in-run host_norm pins catch
    this: both engines time the SAME q1 on the SAME parquet every run,
    so dividing this run's DuckDB pin by the recorded quiet-host
    reference pin separates host drift from plan regressions (DuckDB
    leads the stamp because its pin has no JVM/scheduling variance;
    the Spark-side drift ships alongside for corroboration).
    ``comparable_pins`` is the machine-readable verdict; a cross-round
    reader (gen_perf, the judge) divides per-query deltas by
    ``drift_factor`` before reading anything into them.

    The drift compares sample MINIMA (q1_duckdb_min_sec) when both
    sides carry them: transient contention pollutes upper samples and
    the median (measured ~1.5x swing across 10 back-to-back samples on
    one quiet host) but not the attainable floor, while the sustained
    host-regime change the stamp exists to catch raises the floor
    itself.

    Pins are PER SF DIRECTORY (``host_pins`` keyed by sf_dir): the r11
    ~sf1 sweep showed
    host regimes can be VOLUME-dependent — the sf1 DuckDB pin ran
    1.5-1.8x slower across rounds while the sf0.1 pin was stable — so
    an sf0.1 reference must never adjudicate an sf1 run. No pin
    recorded for this sf_dir → verdict None, not a cross-sf compare."""
    try:
        proxy = json.load(open(proxy_path))
    except (OSError, ValueError):
        proxy = {}
    pin = (proxy.get("host_pins") or {}).get(sf_dir) or {}
    # minima compare ONLY when BOTH sides carry the floor sample —
    # min-vs-median mixing swings ~1.5x on its own (the measured
    # floor-vs-median gap on one quiet host), enough to flip the 1.15
    # tolerance without any real host drift (r12 advice)
    if pin.get("q1_duckdb_min_sec") and host_norm.get("q1_duckdb_min_sec"):
        ref_duck = pin["q1_duckdb_min_sec"]
        got_duck = host_norm["q1_duckdb_min_sec"]
    else:
        ref_duck = pin.get("q1_duckdb_sec")
        got_duck = host_norm.get("q1_duckdb_sec")
    ref_spark = pin.get("q1_spark_sec")
    got_spark = host_norm.get("q1_spark_sec")
    out: dict = {
        "pin_q1_duckdb_sec": ref_duck,
        "pin_q1_spark_sec": ref_spark,
        "tolerance": PIN_DRIFT_TOL,
    }
    if not ref_duck or not got_duck:
        # no recorded pin (or no DuckDB this run): stamp unknown rather
        # than vacuously true — the reader must not mistake "could not
        # check" for "checked and clean"
        out["drift_factor"] = None
        out["comparable_pins"] = None
        return out
    drift = got_duck / ref_duck
    out["drift_factor"] = round(drift, 3)
    if ref_spark and got_spark:
        out["drift_spark"] = round(got_spark / ref_spark, 3)
    out["comparable_pins"] = bool(
        1.0 / PIN_DRIFT_TOL <= drift <= PIN_DRIFT_TOL
    )
    return out


def _load_gate() -> dict:
    """Refuse to START a measurement under ambient host load (r10
    verdict "what's wrong" #2: a loadavg 2.9→7.3 run made every
    like-for-like slot ~1.1–1.35× slower and cost a round of perf
    readability). Polls 1-minute loadavg BEFORE the JVM comes up and
    waits up to SPARK_GRAFT_LOAD_WAIT seconds (default 600) for it to
    drop below SPARK_GRAFT_LOAD_GATE (default 2.0). If the host never
    quiets, the run proceeds — the driver contract is one JSON line,
    exit 0 — but ships ``"comparable": false`` so a cross-round reader
    (gen_perf, the judge) knows the numbers measure the host, not the
    plans."""
    try:
        threshold = float(os.environ.get("SPARK_GRAFT_LOAD_GATE", "2.0"))
        max_wait = float(os.environ.get("SPARK_GRAFT_LOAD_WAIT", "600"))
    except ValueError:
        threshold, max_wait = 2.0, 600.0
    waited = 0.0
    try:
        load = os.getloadavg()[0]
    except OSError:
        return {"threshold": threshold, "start": None, "waited_sec": 0.0,
                "comparable": True}
    while load >= threshold and waited < max_wait:
        time.sleep(15.0)
        waited += 15.0
        load = os.getloadavg()[0]
    return {
        "threshold": threshold,
        "start": round(load, 3),
        "waited_sec": waited,
        "comparable": load < threshold,
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    gate = _load_gate()  # before get_spark: the JVM itself adds load
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = None

    spark = get_spark("x8313-bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    try:
        load_start = os.getloadavg()[0]
    except OSError:
        load_start = None

    specs = dict(sorted(bench_queries().items()))
    for spec in specs.values():  # warm-up: JIT, code cache, fs cache
        _run(spec.fn(spark, sf_dir))
    samples: dict[str, list[float]] = {n: [] for n in specs}
    # interleaved rounds: the whole set per round, repeated xRUNS (see
    # module docstring — isolates transient host load to single samples)
    for _ in range(runs):
        for name, spec in specs.items():
            # cold caches per sample (see _cold_caches): every timed
            # run computes from the parquet inputs — no pooled
            # intermediate survives from the warm-up or a prior sample
            _cold_caches(spark)
            t0 = time.perf_counter()
            _run(spec.fn(spark, sf_dir))
            samples[name].append(time.perf_counter() - t0)
    timings = {n: round(statistics.median(s), 4) for n, s in samples.items()}
    spread = {
        n: round((max(s) - min(s)) / statistics.median(s), 3)
        for n, s in samples.items()
    }

    try:
        load_end = os.getloadavg()[0]
    except OSError:
        load_end = None

    total = round(sum(timings.values()), 4)
    host_norm = _host_norm(spark, sf_dir, runs)
    comparability = _pin_drift(host_norm, sf_dir)
    full = {
        "metric": "headline_queries_total_wall_clock",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "spread": spread,
        "loadavg_1m": {"start": load_start, "end": load_end},
        "load_gate": gate,
        "comparability": comparability,
        "sf": sf,
        "sf_dir": sf_dir,
        "cpus": cpus,
        "runs_per_query": runs,
        "host_norm": host_norm,
    }
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_FULL.json"
    )
    try:
        with open(full_path, "w") as f:
            json.dump(full, f, indent=1, sort_keys=True)
    except OSError:
        # the stdout contract must survive an unwritable checkout
        full_path = None
    # stdout gets ONE COMPACT line (and nothing after it): the driver
    # captures only the last ~2 KB of stdout, and the r12 full record —
    # grown by the comparability/host_norm fields — outran that window,
    # so BENCH_r12.json landed `parsed: null` with no headline (r12
    # verdict item 1). Spread/pins/load detail live in BENCH_FULL.json;
    # the compact line keeps the driver-read essentials: headline total,
    # per-query walls, and the comparability verdict a cross-round
    # reader needs before trusting any delta.
    print(json.dumps(compact_record(full, full_path)))
    spark.stop()


#: stdout budget for the compact line — the driver's tail-capture
#: window is ~2 KB; tests/test_bench_gate.py enforces the margin at
#: the CURRENT bench-set size so a grown registry fails loudly here
#: instead of silently in the driver's BENCH_r{N}.json
COMPACT_BUDGET_BYTES = 1900


def compact_record(full: dict, full_path: str | None) -> dict:
    """The driver-facing subset of the full bench record. Must stay
    one short JSON line; everything else belongs in BENCH_FULL.json."""
    comparability = full.get("comparability") or {}
    queries = full["queries"]
    out = {
        "metric": full["metric"],
        "value": full["value"],
        "unit": full["unit"],
        "queries": queries,
        "sf": full.get("sf"),
        "cpus": full.get("cpus"),
        "drift_factor": comparability.get("drift_factor"),
        "comparable_pins": comparability.get("comparable_pins"),
        "load_comparable": (full.get("load_gate") or {}).get("comparable"),
        # headline total WITHOUT the host-calibration pin query
        # (q1_pricing_summary doubles as the drift instrument — r13
        # verdict item 7: host spread on the instrument reads as
        # regression in the headline). ADDITIVE field only: `value`
        # stays the full sum and q1 stays in `queries`, so cross-round
        # totals remain comparable; readers wanting the pin-free total
        # use this.
        "value_ex_pin": round(
            full["value"] - queries.get("q1_pricing_summary", 0.0), 4
        ),
        "full_record": os.path.basename(full_path) if full_path else None,
    }
    line = json.dumps(out)
    if len(line.encode()) > COMPACT_BUDGET_BYTES:
        # degrade deterministically rather than overrun the window:
        # drop per-query walls LAST-RESORT (they still live in the
        # full record) — the headline total is the artifact the
        # driver's BENCH_r{N}.json must never lose again
        out["queries_truncated"] = len(out.pop("queries"))
    return out


if __name__ == "__main__":
    main()
