"""Unit tests for bench.py's ambient-load gate (BASELINE.md protocol).

No SparkSession needed — the gate runs BEFORE the JVM comes up and its
contract is pure: wait for quiet up to a budget, then report whether
the run is cross-round comparable."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench


def test_gate_passes_on_quiet_host(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_LOAD_GATE", "1000000")
    monkeypatch.setenv("SPARK_GRAFT_LOAD_WAIT", "0")
    out = bench._load_gate()
    assert out["comparable"] is True
    assert out["waited_sec"] == 0.0
    assert out["threshold"] == 1000000.0


def test_gate_stamps_non_comparable_without_blocking_forever(monkeypatch):
    """Threshold 0 can never be satisfied: the gate must give up at the
    wait budget and stamp comparable=False — never raise, never hang
    (the driver contract is one JSON line, exit 0)."""
    monkeypatch.setenv("SPARK_GRAFT_LOAD_GATE", "0")
    monkeypatch.setenv("SPARK_GRAFT_LOAD_WAIT", "0")
    out = bench._load_gate()
    assert out["comparable"] is False
    assert out["waited_sec"] == 0.0


def test_gate_waits_then_passes(monkeypatch):
    """The gate polls until loadavg drops below the threshold."""
    monkeypatch.setenv("SPARK_GRAFT_LOAD_GATE", "2.0")
    monkeypatch.setenv("SPARK_GRAFT_LOAD_WAIT", "600")
    loads = iter([(9.0, 0, 0), (9.0, 0, 0), (1.0, 0, 0)])
    monkeypatch.setattr(bench.os, "getloadavg", lambda: next(loads))
    monkeypatch.setattr(bench.time, "sleep", lambda s: None)
    out = bench._load_gate()
    assert out["comparable"] is True
    assert out["start"] == 1.0
    assert out["waited_sec"] > 0


def test_gate_tolerates_missing_getloadavg(monkeypatch):
    """Platforms without getloadavg must not break the bench contract."""

    def boom():
        raise OSError("no loadavg")

    monkeypatch.setattr(bench.os, "getloadavg", boom)
    out = bench._load_gate()
    assert out["comparable"] is True
    assert out["start"] is None


# --- pin-relative comparability stamp (r12, r11 verdict item 1) ------------


_SF = "/data/sf0.1"


def _write_pin(tmp_path, pin):
    import json

    p = tmp_path / "proxy.json"
    p.write_text(json.dumps({"queries": {}, "host_pins": {_SF: pin}}))
    return str(p)


def test_pin_drift_comparable_within_band(tmp_path):
    path = _write_pin(tmp_path, {"q1_duckdb_sec": 0.10, "q1_spark_sec": 1.0})
    out = bench._pin_drift(
        {"q1_duckdb_sec": 0.11, "q1_spark_sec": 1.2}, _SF, proxy_path=path
    )
    assert out["comparable_pins"] is True
    assert out["drift_factor"] == 1.1
    assert out["drift_spark"] == 1.2
    assert out["pin_q1_duckdb_sec"] == 0.10


def test_pin_drift_flags_sustained_regime(tmp_path):
    """The r11 failure shape: both engines ~1.2x slower mid-run while
    the start gate passed — the pin stamp must say non-comparable."""
    path = _write_pin(tmp_path, {"q1_duckdb_sec": 0.102, "q1_spark_sec": 1.09})
    out = bench._pin_drift({"q1_duckdb_sec": 0.124}, _SF, proxy_path=path)
    assert out["comparable_pins"] is False
    assert out["drift_factor"] > bench.PIN_DRIFT_TOL


def test_pin_drift_flags_too_fast_too(tmp_path):
    """A run FASTER than the pin beyond the band is equally
    non-comparable — a future quiet-era pin recorded under load would
    otherwise make every honest run look like a regression."""
    path = _write_pin(tmp_path, {"q1_duckdb_sec": 0.20})
    out = bench._pin_drift({"q1_duckdb_sec": 0.10}, _SF, proxy_path=path)
    assert out["comparable_pins"] is False


def test_pin_drift_unknown_without_pin(tmp_path):
    """No recorded pin (or no DuckDB in the run) must stamp None — the
    reader must not mistake 'could not check' for 'checked clean'."""
    import json

    p = tmp_path / "proxy.json"
    p.write_text(json.dumps({"queries": {}}))
    out = bench._pin_drift({"q1_duckdb_sec": 0.1}, _SF, proxy_path=str(p))
    assert out["comparable_pins"] is None
    assert out["drift_factor"] is None
    path = _write_pin(tmp_path, {"q1_duckdb_sec": 0.10})
    out2 = bench._pin_drift({}, _SF, proxy_path=path)
    assert out2["comparable_pins"] is None


def test_pin_drift_tolerates_missing_proxy_file(tmp_path):
    out = bench._pin_drift(
        {"q1_duckdb_sec": 0.1}, _SF, proxy_path=str(tmp_path / "nope.json")
    )
    assert out["comparable_pins"] is None


def test_pin_drift_is_per_sf_dir(tmp_path):
    """The r11 ~sf1 lesson: host regimes are volume-dependent (the sf1
    DuckDB pin ran 1.5-1.8x slower across rounds while the sf0.1 pin
    was stable), so a pin recorded at one sf_dir must never adjudicate
    a run at another — verdict None, not a cross-sf compare."""
    import json

    p = tmp_path / "proxy.json"
    p.write_text(json.dumps({
        "queries": {},
        "host_pins": {
            "/data/sf0.1": {"q1_duckdb_min_sec": 0.10, "sf_dir": "/data/sf0.1"},
            "/data/replica10x": {"q1_duckdb_min_sec": 0.25,
                                 "sf_dir": "/data/replica10x"},
        },
    }))
    # exact per-sf match: the sf1 run adjudicates against the sf1 pin
    out = bench._pin_drift(
        {"q1_duckdb_min_sec": 0.26}, sf_dir="/data/replica10x",
        proxy_path=str(p),
    )
    assert out["comparable_pins"] is True and out["drift_factor"] == 1.04
    # unknown sf_dir (pins recorded only for OTHER sfs): no verdict
    out2 = bench._pin_drift(
        {"q1_duckdb_min_sec": 0.26}, sf_dir="/data/sf9", proxy_path=str(p)
    )
    assert out2["comparable_pins"] is None


def test_pin_drift_legacy_single_pin_still_applies_to_its_sf(tmp_path):
    """The sf0.1 pin (once also stored as a single top-level
    ``host_pin``) adjudicates the run that names its sf_dir."""
    import json

    p = tmp_path / "proxy.json"
    p.write_text(json.dumps({
        "queries": {},
        "host_pins": {
            "/data/sf0.1": {"q1_duckdb_min_sec": 0.10, "sf_dir": "/data/sf0.1"},
        },
    }))
    out = bench._pin_drift(
        {"q1_duckdb_min_sec": 0.11}, sf_dir="/data/sf0.1", proxy_path=str(p)
    )
    assert out["comparable_pins"] is True


def test_pin_drift_legacy_pin_without_sf_metadata_is_no_pin(tmp_path):
    """A pin that never recorded its sf_dir must NOT adjudicate a run
    at another sf (r12 advice): the old `in (None, sf_dir)` let an
    old-format sf0.1 pin judge an sf1 run — the exact cross-sf compare
    the per-sf pins forbid. Verdict None, not a guess."""
    path = _write_pin(tmp_path, {"q1_duckdb_min_sec": 0.10})
    out = bench._pin_drift(
        {"q1_duckdb_min_sec": 0.11}, sf_dir="/data/sf1", proxy_path=str(path)
    )
    assert out["comparable_pins"] is None


def test_pin_drift_never_mixes_min_and_median(tmp_path):
    """When only ONE side carries the floor sample (q1_duckdb_min_sec),
    the compare must fall back to median-vs-median on both sides — a
    floor-vs-median compare swings ~1.5x on its own (measured), enough
    to flip the 1.15 tolerance with zero real drift (r12 advice)."""
    # pin has min 0.08 + median 0.12; run has median only (0.12):
    # min-vs-median would read 0.12/0.08 = 1.5 -> false alarm;
    # median-vs-median reads 1.0 -> comparable
    path = _write_pin(
        tmp_path, {"q1_duckdb_min_sec": 0.08, "q1_duckdb_sec": 0.12}
    )
    out = bench._pin_drift({"q1_duckdb_sec": 0.12}, _SF, proxy_path=str(path))
    assert out["comparable_pins"] is True and out["drift_factor"] == 1.0
    # and the mirror: run has min, pin has median only
    path2 = _write_pin(tmp_path, {"q1_duckdb_sec": 0.12})
    out2 = bench._pin_drift(
        {"q1_duckdb_min_sec": 0.08, "q1_duckdb_sec": 0.12},
        _SF,
        proxy_path=str(path2),
    )
    assert out2["comparable_pins"] is True and out2["drift_factor"] == 1.0


# --- compact stdout line (r12 verdict item 1: BENCH_r12 parsed:null) --------


def _full_record(n_queries):
    qs = {f"q{i:02d}_some_longish_query_name": 1.2345 for i in range(n_queries)}
    return {
        "metric": "headline_queries_total_wall_clock",
        "value": round(sum(qs.values()), 4),
        "unit": "sec",
        "queries": qs,
        "spread": {k: 0.123 for k in qs},
        "loadavg_1m": {"start": 1.0, "end": 2.0},
        "load_gate": {"threshold": 2.0, "start": 1.0, "waited_sec": 0.0,
                      "comparable": True},
        "comparability": {"pin_q1_duckdb_sec": 0.1, "pin_q1_spark_sec": 1.2,
                          "tolerance": 1.15, "drift_factor": 1.05,
                          "drift_spark": 1.1, "comparable_pins": True},
        "sf": 0.1,
        "sf_dir": "/root/testdata/sf0.1",
        "cpus": 32,
        "runs_per_query": 3,
        "host_norm": {"q1_spark_sec": 1.2, "q1_duckdb_sec": 0.15,
                      "q1_duckdb_min_sec": 0.12, "spark_over_duckdb": 8.0},
    }


def test_compact_line_fits_driver_tail_window_at_current_bench_size():
    """The driver captures only the last ~2 KB of stdout; the compact
    line must fit WITH growth headroom at the registry's CURRENT
    bench-set size (this is the regression that made BENCH_r12.json
    parsed:null). Uses the real bench registry so a grown bench set
    fails HERE, not in the driver's artifact."""
    import json

    from x8313_etl_spark.registry import bench_queries

    full = _full_record(0)
    full["queries"] = {n: 123.4567 for n in bench_queries()}
    full["spread"] = {n: 0.123 for n in full["queries"]}
    line = json.dumps(bench.compact_record(full, "/x/BENCH_FULL.json"))
    assert "queries_truncated" not in line  # walls must survive intact
    assert len(line.encode()) <= 1600, len(line.encode())


def test_compact_line_keeps_headline_and_comparability():
    import json

    out = bench.compact_record(_full_record(5), "/x/BENCH_FULL.json")
    line = json.dumps(out)
    assert len(line.encode()) <= bench.COMPACT_BUDGET_BYTES
    parsed = json.loads(line)
    assert parsed["metric"] == "headline_queries_total_wall_clock"
    assert parsed["value"] == out["value"] and parsed["unit"] == "sec"
    assert parsed["drift_factor"] == 1.05
    assert parsed["comparable_pins"] is True
    assert parsed["load_comparable"] is True
    assert parsed["full_record"] == "BENCH_FULL.json"
    # fields that ballooned the r12 line stay OUT of stdout
    assert "spread" not in parsed and "host_norm" not in parsed


def test_compact_line_never_overruns_budget_even_at_absurd_size():
    """Degradation contract: if the bench set ever grows past the
    stdout budget, the per-query walls drop (they live in the full
    record) but the HEADLINE total always ships."""
    import json

    out = bench.compact_record(_full_record(500), None)
    line = json.dumps(out)
    assert len(line.encode()) <= bench.COMPACT_BUDGET_BYTES
    assert out["queries_truncated"] == 500
    assert out["value"] is not None


# --- pin-normalized cross-run comparison (scripts/compare_bench.py) --------


def test_compare_bench_normalizes_both_sides():
    import sys as _sys, os as _os

    _sys.path.insert(0, _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
        "scripts"))
    from compare_bench import compare

    old = {"queries": {"q": 1.0},
           "comparability": {"drift_factor": 1.0}}
    new = {"queries": {"q": 1.2},
           "comparability": {"drift_factor": 1.2}}
    rows = compare(old, new)
    # 1.2 wall / 1.2 drift = 1.0 normalized — a pure regime shift must
    # NOT flag (the r11 uniform-drift misreading, automated away)
    assert rows[0]["ratio"] == 1.0 and rows[0]["flag"] is False


def test_compare_bench_flags_real_regressions_and_handles_unstamped():
    import sys as _sys, os as _os

    _sys.path.insert(0, _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
        "scripts"))
    from compare_bench import compare

    old = {"queries": {"q": 1.0, "r": 1.0}}  # unstamped -> drift 1.0
    new = {"queries": {"q": 1.5, "r": 1.1},
           "comparability": {"drift_factor": None}}
    rows = {r["query"]: r for r in compare(old, new)}
    assert rows["q"]["flag"] is True and rows["q"]["ratio"] == 1.5
    assert rows["r"]["flag"] is False


def test_compare_bench_reads_compact_top_level_drift():
    """The r13 compact stdout line carries drift_factor at TOP level
    (no nested comparability block) — the comparator must normalize by
    it, not silently treat the run as unstamped."""
    import sys as _sys, os as _os

    _sys.path.insert(0, _os.path.join(
        _os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))),
        "scripts"))
    from compare_bench import compare

    old = {"queries": {"q": 1.0}, "comparability": {"drift_factor": 1.0}}
    new = {"queries": {"q": 1.2}, "drift_factor": 1.2}  # compact shape
    rows = compare(old, new)
    assert rows[0]["ratio"] == 1.0 and rows[0]["flag"] is False
