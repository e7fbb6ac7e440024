#!/usr/bin/env python3
"""Benchmark runner for the x8313_etl_spark package.

    python3 perfbench/run.py --workload iterative_graph --seed 1 --seconds 20 --trace 0

One process, one local Spark session with one core per CPU. Inputs are
generated from ``--seed`` (gen.py) and the expected outputs are computed
with DuckDB (check.py), both in a child process while the JVM launches.
The run then:

1. sets the package up several times (``get_spark`` plus a fresh import
   of the query registry); ``setup_s`` is the median of the set-ups
   after the first, which also launches the JVM;
2. runs one cold pass over the workload and checks every output; the
   cold pass is not a sample;
3. stamps host noise with bench.py's load gate, host pin and pin drift;
4. runs warm passes for ``--seconds`` (at least one). With ``--trace 1``
   traced and untraced passes alternate; the per-layer metrics come from
   the traced ones and the tracing overhead from comparing the two.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). The line before it holds the
run's details: input sizes, failures by name, host stamps, phase times.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, ".data")

#: set-ups timed per run; the first also launches the JVM and is kept apart
SETUPS = 4

#: repository files the benchmark drives or reuses
NEEDS = ("x8313_etl_spark/__init__.py", "bench.py", "tests/oracle_utils.py",
         "scripts/replica_util.py")


def tail_percentile(samples: list[float], beyond: int = 10) -> tuple[float, float]:
    """The highest percentile of ``samples`` with at least ``beyond``
    samples above it, as (percentile, value). When that percentile
    would fall below the median (fewer than ``2 * beyond + 1``
    samples), the maximum instead."""
    xs = sorted(samples)
    k = len(xs) - beyond - 1
    if k < (len(xs) - 1) // 2:
        return 100.0, xs[-1]
    return 100.0 * (k + 1) / len(xs), xs[k]


def set_up(cpus: int, spark=None):
    """Stop ``spark`` if given, start the session and import the query
    registry from scratch. Returns the session, the registry, and the
    seconds spent in ``get_spark`` and in the registry import."""
    if spark is not None:
        spark.stop()
    for m in [m for m in sys.modules if m.split(".")[0] == "x8313_etl_spark"]:
        del sys.modules[m]
    t0 = time.perf_counter()
    from x8313_etl_spark.session import get_spark

    spark = get_spark("x8313-perfbench", cpus=cpus)
    t1 = time.perf_counter()
    from x8313_etl_spark.registry import registry

    specs = registry()
    t2 = time.perf_counter()
    spark.sparkContext.setLogLevel("ERROR")
    return spark, specs, t1 - t0, t2 - t1


def prepare(workload: str, seed: int) -> subprocess.Popen:
    """Start check.py in a child process: it makes the inputs and the
    expected outputs while the JVM launches. ``prepared`` collects it."""
    return subprocess.Popen(
        [sys.executable, os.path.join(HERE, "check.py"), "--workload", workload,
         "--seed", str(seed)], stdout=subprocess.PIPE, text=True)


def prepared(child: subprocess.Popen) -> dict:
    out, _ = child.communicate(timeout=170)
    if child.returncode:
        raise RuntimeError(f"check.py exited with {child.returncode}")
    return json.loads(out.strip().splitlines()[-1])


def stop_processes(timeout: float = 60.0) -> None:
    """Stop the session, then the JVM and the Python workers it started,
    and wait until every one of them has exited."""
    import tracing
    from pyspark import SparkContext

    children = tracing.proc_tree(os.getpid())[1:]
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        if gateway.proc is not None:
            gateway.proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                gateway.proc.wait(timeout)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                continue
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline + 10:
                time.sleep(0.05)


def main(argv=None) -> int:
    for need in NEEDS:
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"perfbench: {need} not found beside perfbench/; run from a "
                  "checkout of the repository", file=sys.stderr)
            return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads

    ap = argparse.ArgumentParser(description="x8313_etl_spark benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    tmp = os.path.join(DATA, "tmp", f"run-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    # Everything Spark, the JVM and the package write lands in the
    # checkout. A 1 GB driver heap: the inputs are small, the host shared.
    os.environ.update(TMPDIR=tmp, SPARK_LOCAL_DIRS=tmp, SPARK_GRAFT_LOAD_WAIT="0",
                      SPARK_GRAFT_DRIVER_MEM="1g",
                      PYTHONPATH=os.pathsep.join([ROOT, os.environ.get("PYTHONPATH", "")]),
                      JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.chdir(tmp)
    try:
        return run(a, workloads.scaled(workloads.WORKLOADS[a.workload]), os.cpu_count() or 1,
                   tmp)
    finally:
        stop_processes()
        os.chdir(ROOT)
        shutil.rmtree(tmp, ignore_errors=True)


def run(a, wl: dict, cpus: int, tmp: str) -> int:
    import bench
    import tracing
    import workloads
    from check import digest

    clock = [("start", time.perf_counter())]
    gate = bench._load_gate()
    child = prepare(a.workload, a.seed)
    try:
        spark, specs, t_sess, t_reg = set_up(cpus)
        prep = prepared(child)
    finally:
        if child.poll() is None:
            child.kill()
            child.wait()
    setups = [(t_sess, t_reg)]
    clock.append(("prepare_and_first_setup", time.perf_counter()))
    for _ in range(SETUPS - 1):
        spark, specs, t_sess, t_reg = set_up(cpus, spark)
        setups.append((t_sess, t_reg))
    clock.append(("setup", time.perf_counter()))
    from x8313_etl_spark.audit import ledger

    tracer = tracing.Tracer(spark) if a.trace else None
    off = tracing.NullTracer()
    mismatches: dict[str, str] = {}

    if wl["kind"] == "queries":
        def check(name, pdf):
            got = digest(pdf)
            if got != prep["expected"][name]:
                mismatches[name] = f"spark {got} != duckdb {prep['expected'][name]}"

        def one_pass(tr, first=False):
            lat, failed = workloads.query_pass(spark, specs, wl, prep["dir"], tr,
                                               check if first else None)
            return {"lat": lat, "failed": failed, "ops": len(wl["queries"]),
                    "pass_s": sum(lat.values()), "samples": list(lat.values())}
    else:
        state = {"n": 0}

        def one_pass(tr, first=False):
            state["n"] += 1
            root = os.path.join(tmp, f"ingest-{state['n']}")
            lat, failed, st = workloads.ingest_pass(spark, prep, root, tr)
            state.update(st, root=root)
            writes = [x for k in workloads.WRITE_OPS for x in lat[k]]
            return {"lat": lat, "failed": failed, "ops": len(writes) + len(failed),
                    "pass_s": sum(writes) + sum(lat["read"]), "samples": writes}

    passes: list[dict] = [one_pass(off, first=True)]
    clock.append(("cold_pass", time.perf_counter()))
    host_norm = bench._host_norm(spark, prep["host_dir"], 1)
    # the pin is this checkout's first run on this host
    pin_path = os.path.join(DATA, "host_pin.json")
    if not os.path.exists(pin_path):
        with open(pin_path, "w") as fh:
            json.dump({"host_pins": {"perfbench": host_norm}}, fh)
    drift = bench._pin_drift(host_norm, "perfbench", proxy_path=pin_path)
    clock.append(("host_stamp", time.perf_counter()))

    traced: list[dict] = []
    t0 = time.perf_counter()
    while (time.perf_counter() - t0 < a.seconds or len(passes) - len(traced) < 2
           or (a.trace and not traced)):
        if a.trace and len(passes) % 2 == 1:
            n0 = len(tracer.spans)
            p = one_pass(tracer)
            p.update(traced=True, spans=tracer.spans[n0:], ledger_keys=len(ledger()))
            traced.append(p)
        else:
            p = one_pass(off)
        passes.append(p)
    rss = tracing.tree_peak_rss_mb()
    clock.append(("warm_passes", time.perf_counter()))

    warm = [p for p in passes[1:] if not p.get("traced")]
    failures = {k: v for p in passes for k, v in p["failed"].items()}
    extra = check_ingest(spark, prep, state, digest, mismatches) if wl["kind"] == "ingest" else {}
    clock.append(("check", time.perf_counter()))
    attempted = sum(p["ops"] for p in passes)
    n_failed = sum(len(p["failed"]) for p in passes) + len(mismatches)

    samples = [x for p in warm for x in p["samples"]]
    pct, tail = tail_percentile(samples)
    if not a.trace:
        metrics = {
            "setup_s": (statistics.median(s + r for s, r in setups[1:]), "s"),
            "pass_s": (statistics.median(p["pass_s"] for p in warm), "s"),
            "op_p50_s": (statistics.median(samples), "s"),
            "op_tail_s": (tail, "s"),
            "peak_rss_mb": (sum(rss.values()), "MB"),
            # read-only workloads store nothing: no amplification
            "space_amp": (extra.get("space_amp", 1.0), "ratio"),
        }
    else:
        metrics = layer_metrics(spark, wl, prep, warm, traced, setups, tracer, extra,
                                n_failed / attempted)
        tracer.dump(os.path.join(DATA, "traces", f"{a.workload}-seed{a.seed}.json"))
    clock.append(("metrics", time.perf_counter()))

    details = {
        "workload": a.workload, "seed": a.seed, "cpus": cpus, "trace": a.trace,
        "inputs": prep["tables"], "failures": {**failures, **mismatches},
        "pass_s": [round(p["pass_s"], 4) for p in passes],
        "traced": [bool(p.get("traced")) for p in passes],
        "tail_percentile": pct, "tail_samples": len(samples),
        "peak_rss_mb": rss, "phase_s": {k: round(t - clock[i][1], 3)
                                        for i, (k, t) in enumerate(clock[1:])},
        "load_gate": gate, "loadavg_end": os.getloadavg()[0], "host_norm": host_norm,
        "drift_factor": drift.get("drift_factor"),
        "comparable_pins": drift.get("comparable_pins"),
        **{k: v for k, v in extra.items() if k != "space_amp"},
    }
    print(json.dumps({"details": details}))
    print(json.dumps({
        "correct": n_failed == 0,
        "attempted": attempted,
        "failed": n_failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def check_ingest(spark, prep, state, digest, mismatches) -> dict:
    """Reopen the last pass's table and sink from disk, compare them with
    the DuckDB replay, and measure the table's space amplification."""
    import pyspark.sql.functions as F
    import workloads
    from x8313_etl_spark.operators.snapshots import SnapshotTable
    from x8313_etl_spark.operators.upsert_sink import user_profile_sink

    want = prep["expected"]
    table = SnapshotTable(os.path.join(state["root"], "orders"))
    versions = {m["version"] for m in table.versions()}
    lost = [v for v in state["acked"] if v not in versions]
    if lost:
        mismatches["snapshot_acked"] = f"acknowledged versions missing on reopen: {lost}"
    final = table.read(spark)
    got = digest(final.toPandas())
    if got != want["snapshot"]:
        mismatches["snapshot_state"] = f"spark {got} != duckdb {want['snapshot']}"
    sink = user_profile_sink(os.path.join(state["root"], "sink"))
    if sink.current != sink._version_dir(state["epochs"] - 1):
        mismatches["sink_epochs"] = f"reopened sink at {sink.current}, expected epoch " \
                                    f"{state['epochs'] - 1}"
    else:
        got = digest(sink.read_state(spark).select(
            "user_id", "n_events", F.col("sum_dec").cast("string").alias("sum_dec"),
            F.col("last.event_id").alias("last_event_id")).toPandas())
        if got != want["sink"]:
            mismatches["sink_state"] = f"spark {got} != duckdb {want['sink']}"
    compact = os.path.join(state["root"], "compact")
    final.write.parquet(compact)
    return {"space_amp": workloads.du(table.base) / workloads.du(compact),
            "written_per_changed": state["written_per_changed"],
            "live_dirs": state["live_dirs"]}


def layer_metrics(spark, wl, prep, warm, traced, setups, tracer, extra,
                  failed_ratio) -> dict:
    """Per-layer metrics: medians over the traced passes of each pass's
    totals, the set-up split, one input scan per table, and the tracing
    overhead (traced over untraced warm pass time)."""
    import workloads

    def per_pass(fn):
        return statistics.median(fn(p["spans"]) for p in traced)

    def secs(*names):
        return per_pass(lambda spans: sum(s["end"] - s["start"] for s in spans
                                          if s["name"] in names))

    def count(key, *names):
        return per_pass(lambda spans: sum(s.get(key, 0) for s in spans
                                          if not names or s["name"] in names))

    run_s, cpu_s = count("run_s"), count("cpu_s")
    traced_s = statistics.median(p["pass_s"] for p in traced)
    scans = workloads.scan_inputs(spark, wl, prep["star"], tracer)
    return {
        "session.first_start_s": (setups[0][0], "s"),
        "session.get_spark_s": (statistics.median(s for s, _ in setups[1:]), "s"),
        "registry.import_s": (statistics.median(r for _, r in setups[1:]), "s"),
        "queries.build_s": (secs("queries.build"), "s"),
        "queries.build_jobs": (count("jobs", "queries.build"), "count"),
        "audit.ledger_keys": (statistics.median(p["ledger_keys"] for p in traced), "count"),
        "spark.action_s": (secs("spark.action"), "s"),
        "spark.jobs": (count("jobs"), "count"),
        "spark.stages": (count("stages"), "count"),
        "spark.tasks": (count("tasks"), "count"),
        "spark.shuffle_write_mb": (count("shuffle_write_mb"), "MB"),
        "spark.shuffle_read_mb": (count("shuffle_read_mb"), "MB"),
        "spark.spill_mb": (count("spill_mb"), "MB"),
        "spark.executor_run_s": (run_s, "s"),
        "spark.executor_cpu_s": (cpu_s, "s"),
        "spark.cpu_over_run": (cpu_s / run_s if run_s else 0.0, "ratio"),
        "functions.python_cpu_s": (count("python_cpu_s"), "s"),
        "io.input_mb": (count("input_mb"), "MB"),
        "io.input_rows": (count("input_rows"), "count"),
        "io.scan_s": (sum(scans.values()), "s"),
        "cachepool.cached_mb": (tracer.cached_peak_mb, "MB"),
        "cachepool.clear_s": (secs("cachepool.clear"), "s"),
        "snapshots.commit_s": (secs("snapshots.commit"), "s"),
        "snapshots.apply_cdc_s": (secs("snapshots.apply_cdc"), "s"),
        "snapshots.delete_s": (secs("snapshots.delete"), "s"),
        "snapshots.read_s": (secs("snapshots.read"), "s"),
        "snapshots.bytes_written_per_byte_changed":
            (extra.get("written_per_changed", 0.0), "ratio"),
        "snapshots.live_dirs": (extra.get("live_dirs", 0), "count"),
        "upsert_sink.apply_batch_s": (secs("upsert_sink.apply_batch"), "s"),
        "trace.pass_s": (traced_s, "s"),
        "trace.overhead_ratio": (traced_s / statistics.median(p["pass_s"] for p in warm),
                                 "ratio"),
        "ops_failed_ratio": (failed_ratio, "ratio"),
    }


if __name__ == "__main__":
    sys.exit(main())
