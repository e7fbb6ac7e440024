"""The benchmark's workloads and one pass over each.

Why these workloads (sizes, core count and which ones BENCHMARK.json
drives are in README.md):

- ``iterative_graph``: queries whose DataFrame construction runs the
  loop (MinHash LSH plus connected components, label propagation), so
  build time and job count dominate.
- ``ingest_merge``: the only workload that writes through the package:
  snapshot-table commits, MERGE, deletes and reads, and upsert-sink
  epochs. It runs no iterative loop.
- ``etl_star``: short star-join, window, as-of and merge queries; cost is
  fixed per job and stage, with no iterative loop and no Python worker.
- ``corpus``: the Arrow-kernel and shuffle-heavy corpus queries on a
  key-shifted replica; data movement and Python worker CPU dominate.
"""

from __future__ import annotations

import os
import time

import gen

WORKLOADS: dict[str, dict] = {
    "etl_star": {
        "kind": "queries", "sf": 0.01,
        "queries": ["q1_pricing_summary", "a1_groupby_basic", "h5_local_supplier_volume",
                    "h18_large_volume_customer", "j3_broadcast_star_join", "j8_range_join",
                    "j9_asof_join", "j11_star_join_revenue", "w7_topk_per_group",
                    "ts_gap_fill", "f11_higher_order", "m1_merge_upsert"],
        "tables": ["lineitem", "orders", "customer", "supplier", "nation", "region",
                   "part", "events", "embeddings"],
    },
    "iterative_graph": {
        "kind": "queries", "sf": 0.001,
        "queries": ["p_dedup_clusters", "g4_label_propagation"],
        "tables": ["lineitem", "orders", "documents"],
    },
    "corpus": {
        "kind": "queries", "sf": 0.01, "copies": 10,
        "queries": ["p_item_cf", "p_simhash_pairs", "l2_near_dup_pairs",
                    "p_incremental_dedup"],
        "tables": ["lineitem", "orders", "documents"],
    },
    "ingest_merge": {
        "kind": "ingest", "sf": 0.01, "batches": 2,
        "tables": ["orders", "events"],
    },
}


def scaled(wl: dict) -> dict:
    """``wl`` with its scale factor replaced by ``$PERFBENCH_SF`` when
    set (the smoke test runs every workload on sf0.001 inputs)."""
    sf = os.environ.get("PERFBENCH_SF")
    return dict(wl, sf=float(sf)) if sf else wl


def prepare_inputs(wl: dict, seed: int) -> dict:
    """Generate (or reuse) a workload's inputs for ``seed``; returns the
    input directory and the rows and bytes of every input."""
    if wl["kind"] == "ingest":
        star, stats = gen.star_dir(wl["sf"], seed)
        d, manifest = gen.ingest_batches(wl["sf"], seed, wl["batches"])
        tables = {t: stats[t] for t in wl["tables"]}
        for b, entry in enumerate(manifest["batches"]):
            for kind in ("append", "cdc", "eqkeys", "events"):
                tables[f"{kind}-{b}"] = {"bytes": os.path.getsize(entry[kind])}
        return {"dir": d, "star": star, "tables": tables, "manifest": manifest}
    if wl.get("copies"):
        d, stats = gen.replica_dir(wl["sf"], wl["copies"], seed)
    else:
        d, stats = gen.star_dir(wl["sf"], seed)
    return {"dir": d, "star": d, "tables": {t: stats[t] for t in wl["tables"]}}


#: the ingest operations that write (each is acknowledged by a commit)
WRITE_OPS = ("commit", "apply_cdc", "delete", "apply_batch")


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _cold(spark, tracer) -> None:
    """Drop every cached intermediate before a query, as bench.py does,
    so no sample reads blocks an earlier sample left behind."""
    from x8313_etl_spark.operators.cachepool import clear_pool

    with tracer.span("cachepool.clear"):
        clear_pool(forget_ledger=False, blocking=True)
        spark.catalog.clearCache()


def query_pass(spark, specs, wl, data_dir, tracer, check=None):
    """One pass: each query built, then run into the noop sink. Returns
    per-query latency (build + action) and the failures by name. With
    ``check``, the pass is the cold one: each result is collected
    instead and handed to ``check(name, pandas_frame)``."""
    lat, failed = {}, {}
    for name in wl["queries"]:
        _cold(spark, tracer)
        try:
            t0 = time.perf_counter()
            with tracer.span("queries.build", query=name):
                df = specs[name].fn(spark, data_dir)
            with tracer.span("spark.action", query=name):
                result = df.toPandas() if check else _noop(df)
            lat[name] = time.perf_counter() - t0
            tracer.sample_cache()
            if check:
                check(name, result)
        except Exception as exc:  # a failing query is counted and named, not fatal
            failed[name] = f"{type(exc).__name__}: {str(exc)[:200]}"
    return lat, failed


def scan_inputs(spark, wl, star_dir, tracer) -> dict[str, float]:
    """Seconds for ``load_table`` plus a noop scan, per input table."""
    from x8313_etl_spark.io import load_table

    out = {}
    for t in wl["tables"]:
        t0 = time.perf_counter()
        with tracer.span("io.scan", table=t):
            _noop(load_table(spark, star_dir, t))
        out[t] = time.perf_counter() - t0
    return out


def du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def ingest_pass(spark, inputs, root, tracer):
    """One pass over every ingest batch on a fresh table and sink under
    ``root``. The initial load of ``orders`` is not timed. Returns the
    per-op latencies by kind, the failures by op, and what a reopened
    table and sink must show."""
    import pyspark.sql.functions as F
    from x8313_etl_spark.io import load_table
    from x8313_etl_spark.operators.snapshots import SnapshotTable
    from x8313_etl_spark.operators.upsert_sink import user_profile_sink

    man = inputs["manifest"]
    table = SnapshotTable(os.path.join(root, "orders"))
    sink = user_profile_sink(os.path.join(root, "sink"))
    acked = [table.commit(load_table(spark, inputs["star"], "orders"))]
    base_bytes = du(table.base)
    lat: dict[str, list[float]] = {k: [] for k in (*WRITE_OPS, "read")}
    failed: dict[str, str] = {}
    in_bytes = 0
    key = F.col("o_orderkey")

    def op(kind, label, fn):
        try:
            t0 = time.perf_counter()
            with tracer.span(f"snapshots.{kind}" if kind != "apply_batch"
                             else "upsert_sink.apply_batch", op=label):
                v = fn()
            lat[kind].append(time.perf_counter() - t0)
            if kind == "apply_batch":
                return
            acked.append(v)
            t0 = time.perf_counter()
            with tracer.span("snapshots.read", op=label):
                _noop(table.read(spark))
            lat["read"].append(time.perf_counter() - t0)
        except Exception as exc:  # counted and named, the pass goes on
            failed[label] = f"{type(exc).__name__}: {str(exc)[:200]}"

    for b, e in enumerate(man["batches"]):
        in_bytes += sum(os.path.getsize(e[k]) for k in ("append", "cdc", "eqkeys"))
        op("commit", f"append-{b}",
           lambda: table.commit(spark.read.parquet(e["append"]), mode="append"))
        op("apply_cdc", f"cdc-{b}",
           lambda: table.apply_cdc(spark, spark.read.parquet(e["cdc"]), on="o_orderkey"))
        op("delete", f"delete_where-{b}",
           lambda: table.delete_where(spark, (key >= e["delete_lo"]) & (key < e["delete_hi"])))
        op("delete", f"delete_eq-{b}",
           lambda: table.delete_eq(spark, spark.read.parquet(e["eqkeys"]), on="o_orderkey"))
        op("apply_batch", f"epoch-{b}",
           lambda: sink.apply_batch(spark.read.parquet(e["events"]), b))
    m = table.versions()[-1]
    state = {
        "acked": acked, "epochs": len(man["batches"]),
        "written_per_changed": (du(table.base) - base_bytes) / max(1, in_bytes),
        "live_dirs": len(m["dirs"]) + len(m.get("dvs") or []) + len(m.get("eqdvs") or []),
    }
    return lat, failed, state
