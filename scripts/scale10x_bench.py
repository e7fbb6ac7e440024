"""Assemble an FK-consistent ~sf1 replica directory (10x sf0.1), and time
registered queries at sf0.1 and on that replica — the one 10x check.

Key shifts per copy c (0..9), chosen so every foreign key still
resolves and every probe-modulus contract keeps its meaning:
- orders/lineitem: *_orderkey + c*10^9
- customer/orders, part/lineitem, supplier/lineitem: entity keys + c*10^7
- events: event_id + c*10^9, user_id + c*10^7
- embeddings: vec_id + c*10^7 (multiple of the %25/%20 probe moduli;
  the vec_id<2000 capped-probe contracts stay FIXED by construction)
- documents: doc_id + c*10^7 and a per-copy prefix token on text, so
  copies are NEAR-duplicates, not exact ones (exact copies make every
  duplicate cluster pair quadratically — r4's measured artifact)
- region/nation: copied once, unchanged (shared dims)

``sweep`` times each named query the way bench.py does: one warm-up,
then ``--runs`` samples, each after ``bench._cold_caches`` (outside the
timed region) through ``bench._run``'s noop sink. It runs at sf0.1, then
on the replica if one has been built; a replica older than any sf0.1
table is an error (rebuild it after a fixture regen). Per (scale,
query) it prints the median and the samples, and the Spark counters of
the last sample (perfbench/tracing.py ``SparkCounters``): jobs, stages,
tasks, shuffle write, and executor run time against CPU time. The
session uses the default core count (``SPARK_GRAFT_CPUS``, else every
CPU), printed on the first line.

Usage (from the checkout root, as for bench.py: Spark's Python workers
import the package from the working directory):
  python scripts/scale10x_bench.py build
  python scripts/scale10x_bench.py sweep [--runs N] <query>...
  SPARK_GRAFT_SF_DIR=.scratch/replica10x_bench \\
      SPARK_GRAFT_BENCH_RUNS=1 python bench.py
"""

import argparse
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]

SRC = "/root/testdata/sf0.1"
DST = os.path.join(ROOT, ".scratch", "replica10x_bench")
COPIES = 10
SHARED = ("region", "nation")
#: table -> (per-copy key shifts, text column given a per-copy prefix)
SHIFTS = {
    "supplier": ({"s_suppkey": 10**7}, None),
    "customer": ({"c_custkey": 10**7}, None),
    "part": ({"p_partkey": 10**7}, None),
    "orders": ({"o_orderkey": 10**9, "o_custkey": 10**7}, None),
    "lineitem": ({"l_orderkey": 10**9, "l_partkey": 10**7, "l_suppkey": 10**7}, None),
    "events": ({"event_id": 10**9, "user_id": 10**7}, None),
    "embeddings": ({"vec_id": 10**7}, None),
    "documents": ({"doc_id": 10**7}, "text"),
}


def build():
    import pyarrow.parquet as pq

    from replica_util import replicate_table

    os.makedirs(DST, exist_ok=True)
    for name in SHARED:
        t = pq.read_table(f"{SRC}/{name}.parquet")
        pq.write_table(t, f"{DST}/{name}.parquet")
        print(f"{name}: {len(t)} (shared dim, unreplicated)")
    for name, (shifts, text_prefix) in SHIFTS.items():
        replicate_table(SRC, DST, name, shifts, COPIES, text_prefix)
    print("built", DST)


def scales() -> list[tuple[str, str]]:
    """(tag, directory) pairs to sweep: sf0.1, plus the replica when it
    exists. Exits naming every table whose replica copy is missing or
    older than its sf0.1 source."""
    if not os.path.isdir(DST):
        return [("sf0.1", SRC)]
    stale = [
        t for t in (*SHARED, *SHIFTS)
        if not os.path.exists(f"{DST}/{t}.parquet")
        or os.path.getmtime(f"{SRC}/{t}.parquet") > os.path.getmtime(f"{DST}/{t}.parquet")
    ]
    if stale:
        sys.exit(f"sweep: replica {DST} is missing or older than {SRC} for "
                 f"{', '.join(stale)}; rebuild it with "
                 "`python scripts/scale10x_bench.py build`")
    return [("sf0.1", SRC), ("10x", DST)]


def sweep(names: list[str], runs: int) -> None:
    from x8313_etl_spark.registry import registry

    specs = registry()
    unknown = [n for n in names if n not in specs]
    if unknown:
        sys.exit(f"sweep: not registered: {', '.join(unknown)}")
    todo = scales()

    import bench
    import tracing

    from x8313_etl_spark.session import get_spark

    spark = get_spark("scale10x-sweep")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        counters = tracing.SparkCounters(spark)
        print(f"sweep: local[{spark.sparkContext.defaultParallelism}], {runs} samples "
              f"after 1 warm-up, {', '.join(t for t, _ in todo)}", flush=True)
        for tag, sf_dir in todo:
            for name in names:
                fn = specs[name].fn
                bench._run(fn(spark, sf_dir))
                samples = []
                for _ in range(runs):
                    bench._cold_caches(spark)
                    counters.delta()
                    t0 = time.perf_counter()
                    bench._run(fn(spark, sf_dir))
                    samples.append(time.perf_counter() - t0)
                c = counters.delta()
                print(
                    f"{tag:5s} {name:28s} median {statistics.median(samples):8.3f}s "
                    f"samples {[round(s, 3) for s in samples]}  jobs {c['jobs']} "
                    f"stages {c['stages']} tasks {c['tasks']} "
                    f"shuffle_write_mb {c['shuffle_write_mb']:.1f} "
                    f"run_s {c['run_s']:.2f} cpu_s {c['cpu_s']:.2f}",
                    flush=True,
                )
    finally:
        spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    sub.add_parser("build", help="write the 10x replica of sf0.1")
    sw = sub.add_parser("sweep", help="time registered queries at sf0.1 and 10x")
    sw.add_argument("--runs", type=int, default=3, help="timed samples per query")
    sw.add_argument("queries", nargs="+", metavar="query")
    a = ap.parse_args()
    if a.cmd == "sweep" and a.runs < 1:
        ap.error("--runs must be at least 1")
    if a.cmd == "build":
        build()
    else:
        sweep(a.queries, a.runs)


if __name__ == "__main__":
    main()
