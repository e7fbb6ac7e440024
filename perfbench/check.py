"""Expected outputs for the benchmark's correctness check.

Every query result is reduced to (row count, order-insensitive hash)
with the repository's own oracle canonicalization
(``tests/oracle_utils.canonical_rows``), so a Spark result and its
DuckDB twin hash equal exactly when the oracle compare would pass at
tolerance 0. The ingest workload is checked against a DuckDB replay of
the same batches.

Run as a script, this computes the expected values for one workload
and seed and caches them beside the generated inputs; ``run.py`` does
that in a child process so neither the generator nor DuckDB is part of
the measured process's memory.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import gen  # noqa: E402
import workloads  # noqa: E402


def digest(pdf) -> dict:
    """Row count and order-insensitive hash of a pandas result."""
    from tests.oracle_utils import canonical_rows

    cols, rows = canonical_rows(pdf)
    h = hashlib.sha256(repr((cols, rows)).encode()).hexdigest()[:16]
    return {"rows": len(rows), "hash": h}


def ingest_replay_sql(manifest: dict) -> list[str]:
    """DuckDB statements that replay the ingest batches onto ``orders``
    in the order the workload applies them; the final ``orders`` table
    is the expected snapshot state and ``profile`` the expected upsert
    sink state."""
    stmts = [f"CREATE TABLE orders AS SELECT * FROM read_parquet('{manifest['orders']}')",
             "CREATE TABLE ev (user_id BIGINT, value DOUBLE, ts TIMESTAMP, "
             "event_id BIGINT, event_type VARCHAR)"]
    for b in manifest["batches"]:
        stmts += [
            f"INSERT INTO orders SELECT * FROM read_parquet('{b['append']}')",
            f"DELETE FROM orders WHERE o_orderkey IN "
            f"(SELECT o_orderkey FROM read_parquet('{b['cdc']}'))",
            f"INSERT INTO orders SELECT * EXCLUDE (cdc_op) FROM read_parquet('{b['cdc']}') "
            "WHERE cdc_op = 'U'",
            f"DELETE FROM orders WHERE o_orderkey >= {b['delete_lo']} "
            f"AND o_orderkey < {b['delete_hi']}",
            f"DELETE FROM orders WHERE o_orderkey IN "
            f"(SELECT o_orderkey FROM read_parquet('{b['eqkeys']}'))",
            f"INSERT INTO ev SELECT user_id, value, ts, event_id, event_type "
            f"FROM read_parquet('{b['events']}')",
        ]
    return stmts


#: the upsert sink's state as DuckDB computes it: per-user count,
#: exact decimal sum, and the id of the latest (ts, event_id) event
PROFILE_SQL = """
SELECT user_id, count(*)::BIGINT AS n_events,
       CAST(sum(CAST(value AS DECIMAL(25, 6))) AS VARCHAR) AS sum_dec,
       first(event_id ORDER BY ts DESC, event_id DESC) AS last_event_id
FROM ev GROUP BY user_id
"""


def expected(workload: str, seed: int) -> dict:
    """The workload's inputs for ``seed`` (directories, table stats) and
    the expected digest of every output. Digests are cached beside the
    inputs."""
    wl = workloads.scaled(workloads.WORKLOADS[workload])
    out = dict(workloads.prepare_inputs(wl, seed), host_dir=gen.star_dir(0.001, seed)[0])
    cache = os.path.join(out["dir"], f"expected-{workload}.json")
    if not os.path.exists(cache):
        with open(cache + ".tmp", "w") as fh:
            json.dump(_digests(wl, out), fh)
        os.replace(cache + ".tmp", cache)
    with open(cache) as fh:
        out["expected"] = json.load(fh)
    return out


def _digests(wl: dict, inputs: dict) -> dict:
    import duckdb

    if wl["kind"] == "queries":
        from tests.oracle_utils import duckdb_connect
        from x8313_etl_spark.registry import registry

        specs = registry()
        con = duckdb_connect(inputs["dir"])
        try:
            return {q: digest(con.execute(specs[q].oracle).fetchdf()) for q in wl["queries"]}
        finally:
            con.close()
    con = duckdb.connect()
    try:
        for s in ingest_replay_sql(inputs["manifest"]):
            con.execute(s)
        return {"snapshot": digest(con.execute("SELECT * FROM orders").fetchdf()),
                "sink": digest(con.execute(PROFILE_SQL).fetchdf())}
    finally:
        con.close()


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    a = ap.parse_args()
    print(json.dumps(expected(a.workload, a.seed)))
