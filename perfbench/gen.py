"""Seeded input generator for the benchmark.

Every input the benchmark feeds the package is built here from two
numbers: a fixed BASE seed, which fixes the rows of the synthetic
TPC-H-like star schema (the same distributions as the repository's
test fixtures, see FIXTURES.md), and the run's ``--seed``, which picks
the row order of every table and the contents of the ingest batches.
The same ``--seed`` always gives byte-identical inputs.

Nothing is read from outside the benchmark's own data directory
(``perfbench/.data``), and nothing is written anywhere else.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DATA = os.path.join(HERE, ".data")

#: seed of the base rows; ``--seed`` only permutes them (and draws the
#: ingest batches), so every seed feeds the same multiset of rows
BASE_SEED = 42

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = ("a agg batch big column customer data fast filter group hash join "
          "key line merge order part query row scan slow small sort spark "
          "stream table the value vector window").split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

_DAY_US = 86_400_000_000


def _days_us(start: dt.date, days: np.ndarray) -> pa.Array:
    base = int((dt.datetime(start.year, start.month, start.day)
                - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(base + days.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def base_tables(sf: float) -> dict[str, pa.Table]:
    """The synthetic star schema at scale factor ``sf`` (sf0.1: 600k
    lineitem rows), drawn from BASE_SEED. Column types match
    ``x8313_etl_spark.schemas`` exactly."""
    rng = np.random.default_rng(BASE_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(15, int(15_000 * sf))
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32, i64 = pa.int32(), pa.int64()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": _REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, _PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days_us(dt.date(1995, 1, 1), rng.integers(0, 2405, n_ord)),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days_us(dt.date(1995, 1, 2), rng.integers(0, 2499, n_li)),
    })
    gaps = rng.exponential(30 * 86_400 * 1e6 / n_ev, n_ev).astype(np.int64) + 1
    ev_start = int((dt.datetime(2024, 1, 1) - dt.datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), i64),
        "ts": pa.array(ev_start + np.cumsum(gaps), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), i64),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    vocab = np.asarray(_VOCAB, dtype=object)
    lens = rng.integers(10, 101, n_doc)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), k)]) for k in lens]
    # 5% near-duplicates: another document's text plus one token
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": _pick(rng, _LANGS, n_doc, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(x) for x in texts], i64),
    })
    emb = rng.standard_normal((n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.FixedSizeListArray.from_arrays(emb.ravel(), 64).cast(
            pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    })
    return t


def _write(table: pa.Table, path: str) -> None:
    tmp = path + ".tmp"
    # one row group per file, like the fixtures
    pq.write_table(table, tmp, row_group_size=max(1, table.num_rows))
    os.replace(tmp, path)


def _permuted(table: pa.Table, rng: np.random.Generator) -> pa.Table:
    return table.take(pa.array(rng.permutation(table.num_rows)))


def _stats(d: str, names) -> dict:
    out = {}
    for n in names:
        path = os.path.join(d, f"{n}.parquet")
        out[n] = {"rows": pq.ParquetFile(path).metadata.num_rows,
                  "bytes": os.path.getsize(path)}
    return out


def star_dir(sf: float, seed: int) -> tuple[str, dict]:
    """Seeded row-order copy of the star schema at ``sf``. Returns the
    directory and the rows/bytes of each table."""
    d = os.path.join(DATA, f"sf{sf:g}-seed{seed}")
    done = os.path.join(d, "_SUCCESS")
    if not os.path.exists(done):
        os.makedirs(d, exist_ok=True)
        rng = np.random.default_rng([seed, 1])
        for name, table in base_tables(sf).items():
            _write(_permuted(table, rng), os.path.join(d, f"{name}.parquet"))
        open(done, "w").close()
    return d, _stats(d, TABLES)


#: per-table key shifts that keep foreign keys resolving across copies
#: (the same shifts the repository's 10x scale sweeps use)
_REPLICA_SHIFTS = {
    "lineitem": ({"l_orderkey": 10**7, "l_partkey": 10**6}, None),
    "orders": ({"o_orderkey": 10**7}, None),
    "part": ({"p_partkey": 10**6}, None),
    "documents": ({"doc_id": 10**6}, "text"),
}


def replica_dir(sf: float, copies: int, seed: int) -> tuple[str, dict]:
    """``copies``-fold key-shifted replica of the seeded star schema,
    built with the repository's ``scripts/replica_util.replicate_table``
    (documents get a per-copy text prefix, so copies are near- rather
    than exact duplicates). Tables without shifts are copied as-is."""
    src, _ = star_dir(sf, seed)
    d = os.path.join(DATA, f"sf{sf:g}x{copies}-seed{seed}")
    done = os.path.join(d, "_SUCCESS")
    if not os.path.exists(done):
        sys.path.insert(0, os.path.join(ROOT, "scripts"))
        from replica_util import replicate_table

        os.makedirs(d, exist_ok=True)
        for name in TABLES:
            if name in _REPLICA_SHIFTS:
                shifts, prefix = _REPLICA_SHIFTS[name]
                replicate_table(src, d, name, shifts, copies, text_prefix=prefix)
            else:
                _write(pq.read_table(os.path.join(src, f"{name}.parquet")),
                       os.path.join(d, f"{name}.parquet"))
        open(done, "w").close()
    return d, _stats(d, TABLES)


def ingest_batches(sf: float, seed: int, n_batches: int) -> tuple[str, dict]:
    """Micro-batches for the ingest workload, all drawn from ``seed``.

    ``orders`` (the seeded copy) is the table's initial version. Batch
    ``i`` holds: ``append`` (new orders with fresh keys), ``cdc`` (a
    change set over existing keys: op 'U' rewrites a row, 'D' removes
    it), a key range for ``delete_where``, ``eqkeys`` for ``delete_eq``
    and ``events`` (a slice of the event stream for the upsert sink).
    Returns the directory and a manifest of every batch file."""
    src, _ = star_dir(sf, seed)
    d = os.path.join(DATA, f"ingest-sf{sf:g}-seed{seed}-b{n_batches}")
    man_path = os.path.join(d, "batches.json")
    if not os.path.exists(man_path):
        _write_batches(src, d, seed, n_batches, man_path)
    with open(man_path) as fh:
        manifest = json.load(fh)
    # file names are stored relative to the batch directory
    for entry in manifest["batches"]:
        for kind in ("append", "cdc", "eqkeys", "events"):
            entry[kind] = os.path.join(d, entry[kind])
    manifest["orders"] = os.path.join(src, "orders.parquet")
    return d, manifest


def _write_batches(src: str, d: str, seed: int, n_batches: int, man_path: str) -> None:
    os.makedirs(d, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    orders = pq.read_table(os.path.join(src, "orders.parquet"))
    events = pq.read_table(os.path.join(src, "events.parquet"))
    n_ord = orders.num_rows
    per = max(10, n_ord // 150)  # rows per append/cdc batch: ~0.7% of the table
    next_key = n_ord
    ev_per = events.num_rows // n_batches
    batches = []
    for b in range(n_batches):
        app = _permuted(orders, rng).slice(0, per)
        app = app.set_column(0, "o_orderkey",
                             pa.array(np.arange(next_key, next_key + per), pa.int64()))
        next_key += per
        idx = rng.choice(next_key, per, replace=False)
        cdc = orders.take(pa.array(rng.integers(0, n_ord, per)))
        cdc = cdc.set_column(0, "o_orderkey", pa.array(idx, pa.int64()))
        cdc = cdc.set_column(3, "o_totalprice", pa.array(_money(rng, 1000.0, 500000.0, per)))
        cdc = cdc.append_column("cdc_op", _pick(rng, ["U", "U", "U", "D"], per))
        lo = int(rng.integers(0, next_key - per // 4))
        eq = pa.table({"o_orderkey": pa.array(rng.choice(next_key, per // 4, replace=False),
                                               pa.int64())})
        entry = {"delete_lo": lo, "delete_hi": lo + per // 4}
        for kind, tab in (("append", app), ("cdc", cdc), ("eqkeys", eq),
                          ("events", events.slice(b * ev_per, ev_per))):
            entry[kind] = f"{kind}-{b:03d}.parquet"
            _write(tab, os.path.join(d, entry[kind]))
        batches.append(entry)
    with open(man_path + ".tmp", "w") as fh:
        json.dump({"batches": batches}, fh)
    os.replace(man_path + ".tmp", man_path)
