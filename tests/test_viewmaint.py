"""JoinViewSink (operators/viewmaint.py): streaming delta-join view
maintenance — epoch commits, replay idempotency, batch-split
invariance, and the incremental ≡ full-recompute gold standard."""

from __future__ import annotations

import pyspark.sql.functions as F

from x8313_etl_spark.operators.viewmaint import JoinViewSink, V_COLS

BATCH_SCHEMA = (
    "side string, c_custkey long, c_nationkey int, bal double, "
    "o_orderkey long, o_custkey long, price double, m int"
)


def _a(spark, rows):
    return spark.createDataFrame(rows, "c_custkey long, c_nationkey int, bal double")


def _b(spark, rows):
    return spark.createDataFrame(rows, "o_orderkey long, o_custkey long, price double")


def _batch(spark, rows):
    """rows: ('A', k, nat, bal, m) or ('B', okey, ckey, price, m)."""
    full = []
    for r in rows:
        if r[0] == "A":
            full.append(("A", r[1], r[2], r[3], None, None, None, r[4]))
        else:
            full.append(("B", None, None, None, r[1], r[2], r[3], r[4]))
    return spark.createDataFrame(full, BATCH_SCHEMA)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _expected_view(a, b):
    return _rows(b.join(a, b.o_custkey == a.c_custkey).select(*V_COLS))


def test_epochs_maintain_view_and_replay_is_idempotent(spark, tmp_path):
    sink = JoinViewSink(str(tmp_path / "jv"))
    a0 = _a(spark, [(1, 10, 100.0), (2, 20, 200.0)])
    b0 = _b(spark, [(11, 1, 1.0), (21, 2, 3.0)])
    sink.init_bases(a0, b0)
    assert _rows(sink.read_view(spark)) == _expected_view(a0, b0)

    # epoch 0: update customer 1, insert order 12->1
    e0 = _batch(spark, [
        ("A", 1, 10, 100.0, -1), ("A", 1, 10, 150.0, 1),
        ("B", 12, 1, 5.0, 1),
    ])
    sink.apply_batch(e0, 0)
    a1, b1 = sink.read_bases(spark)
    assert _rows(sink.read_view(spark)) == _expected_view(a1, b1)

    # epoch 1: delete customer 2 AND insert an order referencing it in
    # the SAME batch — the delta-interaction case must net to zero
    e1 = _batch(spark, [
        ("A", 2, 20, 200.0, -1),
        ("B", 22, 2, 9.0, 1),
    ])
    sink.apply_batch(e1, 1)
    a2, b2 = sink.read_bases(spark)
    view_after = _rows(sink.read_view(spark))
    assert view_after == _expected_view(a2, b2)
    assert not any(r[0] == 22 for r in view_after), "order 22 joins a dead customer"

    # replay epoch 1 (crash-redelivery): state must be unchanged
    sink.apply_batch(e1, 1)
    assert _rows(sink.read_view(spark)) == view_after


def test_batch_split_invariance(spark, tmp_path):
    """Applying one combined delta in a single epoch ≡ applying its two
    halves in consecutive epochs — micro-batch boundaries are not
    semantics."""
    a0 = _a(spark, [(1, 10, 100.0), (2, 20, 200.0), (3, 30, 300.0)])
    b0 = _b(spark, [(11, 1, 1.0), (21, 2, 3.0), (31, 3, 4.0)])
    d1 = [("A", 1, 10, 100.0, -1), ("A", 1, 10, 111.0, 1), ("B", 12, 1, 5.0, 1)]
    d2 = [("A", 3, 30, 300.0, -1), ("B", 31, 3, 4.0, -1), ("B", 22, 2, 9.0, 1)]

    one = JoinViewSink(str(tmp_path / "one"))
    one.init_bases(a0, b0)
    one.apply_batch(_batch(spark, d1 + d2), 0)

    two = JoinViewSink(str(tmp_path / "two"))
    two.init_bases(a0, b0)
    two.apply_batch(_batch(spark, d1), 0)
    two.apply_batch(_batch(spark, d2), 1)

    assert _rows(one.read_view(spark)) == _rows(two.read_view(spark))
    for x, y in zip(one.read_bases(spark), two.read_bases(spark)):
        assert _rows(x) == _rows(y)


def test_restart_recovers_pointer_from_disk(spark, tmp_path):
    """A restarted driver builds a FRESH sink; the committed version
    dirs are the durable state — the pointer must recover."""
    root = str(tmp_path / "rec")
    sink = JoinViewSink(root)
    sink.init_bases(_a(spark, [(1, 10, 100.0)]), _b(spark, [(11, 1, 1.0)]))
    sink.apply_batch(_batch(spark, [("B", 12, 1, 2.0, 1)]), 0)
    want = _rows(sink.read_view(spark))

    recovered = JoinViewSink(root)  # fresh object, same root
    assert _rows(recovered.read_view(spark)) == want
    # and the NEXT epoch builds on the recovered state
    recovered.apply_batch(_batch(spark, [("B", 13, 1, 3.0, 1)]), 1)
    a, b = recovered.read_bases(spark)
    assert _rows(recovered.read_view(spark)) == _expected_view(a, b)


def test_restart_in_init_only_window_recovers_seed(spark, tmp_path):
    """Crash right after init_bases (seed version -1, no epochs yet): a
    fresh sink must recover the pointer from v-1 — the copied isdigit
    version parser could not see negative versions, so this exact
    window crash-looped (review round 6) — and a re-called init_bases
    must be a no-op, not an EEXIST rename failure."""
    root = str(tmp_path / "seedrec")
    a0 = _a(spark, [(1, 10, 100.0)])
    b0 = _b(spark, [(11, 1, 1.0)])
    JoinViewSink(root).init_bases(a0, b0)  # crash here: only v-1 on disk

    sink = JoinViewSink(root)  # restarted driver
    assert sink.current is not None and sink.current.endswith("v-1")
    sink.init_bases(a0, b0)  # replayed init: must not raise
    assert _rows(sink.read_view(spark)) == _expected_view(a0, b0)
    sink.apply_batch(_batch(spark, [("B", 12, 1, 2.0, 1)]), 0)
    a, b = sink.read_bases(spark)
    assert _rows(sink.read_view(spark)) == _expected_view(a, b)


def test_seed_version_is_pruned_once_unreferenced(spark, tmp_path):
    """v-1 participates in retention like any version — the copied
    parser exempted it, leaking a full A/B/V copy forever."""
    import os

    root = str(tmp_path / "seedprune")
    sink = JoinViewSink(root)
    sink.init_bases(_a(spark, [(1, 10, 100.0)]), _b(spark, [(11, 1, 1.0)]))
    for i in range(3):
        sink.apply_batch(_batch(spark, [("B", 20 + i, 1, 1.0, 1)]), i)
    assert not os.path.exists(os.path.join(root, "v-1")), "seed never pruned"
    assert sorted(os.listdir(root)) == ["v1", "v2"]
