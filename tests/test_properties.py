"""Property-based tests (SURVEY.md §5.3) — algebraic invariants on
generated data, complementing the fixture-bound oracle tests. Spark
round-trips are expensive, so examples are small and capped."""

from __future__ import annotations

import math

import pyspark.sql.functions as F
from hypothesis import given, settings, strategies as st

from x8313_etl_spark.functions.vector import cosine
from x8313_etl_spark.operators.asof import asof_join
from x8313_etl_spark.operators.dedup import keep_first

_SETTINGS = dict(max_examples=8, deadline=None)

_vec = st.lists(
    st.floats(min_value=-10, max_value=10, allow_nan=False, width=32),
    min_size=4,
    max_size=4,
)


@settings(**_SETTINGS)
@given(v=_vec.filter(lambda v: sum(x * x for x in v) > 1e-6))
def test_cosine_self_is_one(spark, v):
    df = spark.createDataFrame([(v,)], "v array<float>")
    got = df.select(cosine(F.col("v"), F.col("v")).alias("c")).first().c
    assert math.isclose(got, 1.0, rel_tol=1e-9)


@settings(**_SETTINGS)
@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 100), st.integers(-5, 5)),
        min_size=1,
        max_size=20,
    )
)
def test_keep_first_idempotent_and_minimal(spark, rows):
    df = spark.createDataFrame(
        [(k, o, v) for k, o, v in rows], "k int, o int, v int"
    )
    once = keep_first(df, ["k"], [F.col("o"), F.col("v")])
    twice = keep_first(once, ["k"], [F.col("o"), F.col("v")])
    got = sorted((r.k, r.o, r.v) for r in once.collect())
    # one row per key, and it is the (o, v)-minimal one
    expect = {}
    for k, o, v in rows:
        if k not in expect or (o, v) < expect[k]:
            expect[k] = (o, v)
    assert got == sorted((k, o, v) for k, (o, v) in expect.items())
    assert sorted((r.k, r.o, r.v) for r in twice.collect()) == got


@settings(**_SETTINGS)
@given(
    left=st.lists(st.tuples(st.integers(0, 2), st.integers(0, 50)), min_size=1, max_size=12),
    right=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 50), st.integers(0, 99)),
        min_size=1,
        max_size=12,
    ),
)
def test_asof_join_matches_reference(spark, left, right):
    # dedupe right on (key, ts): asof_join documents that requirement
    rmap = {}
    for k, ts, v in right:
        rmap[(k, ts)] = v
    right = [(k, ts, v) for (k, ts), v in rmap.items()]
    ldf = spark.createDataFrame(left, "k int, lts int")
    rdf = spark.createDataFrame(right, "k int, rts int, val int")
    got = {
        (r.k, r.lts): r.val
        for r in asof_join(ldf, rdf, ["k"], "lts", "rts", ["val"]).collect()
    }
    for k, lts in left:
        cands = [(ts, v) for (kk, ts, v) in right if kk == k and ts <= lts]
        want = max(cands)[1] if cands else None
        assert got[(k, lts)] == want, (k, lts, cands)


@settings(**_SETTINGS)
@given(
    big=st.lists(
        st.tuples(st.integers(0, 4), st.integers(0, 1000)), min_size=1, max_size=30
    ),
    small=st.lists(
        st.tuples(st.integers(0, 4), st.text("abc", min_size=1, max_size=3)),
        min_size=1,
        max_size=6,
    ),
)
def test_salted_join_equals_plain_join(spark, big, small):
    from x8313_etl_spark.operators.skew import salted_join

    # unique small-side keys (dim-table shape)
    smap = dict(small)
    small = list(smap.items())
    bdf = spark.createDataFrame(big, "k int, uid int")
    sdf = spark.createDataFrame(small, "k int, v string")
    got = sorted(
        (r.k, r.uid, r.v)
        for r in salted_join(bdf, sdf, on="k", salt_by="uid").collect()
    )
    want = sorted((r.k, r.uid, r.v) for r in bdf.join(sdf, "k").collect())
    assert got == want


def test_simhash_close_docs_low_hamming(spark):
    """Deterministic (fixed md5 constants): a one-word edit of a long doc
    must stay within a few sketch bits; an unrelated doc must not be
    hamming-close to either."""
    import pyspark.sql.functions as F

    from x8313_etl_spark.functions.text import simhash, tokens, word_hashes

    a = " ".join(f"tok{i}" for i in range(60))
    b = a.replace("tok30", "changed")
    c = " ".join(f"other{i}" for i in range(60))
    df = spark.createDataFrame([(0, a), (1, b), (2, c)], "doc_id long, text string")
    s = {
        r.doc_id: r.sh
        for r in df.withColumn("w", tokens(F.col("text")))
        .withColumn("h", word_hashes(F.col("w")))
        .select("doc_id", simhash(F.col("h")).alias("sh"))
        .collect()
    }
    ham = lambda x, y: bin(x ^ y).count("1")
    assert ham(s[0], s[1]) <= 6
    assert ham(s[0], s[2]) >= 8


def test_sequence_pack_segments_tile_the_token_stream(spark):
    """p_sequence_pack invariants on a crafted corpus: per-doc segments
    concatenate to exactly [0, n_tok); per-window coverage is exactly
    PACK_CTX tokens for every window except each source's last; a doc
    longer than the context straddles multiple windows."""
    import pyspark.sql.functions as F

    from x8313_etl_spark.queries.corpus_q import PACK_CTX

    # doc 2 is 700 tokens (> PACK_CTX=512) → must straddle
    texts = {0: 100, 1: 500, 2: 700, 3: 3}
    docs = spark.createDataFrame(
        [(i, " ".join(["tok"] * n), "s") for i, n in texts.items()],
        "doc_id long, text string, source string",
    ).select("doc_id", "text", F.col("source"))
    docs.createOrReplaceTempView("__packdocs")

    import x8313_etl_spark.queries.corpus_q as cq
    from unittest import mock

    with mock.patch.object(cq, "load_table", lambda s, d, n: docs):
        segs = cq.p_sequence_pack(spark, "ignored").collect()

    by_doc = {}
    for r in segs:
        by_doc.setdefault(r.doc_id, []).append((r.window_id, r.seg_start, r.seg_end))
    # per-doc tiling
    for doc, n in texts.items():
        spans = sorted(by_doc[doc], key=lambda x: x[1])
        assert spans[0][1] == 0 and spans[-1][2] == n
        assert all(a[2] == b[1] for a, b in zip(spans, spans[1:]))
    assert len(by_doc[2]) >= 2  # the 700-token doc straddles
    # per-window density: every window but the last holds PACK_CTX tokens
    per_win = {}
    for r in segs:
        per_win[r.window_id] = per_win.get(r.window_id, 0) + (r.seg_end - r.seg_start)
    last = max(per_win)
    assert all(v == PACK_CTX for w, v in per_win.items() if w != last)
    assert sum(per_win.values()) == sum(texts.values())


def test_bm25_self_retrieval_ranks_first(spark):
    """p_bm25_topk sanity on a crafted corpus with no duplicate texts:
    every query document must retrieve ITSELF at rank 1 (it contains
    all its own terms at maximal per-term tf/dl balance), and a document
    sharing no terms with the query must never appear in its top-k."""
    import pyspark.sql.functions as F
    from unittest import mock

    import x8313_etl_spark.queries.corpus_q as cq

    texts = [
        "apple banana cherry date",
        "banana cherry elderberry fig grape",
        "xylophone zebra yak",
        "apple apple banana",
        "quince raisin squash tomato",
    ]
    docs = spark.createDataFrame(
        [(i, t, "s") for i, t in enumerate(texts)],
        "doc_id long, text string, source string",
    )
    with mock.patch.object(cq, "load_table", lambda s, d, n: docs):
        with mock.patch.object(cq, "BM25_N_QUERIES", 3):
            rows = cq.p_bm25_topk(spark, "ignored").collect()
    top1 = {r.q_id: r.doc_id for r in rows if r.rn == 1}
    assert top1 == {0: 0, 1: 1, 2: 2}
    # doc 2 (xylophone/zebra/yak) shares no terms with queries 0 and 1
    assert all(r.doc_id != 2 for r in rows if r.q_id in (0, 1))
    # and nothing shares terms with query 2 except itself
    assert [r.doc_id for r in rows if r.q_id == 2] == [2]


def test_simhash_native_matches_hof_fold(spark):
    """simhash_table_native (explode + 31 native ±1-sum aggs) must be
    bit-identical to the HOF-fold simhash on every doc — the parity the
    native path's docstring promises (mirrors minhash's
    test_native_signature_matches_hof_fold). Includes the edge docs the
    two paths could plausibly diverge on: empty text (split yields one
    empty token — the doc must KEEP a row), a single token, and heavy
    duplicate tokens (the ±1 vote counts multiplicity, not presence)."""
    import pyspark.sql.functions as F

    from x8313_etl_spark.functions.text import simhash, tokens, word_hashes
    from x8313_etl_spark.queries.pipeline_q import simhash_table_native

    texts = [
        "alpha beta gamma delta epsilon zeta eta theta",
        "alpha beta gamma delta epsilon zeta eta thetb",
        "",  # empty text → one empty token → still one sketch row
        "solo",
        "repeat repeat repeat repeat repeat distinct",
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    ref = (
        docs.withColumn("w", tokens(F.col("text")))
        .withColumn("h", word_hashes(F.col("w")))
        .select("doc_id", simhash(F.col("h")).alias("sh_ref"))
    )
    fast = simhash_table_native(docs)
    joined = ref.join(fast, "doc_id", "full")
    assert joined.filter("sh_ref IS NULL OR sh IS NULL").count() == 0
    assert joined.filter("sh_ref != sh").count() == 0


@settings(**_SETTINGS)
@given(
    edges=st.sets(
        st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(lambda e: e[0] != e[1]),
        max_size=20,
    )
)
def test_triangle_counts_match_bruteforce(spark, edges):
    """Degree-ordered orientation (operators/triangles.py) is an
    implementation detail: corner counts must equal a brute-force
    enumeration on arbitrary graphs."""
    from collections import Counter
    from itertools import combinations

    import pandas as pd

    from x8313_etl_spark.operators.triangles import triangle_corner_counts

    canon = {(min(a, b), max(a, b)) for a, b in edges}
    eset = set(canon)
    expected = Counter()
    for x, y, z in combinations(sorted({n for e in canon for n in e}), 3):
        if (x, y) in eset and (x, z) in eset and (y, z) in eset:
            expected.update((x, y, z))
    if not canon:
        return
    # Arrow-backed: the operator reads e three times, and a list-built
    # frame would send its rows through a Python worker each time
    e = spark.createDataFrame(
        pd.DataFrame(sorted(canon), columns=["s1", "s2"]), "s1 long, s2 long"
    )
    got = {r.node: r.tri_cnt for r in triangle_corner_counts(e).collect()}
    assert got == dict(expected), (sorted(canon), got, dict(expected))


@settings(**_SETTINGS)
@given(
    a=st.lists(
        st.tuples(st.integers(0, 5000), st.integers(0, 3000)), min_size=1, max_size=12
    ),
    b=st.lists(
        st.tuples(st.integers(0, 5000), st.integers(0, 3000)), min_size=1, max_size=12
    ),
)
def test_interval_overlap_join_matches_bruteforce(spark, a, b):
    """Blocked overlap join (operators/overlap.py) ≡ the naive
    all-pairs predicate — including intervals spanning many blocks,
    zero-length intervals, and exact-touch endpoints — with no
    duplicate pairs."""
    from x8313_etl_spark.operators.overlap import interval_overlap_join

    ai = [(i, s, s + d) for i, (s, d) in enumerate(a)]
    bi = [(j, s, s + d) for j, (s, d) in enumerate(b)]
    expected = sorted(
        (i, j)
        for i, s0, s1 in ai
        for j, i0, i1 in bi
        if s0 <= i1 and i0 <= s1
    )
    adf = spark.createDataFrame(ai, "aid long, s0 long, s1 long")
    bdf = spark.createDataFrame(bi, "bid long, i0 long, i1 long")
    got = sorted(
        (r.aid, r.bid)
        for r in interval_overlap_join(adf, bdf, block_width=1000).collect()
    )
    assert got == expected, (ai, bi, got, expected)


@settings(**_SETTINGS)
@given(
    times=st.lists(
        st.tuples(st.integers(0, 1), st.integers(0, 10_000)),
        min_size=1,
        max_size=30,
    )
)
def test_session_seq_gap_invariants(spark, times):
    """operators/sessionize.py: within a session every consecutive gap
    is <= gap_us; every session opener (seq > 1) breaks a > gap_us gap;
    seqs are 1-based and contiguous per partition."""
    from x8313_etl_spark.operators.sessionize import with_session_seq

    GAP = 500
    rows = sorted(set(times))
    df = spark.createDataFrame(rows, "pid long, um long")
    out = with_session_seq(df, ["pid"], GAP).collect()
    by_pid = {}
    for r in sorted(out, key=lambda r: (r.pid, r.um)):
        by_pid.setdefault(r.pid, []).append((r.um, r.session_seq))
    for pid, seq in by_pid.items():
        assert seq[0][1] == 1, seq
        for (u0, s0), (u1, s1) in zip(seq, seq[1:]):
            if s1 == s0:
                assert u1 - u0 <= GAP, (pid, seq)
            else:
                assert s1 == s0 + 1, (pid, seq)
                assert u1 - u0 > GAP, (pid, seq)


@settings(**_SETTINGS)
@given(
    vals=st.lists(
        st.one_of(st.none(), st.integers(-50, 50)), min_size=1, max_size=40
    )
)
def test_global_rank_matches_sorted_position(spark, vals):
    """operators/globalrank.py: the two-phase rank must equal the row's
    position under the total order — including nulls (desc_nulls_last)
    and duplicate values (id tiebreak) — at any partition count."""
    import pyspark.sql.functions as F

    from x8313_etl_spark.operators.globalrank import with_global_rank

    rows = [(i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "id long, v long")
    out = with_global_rank(
        df,
        [F.col("v").desc_nulls_last(), F.col("id")],
        partitions=4,
        key="test.global_rank_prop",
        count_col="cnt",
    ).collect()
    # expected: sort by (v desc with nulls last, id)
    expected = sorted(rows, key=lambda r: (r[1] is None, -(r[1] or 0), r[0]))
    exp_rank = {rid: i for i, (rid, _v) in enumerate(expected)}
    assert all(r.cnt == len(rows) for r in out)
    assert {r.id: r.rn for r in out} == exp_rank, (rows, out)


@settings(**_SETTINGS)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 6), st.integers(1, 9)),
        min_size=1,
        max_size=15,
    ),
    rounds=st.integers(1, 4),
)
def test_bounded_sssp_matches_reference(spark, edges, rounds):
    """operators/sssp.py bounded_sssp ≡ driver-side min-plus over paths
    of ≤ rounds edges, on random small weighted digraphs (seeds = even
    nodes)."""
    from x8313_etl_spark.operators.sssp import bounded_sssp

    e = spark.createDataFrame(
        [(s, d, w) for s, d, w in edges], "src int, dst int, w long"
    )
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    seeds = [n for n in nodes if n % 2 == 0]
    sdf = spark.createDataFrame([(n,) for n in seeds] or [(None,)], "node int")
    if not seeds:
        sdf = sdf.filter(F.col("node").isNotNull())
    got = {
        r.node: r.dist for r in bounded_sssp(e, sdf, rounds).collect()
    }
    # reference: k rounds of relaxation over a dict
    ref = {n: 0 for n in seeds}
    for _ in range(rounds):
        nxt = dict(ref)
        for s, d, w in edges:
            if s in ref and ref[s] + w < nxt.get(d, float("inf")):
                nxt[d] = ref[s] + w
        ref = nxt
    assert got == ref


@settings(**_SETTINGS)
@given(
    vals=st.lists(
        st.integers(1, 9999),  # cents → exact double values v/100
        min_size=1,
        max_size=25,
    )
)
def test_two_phase_global_median_matches_sorted_reference(spark, vals):
    """two_phase_global_median ≡ the sorted-list quantile_cont(0.5)
    bracketing, on random multisets (duplicates included)."""
    from x8313_etl_spark.queries.aggregates import two_phase_global_median

    rows = [(c / 100.0, i) for i, c in enumerate(vals)]
    df = spark.createDataFrame(rows, "v double, k long")
    r = two_phase_global_median(
        df, "v", [F.col("k")], key="test.prop_median"
    ).collect()[0]
    s = sorted(c / 100.0 for c in vals)
    n = len(s)
    lo, hi = s[(n - 1) // 2], s[n // 2]
    assert (r.n_rows, r.median_lo, r.median_hi) == (n, lo, hi)
    assert r.median == (round(lo * 100) + round(hi * 100)) / 200.0


@settings(**_SETTINGS)
@given(
    a0=st.lists(
        st.tuples(st.integers(0, 5), st.integers(0, 2), st.integers(0, 99)),
        min_size=0, max_size=8, unique_by=lambda t: t[0],
    ),
    b0=st.lists(
        st.tuples(st.integers(100, 120), st.integers(0, 7), st.integers(0, 99)),
        min_size=0, max_size=10, unique_by=lambda t: t[0],
    ),
    ops=st.data(),
)
def test_delta_join_maintain_equals_full_recompute(spark, a0, b0, ops):
    """m8's delta-join rule ≡ full recompute of the post-state join, on
    random bases and random per-key CDC ops (delete / update / insert on
    each side) — every ΔA⋈ΔB interaction the generator happens to draw."""
    from x8313_etl_spark.queries.etl_q import m8_delta_join_maintain

    akeys = [t[0] for t in a0]
    bkeys = [t[0] for t in b0]
    a_ops = {
        k: ops.draw(st.sampled_from(["keep", "del", "upd"]), label=f"a{k}")
        for k in akeys
    }
    b_ops = {
        k: ops.draw(st.sampled_from(["keep", "del", "upd"]), label=f"b{k}")
        for k in bkeys
    }
    a_ins = ops.draw(
        st.lists(
            st.tuples(st.integers(50, 55), st.integers(0, 2), st.integers(0, 99)),
            max_size=3, unique_by=lambda t: t[0],
        ),
        label="a_ins",
    )
    b_ins = ops.draw(
        st.lists(
            # inserted orders may reference ANY customer key incl. ones
            # this batch deletes — the ΔA⋈ΔB cancellation case
            st.tuples(st.integers(200, 205), st.integers(0, 7), st.integers(0, 99)),
            max_size=3, unique_by=lambda t: t[0],
        ),
        label="b_ins",
    )

    A = "c_custkey long, c_nationkey int, bal double"
    B = "o_orderkey long, o_custkey long, price double"

    def df(rows, schema):
        return spark.createDataFrame(
            [tuple(float(x) if i == 2 else x for i, x in enumerate(r)) for r in rows],
            schema,
        )

    a_old, b_old = df(a0, A), df(b0, B)

    def zset(rows, op_map, ins, bump):
        out = []
        for k, mid, v in rows:
            op = op_map[k]
            if op == "del":
                out.append((k, mid, float(v), -1))
            elif op == "upd":
                out.append((k, mid, float(v), -1))
                out.append((k, mid, float(v + bump), 1))
        out += [(k, mid, float(v), 1) for k, mid, v in ins]
        return out

    da = spark.createDataFrame(
        zset(a0, a_ops, a_ins, 1000) or [(None, None, None, None)],
        A + ", am int",
    )
    db = spark.createDataFrame(
        zset(b0, b_ops, b_ins, 2000) or [(None, None, None, None)],
        B + ", bm int",
    )
    da = da.filter(F.col("c_custkey").isNotNull())
    db = db.filter(F.col("o_orderkey").isNotNull())

    def post(rows, op_map, ins, bump):
        out = [
            (k, mid, v + bump if op_map[k] == "upd" else v)
            for k, mid, v in rows
            if op_map[k] != "del"
        ]
        return out + list(ins)

    a1 = df(post(a0, a_ops, a_ins, 1000), A)
    b1 = df(post(b0, b_ops, b_ins, 2000), B)

    vold = b_old.join(a_old, b_old.o_custkey == a_old.c_custkey).select(
        "o_orderkey", "c_custkey", "c_nationkey", "bal", "price"
    )
    want = b1.join(a1, b1.o_custkey == a1.c_custkey).select(
        "o_orderkey", "c_custkey", "c_nationkey", "bal", "price"
    )
    got = m8_delta_join_maintain(vold, a_old, b_old, da, db)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


@settings(**_SETTINGS)
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 6), st.integers(0, 6), st.integers(1, 9)),
        min_size=1,
        max_size=15,
    ),
    delta=st.integers(1, 5),
    max_buckets=st.integers(1, 4),
)
def test_delta_stepping_matches_dijkstra(spark, edges, delta, max_buckets):
    """operators/sssp.py delta_stepping ≡ driver-side Dijkstra for every
    node with true distance < max_buckets·Δ (the settled horizon), on
    random weighted digraphs, across Δ values (Δ=1 ≈ Dijkstra schedule,
    large Δ ≈ Bellman-Ford)."""
    from x8313_etl_spark.operators.sssp import delta_stepping

    from .oracle_utils import dijkstra

    e = spark.createDataFrame(
        [(s, d, w) for s, d, w in edges], "src int, dst int, w long"
    )
    nodes = sorted({s for s, _, _ in edges} | {d for _, d, _ in edges})
    seeds = [n for n in nodes if n % 2 == 0]
    if not seeds:
        return  # nothing to settle; bucket 0 is empty by construction
    sdf = spark.createDataFrame([(n,) for n in seeds], "node int")
    got = {
        r.node: r.dist
        for r in delta_stepping(e, sdf, delta, max_buckets).collect()
    }
    horizon = max_buckets * delta
    want = {n: d for n, d in dijkstra(edges, seeds).items() if d < horizon}
    assert got == want, (edges, delta, max_buckets)


@settings(**_SETTINGS)
@given(
    vals=st.lists(st.integers(1, 9999), min_size=1, max_size=25)
)
def test_two_phase_global_quantiles_match_fraction_reference(spark, vals):
    """two_phase_global_quantiles ≡ exact-rational quantile_cont
    interpolation (computed with fractions.Fraction — no fp in the
    reference) for a p25/p50/p75/p95 vector on random cent multisets."""
    from fractions import Fraction

    from x8313_etl_spark.queries.aggregates import two_phase_global_quantiles

    QS = [("p25", 1, 4), ("p50", 1, 2), ("p75", 3, 4), ("p95", 19, 20)]
    rows = [(c / 100.0, i) for i, c in enumerate(vals)]
    df = spark.createDataFrame(rows, "v double, k long")
    r = two_phase_global_quantiles(
        df, "v", [F.col("k")], QS, key="test.prop_quantiles"
    ).collect()[0]
    cents = sorted(vals)
    n = len(cents)
    assert r.n_rows == n
    for name, num, den in QS:
        h = Fraction(num * (n - 1), den)
        lo_c, hi_c = cents[math.floor(h)], cents[math.ceil(h)]
        assert getattr(r, f"{name}_lo") == lo_c / 100.0
        assert getattr(r, f"{name}_hi") == hi_c / 100.0
        inner = (num * (n - 1)) % den
        want = (lo_c * (den - inner) + hi_c * inner) / (100.0 * den)
        assert getattr(r, name) == want, (name, vals)
