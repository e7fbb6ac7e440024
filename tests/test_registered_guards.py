"""Fixture-nontriviality guards for round-7 registered queries.

The oracle compare (tests/test_oracle.py) proves VALUE equality; these
pin that the fixtures actually EXERCISE the interesting regime — the
g3/g5 lesson that a threshold can silently trivialize an operator when
the fixture regenerates at a different sf.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from pyspark.sql import Window

from x8313_etl_spark.io import load_table


def test_g8_light_round_cap_suffices_on_fixtures(spark, sf_dir, sf_oracle_dir):
    """g8's fixed light-round cap=2 must settle exactly the true
    shortest distances below the 3-bucket horizon at every fixture sf
    (the cap-sufficiency verification the operator docstring demands;
    the registered twin unrolls exactly the capped schedule). The
    reference is exact multi-source Dijkstra over the collected edges."""
    from x8313_etl_spark.operators.sssp import delta_stepping
    from x8313_etl_spark.queries.graph_q import (
        _G8_BUCKETS,
        _G8_LIGHT_ROUNDS,
        _SSSP_SEED_MOD,
        _g8_edges,
    )

    from .oracle_utils import dijkstra

    for d in (sf_dir, sf_oracle_dir):
        eu = _g8_edges(spark, d, f"g8.capcheck.{d}").persist()
        delta = int(
            eu.agg(F.ceil(F.expr("percentile(w, 0.5)")).alias("d")).first()["d"]
        )
        seeds = (
            eu.select(F.col("src").alias("node"))
            .distinct()
            .filter(F.col("node") % _SSSP_SEED_MOD == 0)
        )
        capped = {
            r.node: r.dist
            for r in delta_stepping(
                eu, seeds, delta, _G8_BUCKETS, light_rounds=_G8_LIGHT_ROUNDS
            ).collect()
        }
        edges = [tuple(r) for r in eu.select("src", "dst", "w").collect()]
        true = dijkstra(edges, {s for s, _, _ in edges if s % _SSSP_SEED_MOD == 0})
        horizon = _G8_BUCKETS * delta
        assert capped == {n: x for n, x in true.items() if x < horizon}, d
        eu.unpersist()


def test_p_semdedup_prune_actually_prunes(spark, sf_oracle_dir):
    """τ=0.30 must drop at least one within-cluster near-duplicate on
    the oracle fixture — a τ above every within-cluster cosine would
    pass the value compare while testing nothing."""
    from x8313_etl_spark.queries.similarity_q import p_semdedup_prune

    sdf = p_semdedup_prune(spark, sf_oracle_dir).toPandas()
    assert sdf.n_dropped.sum() > 0, "tau too high: nothing pruned"


def test_p_substr_dedup_spans_nontrivial(spark, sf_oracle_dir):
    """k=8 must flag a non-trivial share of duplicated positions on the
    fixture (measured ~10% at every sf when registered)."""
    from x8313_etl_spark.queries.pipeline_q import p_substr_dedup_spans

    sdf = p_substr_dedup_spans(spark, sf_oracle_dir).toPandas()
    assert len(sdf) > 0 and sdf.n_dup_grams.sum() > 0


def test_p_er_blocked_multikey_band_alone_is_incomplete(spark, sf_oracle_dir):
    """The band family ALONE must miss matches on the live fixture (the
    2-char truncations fall outside the +1 length band) — the reason
    the multikey union exists. The q-gram family is measured COMPLETE
    on this truncation model (pinned below so a fixture regen that
    breaks it is loud); its own failure modes are crafted cases in
    tests/test_blocking.py."""
    from x8313_etl_spark.operators.blocking import (
        band_block_pairs,
        best_match,
        qgram_block_pairs,
    )
    from x8313_etl_spark.io import load_table
    from x8313_etl_spark.queries.pipeline_q import p_er_blocked_multikey

    part = load_table(spark, sf_oracle_dir, "part")
    dirty = part.filter(F.col("p_partkey") % 10 == 0).select(
        F.col("p_partkey").alias("probe_id"),
        F.expr(
            "substr(p_name, 1, length(p_name) - "
            "(CASE WHEN p_partkey % 20 = 0 THEN 1 ELSE 2 END))"
        ).alias("dirty_name"),
    )
    dnames = dirty.select("dirty_name").distinct()
    cnames = part.groupBy("p_name").agg(F.min("p_partkey").alias("cand_id"))
    full = p_er_blocked_multikey(spark, sf_oracle_dir).count()
    band_only = dirty.join(
        best_match(band_block_pairs(dnames, cnames), max_score=3), "dirty_name"
    ).count()
    qgram_only = dirty.join(
        best_match(qgram_block_pairs(dnames, cnames), max_score=3), "dirty_name"
    ).count()
    assert full > 0
    assert full > band_only, "band blocker alone already complete"
    # measured property of the truncation model (sf0.001/0.01/0.1):
    # padded q-grams alone recover every match — if a fixture regen
    # breaks this, the union still covers, but the docstring's recall
    # story must be re-measured (loud, not silent)
    assert qgram_only == full, (qgram_only, full)


# ---------------------------------------------------------------------------
# Round-8 registrations (moved from tests/test_r7_candidates_b.py at
# registration time, rewritten against the registered query fns).
# ---------------------------------------------------------------------------


def test_p_incremental_dedup_nontrivial(spark, sf_oracle_dir):
    """The fixture corpus must exercise the dup path (some batch doc IS
    a near-dup of the index) — a verdict that is all-false would verify
    nothing about the band join."""
    from x8313_etl_spark.queries.pipeline_q import p_incremental_dedup

    out = p_incremental_dedup(spark, sf_oracle_dir)
    assert out.filter(F.col("is_dup")).count() > 0


def test_g11_knn_graph_shape(spark, sf_oracle_dir):
    from x8313_etl_spark.io import load_table
    from x8313_etl_spark.queries.graph_q import g11_knn_graph

    out = g11_knn_graph(spark, sf_oracle_dir).persist()
    n_nodes = out.select("src").distinct().count()
    total = load_table(spark, sf_oracle_dir, "embeddings").count()
    assert n_nodes == total  # EVERY vector is a node (buckets have > k+1 members)
    mut = out.filter(F.col("mutual") == 1).count()
    assert 0 < mut < out.count()  # mutual flag non-trivially split
    out.unpersist()


def test_w17_attribution_covers_multiple_channels(spark, sf_oracle_dir):
    from x8313_etl_spark.queries.windows import w17_last_touch_attribution

    rows = {
        r["channel"]: r["n_purchases"]
        for r in w17_last_touch_attribution(spark, sf_oracle_dir).collect()
    }
    assert len(rows) >= 3  # several touch channels actually credited


def test_m9_time_travel_versions_differ(spark, sf_oracle_dir):
    from x8313_etl_spark.queries.etl_q import m9_time_travel

    rows = {r["version"]: r for r in m9_time_travel(spark, sf_oracle_dir).collect()}
    assert rows[0]["n_rows"] > rows[1]["n_rows"]  # the delete bit
    assert rows[2]["n_rows"] > rows[1]["n_rows"]  # the append bit


def test_w16_funnel_actually_narrows(spark, sf_oracle_dir):
    from x8313_etl_spark.queries.windows import w16_funnel_conversion

    rows = {r["step"]: r for r in w16_funnel_conversion(spark, sf_oracle_dir).collect()}
    assert rows[1]["n_users"] >= rows[2]["n_users"] >= rows[3]["n_users"]
    assert rows[3]["n_users"] > 0  # every step exercised at this sf
    assert rows[2]["conv_ppm"] < 1_000_000  # the ordering constraint bites


def test_dq4_key_skew_profile_no_all_to_one(spark, sf_oracle_dir):
    from x8313_etl_spark.queries.etl_q import dq4_key_skew_profile

    plan = (
        dq4_key_skew_profile(spark, sf_oracle_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # exactly two bounded single-partition stages are permissible: the
    # per-partition COUNT table inside with_global_rank (≤ partitions
    # rows) and the 1-row scalar stats reduce (map-side combined); the
    # per-key table itself must never funnel through one task
    assert plan.count("Exchange SinglePartition") <= 2, plan
    assert "CartesianProduct" not in plan


def test_sim_mmr_rerank_diversifies(spark, sf_oracle_dir):
    """MMR must actually reorder something vs plain top-k: at least one
    probe's MMR selection differs from its top-5 by relevance (if the
    fixture never exercises the diversity term, the twin would verify a
    no-op)."""
    from x8313_etl_spark.queries.similarity_q import sim_mmr_rerank

    out = sim_mmr_rerank(spark, sf_oracle_dir).collect()
    by_probe = {}
    for r in out:
        by_probe.setdefault(r["probe_id"], {})[r["sel_rank"]] = (
            r["vec_id"],
            r["rel"],
        )
    diverged = 0
    for sel in by_probe.values():
        by_rel = sorted(
            ((v[1], v[0]) for v in sel.values()), key=lambda t: (-t[0], t[1])
        )
        mmr_order = [sel[k][0] for k in sorted(sel)]
        if mmr_order != [i for _, i in by_rel]:
            diverged += 1
    assert diverged > 0


def test_p_rag_context_pack_budget_is_exercised(spark, sf_oracle_dir):
    """The budget must actually truncate (some query keeps fewer than
    top-k) AND actually pack (some query keeps more than one doc) —
    otherwise the window/cumsum logic is untested at this sf."""
    from x8313_etl_spark.queries.corpus_q import BM25_TOP_K, p_rag_context_pack

    out = p_rag_context_pack(spark, sf_oracle_dir)
    per_q = {
        r["q_id"]: r["kept"]
        for r in out.groupBy("q_id")
        .agg(F.count(F.lit(1)).alias("kept"))
        .collect()
    }
    assert any(k < BM25_TOP_K for k in per_q.values())
    assert any(k > 1 for k in per_q.values())


def test_p_er_golden_record_has_multi_member_clusters(spark, sf_oracle_dir):
    """Survivorship must actually merge something: the matcher's
    min-partkey representative links same-name probes, so the fixture
    must produce at least one cluster with > 1 member."""
    from x8313_etl_spark.queries.pipeline_q import p_er_golden_record

    out = p_er_golden_record(spark, sf_oracle_dir)
    assert out.filter(F.col("n_members") > 1).count() > 0


def test_p_unigram_train_vocab_is_nontrivial(spark, sf_oracle_dir):
    """The rows-only tokenizer pair's fixture guard: the trained
    vocabulary must contain multi-char pieces (EM actually promoted
    something beyond the char fallback) and the encode must compress
    (fewer pieces than characters for some doc). The EXACTNESS contract
    is tests/test_unigram.py; this pins only that the fixture exercises
    the operator."""
    from x8313_etl_spark.queries.pipeline_q import (
        p_unigram_encode,
        p_unigram_train,
    )

    vocab = p_unigram_train(spark, sf_oracle_dir)
    assert vocab.filter(F.length("piece") > 1).count() > 0
    enc = p_unigram_encode(spark, sf_oracle_dir)
    assert enc.filter(
        (F.col("n_pieces") > 0) & (F.col("n_pieces") < F.col("n_chars_covered"))
    ).count() > 0


def test_w16_funnel_empty_when_no_view_click_sequence(spark, tmp_path):
    """Degenerate-funnel semantics pinned on a crafted corpus: when no
    click ever follows a view, the gap table is empty, so the
    data-derived window row does not exist and the cross join
    annihilates every step row — BOTH engines return an EMPTY result
    (never a divide-by-zero or a null-window row). This is also why
    the twin's NULLIF guard is defensive-only on real fixtures: step 2
    is ≥1 whenever the median-gap row exists (the median user's own
    first click qualifies by construction)."""
    import duckdb
    import pandas as pd

    from x8313_etl_spark.queries.windows import _W16_SQL, w16_funnel_conversion

    ev = pd.DataFrame(
        {
            "event_id": [1, 2, 3, 4],
            "ts": pd.to_datetime(
                ["2024-01-01 10:00", "2024-01-01 09:00",
                 "2024-01-02 10:00", "2024-01-02 09:00"]
            ),
            "user_id": [1, 1, 2, 2],
            "event_type": ["view", "click", "view", "click"],  # clicks BEFORE views
            "value": [0.0, 0.0, 0.0, 0.0],
            "props": ["", "", "", ""],
        }
    )
    d = str(tmp_path / "crafted")
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(d)
    # single parquet FILE with µs timestamps — the fixture layout io.py
    # asserts (a Spark directory write would fail the unit check's open)
    tbl = pa.Table.from_pandas(ev).set_column(
        1, "ts", pa.Table.from_pandas(ev)["ts"].cast(pa.timestamp("us"))
    )
    pq.write_table(tbl, os.path.join(d, "events.parquet"))
    assert w16_funnel_conversion(spark, d).count() == 0
    con = duckdb.connect()
    con.register("events", ev)
    assert len(con.execute(_W16_SQL).fetchdf()) == 0


@pytest.mark.parametrize(
    "margin_sf_dir", ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
)
def test_bm25_floor_boundary_margin(spark, margin_sf_dir):
    """The r9 hardening of p_bm25_topk / p_rag_context_pack quantizes
    each per-term BM25 contribution with FLOOR(t*1e6 + 0.5): the map is
    IEEE-identical across engines GIVEN an identical double t, so the
    only way Spark and DuckDB can still disagree is libm-ln last-ulp
    divergence in t landing exactly on a floor boundary. This guard
    pins that no fixture posting sits within 1e-6 of a boundary —
    ~1000 ulps of the largest term magnitude (measured r9: min distance
    2.9e-4, max |t*1e6| 4.4e6 whose ulp is 9.3e-10) — so a <=few-ulp
    cross-libm wobble provably cannot flip any quantized contribution,
    hence no score_u6, hence no rank. If a driver fixture regeneration
    ever fails this, widen the quantum (1e-5 grid) rather than loosen
    the assert."""
    from x8313_etl_spark.io import load_table
    from x8313_etl_spark.queries.corpus_q import BM25_B, BM25_K1, BM25_N_QUERIES

    d = load_table(spark, margin_sf_dir, "documents")
    tok = d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("double").alias("dl"),
        F.explode(F.split(F.col("text"), " ")).alias("term"),
    )
    tf = tok.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf"), F.first("dl").alias("dl")
    )
    stats = d.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        (
            F.sum(
                F.size(F.split(F.col("text"), " "))
                .cast("double")
                .cast("decimal(25,6)")
            ).cast("double")
            / F.count(F.lit(1))
        ).alias("avgdl"),
    )
    qt = (
        tok.filter(F.col("doc_id") < BM25_N_QUERIES)
        .select(F.col("doc_id").alias("q_id"), "term")
        .distinct()
    )
    tfq = tf.join(F.broadcast(qt.select("term").distinct()), "term", "semi")
    df_t = tfq.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    idf = F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    tfn = (
        F.col("tf")
        * (BM25_K1 + 1)
        / (F.col("tf") + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl")))
    )
    x = (idf * tfn) * F.lit(1000000.0) + F.lit(0.5)
    frac = x - F.floor(x)
    row = (
        tfq.join(F.broadcast(qt), "term")
        .join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .agg(
            F.min(F.least(frac, 1 - frac)).alias("min_dist"),
            F.max(F.abs(x)).alias("max_x"),
        )
        .collect()[0]
    )
    # margin >= ~1000 ulps of the largest quantization input
    assert row.min_dist > 1e-6, (row.min_dist, row.max_x)
    # and the magnitude regime the ulp arithmetic above assumes
    assert row.max_x < 2**33, row.max_x


# ---------------------------------------------------------------------------
# Round-9 registrations (guards moved from the retired candidate modules
# tests/test_r7_candidates.py, test_r9_candidates.py,
# test_r9_candidates_b.py at registration, now exercising the REGISTERED
# fns; the dq5 guard moved from tests/test_r7_candidates_c.py).
# ---------------------------------------------------------------------------


def test_t19_semi_join_is_proper_subset(spark, sf_oracle_dir):
    """The semi join must actually filter (some views lack a click in
    the hour) and actually match (some have one) at this sf."""
    from x8313_etl_spark.io import load_table
    from x8313_etl_spark.queries.streaming_q import t19_stream_semi_join

    n_semi = t19_stream_semi_join(spark, sf_oracle_dir).count()
    n_views = (
        load_table(spark, sf_oracle_dir, "events")
        .filter(F.col("event_type") == "view")
        .count()
    )
    assert 0 < n_semi < n_views


def test_ts_twa_differs_from_row_mean(spark, sf_oracle_dir):
    """TWA must differ from the unweighted row mean on the fixture —
    if sampling were perfectly regular the operator would be untested."""
    from x8313_etl_spark.io import load_table
    from x8313_etl_spark.queries.timeseries_q import ts_twa

    twa = {r["series"]: r["twa_cents"] for r in ts_twa(spark, sf_oracle_dir).collect()}
    mean = {
        r["series"]: r["m"]
        for r in load_table(spark, sf_oracle_dir, "events")
        .groupBy(F.col("event_type").alias("series"))
        .agg(F.expr("CAST(avg(round(value * 100)) AS BIGINT)").alias("m"))
        .collect()
    }
    assert any(abs(twa[s] - mean[s]) > 0 for s in twa)


def test_j18_exercises_both_directions_and_tolerance(spark, sf_oracle_dir):
    """The fixture must produce backward picks, forward picks, AND
    tolerance misses — otherwise nearest ≡ backward and the direction
    logic is untested."""
    from x8313_etl_spark.queries.joins import j18_asof_nearest

    dirs = {
        r["direction"]: r["n"]
        for r in j18_asof_nearest(spark, sf_oracle_dir)
        .groupBy("direction")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert dirs.get("backward", 0) > 0
    assert dirs.get("forward", 0) > 0
    assert dirs.get("none", 0) > 0


def test_j18_tie_prefers_backward(spark, tmp_path):
    """Crafted exact tie: one view d µs BEFORE the purchase and one d µs
    AFTER — nearest must pick the BACKWARD view (the market-data
    convention the docstring claims and the twin's ORDER BY encodes)."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from x8313_etl_spark.queries.joins import j18_asof_nearest

    ev = pd.DataFrame(
        {
            "event_id": [1, 2, 3],
            "ts": pd.to_datetime(
                ["2024-01-01 10:00:00", "2024-01-01 10:20:00",
                 "2024-01-01 10:10:00"]
            ),
            "user_id": [7, 7, 7],
            "event_type": ["view", "view", "purchase"],
            "value": [0.0, 0.0, 5.0],
            "props": ["", "", ""],
        }
    )
    d = str(tmp_path / "crafted")
    os.makedirs(d)
    tbl = pa.Table.from_pandas(ev).set_column(
        1, "ts", pa.Table.from_pandas(ev)["ts"].cast(pa.timestamp("us"))
    )
    pq.write_table(tbl, os.path.join(d, "events.parquet"))
    rows = j18_asof_nearest(spark, d).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["view_id"] == 1 and r["direction"] == "backward"
    assert r["dist_us"] == 10 * 60 * 1_000_000


def test_s21_reader_offset_survives_restart(tmp_path):
    """A reader rebuilt from a checkpoint (fresh instance, same sidecar)
    must not regress below the served high-water — the in-memory-counter
    failure mode the sidecar exists to prevent (r8 review finding)."""
    from x8313_etl_spark.python_ds import STREAM_TICKS, SensorStreamReader

    p = str(tmp_path / "progress")
    r1 = SensorStreamReader(p)
    for _ in range(STREAM_TICKS + 2):
        last = r1.latestOffset()
    assert last == {"tick": STREAM_TICKS}  # holds at the cap
    r2 = SensorStreamReader(p)  # "restart": new instance, same sidecar
    assert r2.latestOffset() == {"tick": STREAM_TICKS}  # no regression
    r3 = SensorStreamReader(None)  # no sidecar: process-local counter
    assert r3.latestOffset() == {"tick": 1}


def test_s21_source_resumes_from_real_checkpoint(spark, tmp_path):
    """LIVE restart drill for the streaming Python source: run the feed
    with a durable checkpoint, stop the query partway, restart it with
    the SAME checkpoint + progress sidecar, and assert the final sink
    holds every row exactly once — the end-to-end form of the
    unit-level offset-regression pin (an invocation-counter offset
    would serve nothing, or re-serve rows, after the restart)."""
    import time as _time

    from x8313_etl_spark.python_ds import (
        STREAM_ROWS_PER_TICK,
        STREAM_TICKS,
        SensorStreamDataSource,
    )

    try:
        spark.dataSource.register(SensorStreamDataSource)
    except Exception:
        pass
    ckpt = str(tmp_path / "ckpt")
    progress = str(tmp_path / "progress")
    out = str(tmp_path / "out")
    want = STREAM_TICKS * STREAM_ROWS_PER_TICK

    def start():
        return (
            spark.readStream.format("x8313_sensor_stream")
            .option("progressDir", progress)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )

    def rows():
        try:
            return spark.read.parquet(out).count()
        except Exception:
            return 0  # sink dir not created yet

    q = start()
    deadline = _time.time() + 120
    while _time.time() < deadline and rows() < STREAM_ROWS_PER_TICK:
        _time.sleep(0.3)
    q.stop()  # stop partway through the feed
    n_mid = rows()
    assert 0 < n_mid, "no batch committed before the stop"

    q = start()  # RESTART from the same checkpoint + sidecar
    deadline = _time.time() + 120
    while _time.time() < deadline and rows() < want:
        _time.sleep(0.5)
    q.stop()
    got = spark.read.parquet(out)
    assert got.count() == want  # nothing lost...
    assert got.select("seq").distinct().count() == want  # ...nothing doubled


def test_x13_sink_commit_is_idempotent(tmp_path):
    """Replaying a committed batchId must be a no-op (retry semantics):
    the version dir survives unchanged and the replay's staged files
    are dropped, not double-published."""
    import os

    from x8313_etl_spark.python_ds import JsonDirStreamWriter, _FileCommit

    base = str(tmp_path / "sink")
    os.makedirs(os.path.join(base, "_staging"))
    w = JsonDirStreamWriter(base)

    def staged(name, content):
        p = os.path.join(base, "_staging", name)
        with open(p, "w") as f:
            f.write(content)
        return _FileCommit(p)

    w.commit([staged("a.jsonl", '{"x": 1}\n')], batchId=0)
    v0 = os.path.join(base, "v0")
    assert sorted(os.listdir(v0)) == ["part-00000.jsonl"]
    # replay with DIFFERENT staged content: must not replace v0
    w.commit([staged("b.jsonl", '{"x": 2}\n')], batchId=0)
    assert sorted(os.listdir(v0)) == ["part-00000.jsonl"]
    assert open(os.path.join(v0, "part-00000.jsonl")).read() == '{"x": 1}\n'
    assert os.listdir(os.path.join(base, "_staging")) == []  # replay cleaned

    # abort drops staged files without publishing
    m = staged("c.jsonl", '{"x": 3}\n')
    w.abort([m], batchId=1)
    assert not os.path.exists(os.path.join(base, "v1"))
    assert os.listdir(os.path.join(base, "_staging")) == []


def test_j19_lookup_is_fact_sized_and_versioned(spark, sf_oracle_dir):
    """Exactly one dimension version per fact (the SCD2 contract), and
    the fixture must exercise MULTIPLE versions per user (a single-
    version dim would make the interval predicate vacuous)."""
    from x8313_etl_spark.io import load_table
    from x8313_etl_spark.queries.joins import j19_scd2_lookup

    out = j19_scd2_lookup(spark, sf_oracle_dir).persist()
    n_facts = (
        load_table(spark, sf_oracle_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .count()
    )
    assert out.count() == n_facts
    assert out.select("purchase_id").distinct().count() == n_facts
    multi = (
        out.groupBy("user_id")
        .agg(F.countDistinct("version_from").alias("nv"))
        .filter(F.col("nv") > 1)
        .count()
    )
    assert multi > 0
    out.unpersist()


def test_m10_all_four_classes_present(spark, sf_oracle_dir):
    """The fixture must exercise every diff class — a diff that never
    sees an add/delete/change verifies nothing about the classifier."""
    from x8313_etl_spark.queries.etl_q import m10_snapshot_diff

    classes = {
        r["diff_class"] for r in m10_snapshot_diff(spark, sf_oracle_dir).collect()
    }
    assert classes == {"added", "deleted", "changed", "unchanged"}


def test_docstats_covers_multiple_slices(spark, sf_oracle_dir):
    from x8313_etl_spark.queries.corpus_q import p_docstats_profile

    assert p_docstats_profile(spark, sf_oracle_dir).count() >= 4


def test_distribution_drift_nontrivial(spark, sf_oracle_dir):
    from x8313_etl_spark.queries.etl_q import dq5_distribution_drift

    rows = dq5_distribution_drift(spark, sf_oracle_dir).collect()
    assert len(rows) >= 5  # several populated bins
    assert sum(r.ref_cnt for r in rows) > 0
    assert sum(r.cur_cnt for r in rows) > 0
    # both halves carry real mass in at least 3 bins each
    assert sum(1 for r in rows if r.ref_cnt > 0) >= 3


def test_incremental_dedup_index_roundtrip(spark, sf_oracle_dir, tmp_path):
    """The standing-index contract COMPOUNDS (r8 verdict item 5): batch
    N's signatures, appended to the persisted parquet index, are batch
    N+1's index — and the verdicts from that round-tripped index equal
    a reference sketched by ``sketch_index`` from the full earlier
    corpus's docs, row for row (including jaccard: both verify from
    identical shingle sets).
    Split: id-ordered halves/quarters via one-row percentile scalars
    (the t16/t18 sentinel pattern, never an id collect). The fixture
    exercises the compounding for real: some batch-2 verdicts point at
    batch-1 partners, which only an index that grew can produce."""
    import os

    from x8313_etl_spark.io import load_table
    from x8313_etl_spark.operators.increment import incremental_near_dups, sketch_index
    from x8313_etl_spark.operators.minhash import (
        shingle_table,
        signature_from_shingles,
    )

    d = load_table(spark, sf_oracle_dir, "documents")
    cuts = d.agg(
        F.expr("percentile(doc_id, 0.5)").alias("c1"),
        F.expr("percentile(doc_id, 0.75)").alias("c2"),
    ).first()
    c1, c2 = int(cuts.c1), int(cuts.c2)
    idx0 = d.filter(F.col("doc_id") <= c1)
    b1 = d.filter((F.col("doc_id") > c1) & (F.col("doc_id") <= c2))
    b2 = d.filter(F.col("doc_id") > c2)

    sig_dir = os.path.join(str(tmp_path), "sig")
    sh_dir = os.path.join(str(tmp_path), "sh")
    # standing index v0: sketched once, persisted as parquet
    signature_from_shingles(shingle_table(idx0, "doc_id", "text")).write.parquet(
        sig_dir
    )
    shingle_table(idx0, "doc_id", "text").write.parquet(sh_dir)

    # ingest batch 1 against the persisted index (the production path:
    # no re-sketching of the index)
    v1 = incremental_near_dups(
        spark.read.parquet(sig_dir), spark.read.parquet(sh_dir), b1
    )
    assert v1.count() == b1.count()

    # ROUND TRIP: append batch 1's own sketches — the ingest's output
    # index state — so they become batch 2's input index
    signature_from_shingles(shingle_table(b1, "doc_id", "text")).write.mode(
        "append"
    ).parquet(sig_dir)
    shingle_table(b1, "doc_id", "text").write.mode("append").parquet(sh_dir)

    v2 = incremental_near_dups(
        spark.read.parquet(sig_dir), spark.read.parquet(sh_dir), b2
    )
    ref = incremental_near_dups(*sketch_index(idx0.unionByName(b1)), b2)

    key = lambda r: (r["doc_id"],)
    got = sorted(map(tuple, v2.collect()), key=lambda t: t[0])
    want = sorted(map(tuple, ref.collect()), key=lambda t: t[0])
    assert got == want  # exact, jaccard doubles included

    # the compounding is exercised: some batch-2 dup has a batch-1
    # partner (only reachable through the appended index)
    assert any(r[1] and r[2] is not None and r[2] > c1 for r in got)


def test_sim_hybrid_rrf_fusion_is_exercised(spark, sf_oracle_dir):
    """Fusion must matter: BOTH retrieval lists contribute rows to the
    fused output, and the fused top-1 disagrees with the lexical top-1
    for at least one query. (No assertion that some doc appears in both
    lists: the fixture's isotropic-embedding regime makes lexical and
    semantic top-5 overlap near-chance — the measured recall caveat in
    the SemDeDup family — so n_lists=2 rows are not guaranteed at this
    sf; both-source contribution is.)"""
    from x8313_etl_spark.queries.corpus_q import p_bm25_topk
    from x8313_etl_spark.queries.similarity_q import sim_hybrid_rrf

    fused = sim_hybrid_rrf(spark, sf_oracle_dir).collect()
    lex = p_bm25_topk(spark, sf_oracle_dir).collect()
    lexset = {(r.q_id, r.doc_id) for r in lex}
    from_sem = sum(1 for r in fused if (r.q_id, r.doc_id) not in lexset)
    from_lex = sum(1 for r in fused if (r.q_id, r.doc_id) in lexset)
    assert from_sem > 0 and from_lex > 0
    lex_top = {r.q_id: r.doc_id for r in lex if r.rn == 1}
    fus_top = {r.q_id: r.doc_id for r in fused if r.fused_rank == 1}
    assert any(fus_top[q] != lex_top.get(q) for q in fus_top)


@pytest.mark.parametrize(
    "margin_sf_dir", ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
)
def test_perplexity_floor_boundary_margin(spark, margin_sf_dir):
    """p_perplexity_filter's r9 hardening quantizes each -ln(P) term
    with FLOOR(t*1e8 + 0.5) — IEEE-identical across engines given an
    identical double, so the only residual hazard is libm-ln last-ulp
    divergence landing exactly on a floor boundary. This pins that
    every distinct (cnt, c1) conditional on the fixture keeps a
    distance from its nearest boundary of at least 32 ulps OF THE
    LARGEST quantization input (measured r9: min distance 1.7e-4 at
    sf0.01 vs ulp(max x) ~2.4e-7 — ~700 ulps), so a <=few-ulp
    cross-libm wobble cannot flip any quantized term. The bigram
    conditional vocabulary is the hazard population (one boundary roll
    per DISTINCT probability, not per occurrence)."""
    from x8313_etl_spark.io import load_table

    d = load_table(spark, margin_sf_dir, "documents")
    b = (
        d.select("doc_id", F.split("text", " ").alias("w"))
        .select(
            "doc_id",
            F.posexplode(F.expr("slice(w, 1, size(w) - 1)")).alias("i", "w1"),
            F.col("w"),
        )
        .select("doc_id", "w1", F.expr("w[i + 1]").alias("w2"))
    )
    c = b.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt"))
    ctx = c.groupBy("w1").agg(F.sum("cnt").alias("c1"))
    x = -F.log(
        F.col("cnt").cast("double") / F.col("c1").cast("double")
    ) * F.lit(1e8) + F.lit(0.5)
    frac = x - F.floor(x)
    row = (
        c.join(ctx, "w1")
        .agg(
            F.min(F.least(frac, 1 - frac)).alias("min_dist"),
            F.max(F.abs(x)).alias("max_x"),
        )
        .collect()[0]
    )
    assert row.min_dist > 32 * (2.0 ** -52) * row.max_x, (
        row.min_dist,
        row.max_x,
    )


@pytest.mark.parametrize(
    "margin_sf_dir", ["/root/testdata/sf0.01", "/root/testdata/sf0.1"]
)
def test_tfidf_floor_boundary_margin(spark, margin_sf_dir):
    """l6_tfidf's r9 hardening: same contract as the BM25/perplexity
    margin guards — every (tf, df) weight input keeps >=32 ulps (of the
    largest quantization input) of distance from its floor boundary, so
    cross-libm ln wobble cannot flip a tfidf_u6 value. Population =
    distinct (tf, df) pairs among the emitted doc_id < 50 rows."""
    from x8313_etl_spark.io import load_table

    d = load_table(spark, margin_sf_dir, "documents")
    t = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = t.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfc = t.distinct().groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    x = (
        F.col("tf").cast("double") * F.log(F.col("n_docs") / F.col("df"))
    ) * F.lit(1e6) + F.lit(0.5)
    frac = x - F.floor(x)
    row = (
        tf.filter(F.col("doc_id") < 50)
        .join(dfc, "term")
        .crossJoin(n)
        .agg(
            F.min(F.least(frac, 1 - frac)).alias("min_dist"),
            F.max(F.abs(x)).alias("max_x"),
        )
        .collect()[0]
    )
    assert row.min_dist > 32 * (2.0 ** -52) * row.max_x, (
        row.min_dist,
        row.max_x,
    )


# ---------------------------------------------------------------------------
# r10 registrations (batches C/D/H) — guards moved here verbatim from
# tests/test_r7_candidates_c.py / test_r8_candidates.py /
# test_r10_candidates.py at registration (candidate modules retired per
# protocol), rewritten against the registered fns.
# ---------------------------------------------------------------------------


def test_ts_zscore_flags_are_nontrivial(spark, sf_oracle_dir):
    """Some anomalies AND some normals — a threshold that never (or
    always) fires verifies nothing about the decision algebra."""
    from x8313_etl_spark.queries.timeseries_q import ts_zscore_anomaly

    out = ts_zscore_anomaly(spark, sf_oracle_dir).groupBy("is_anomaly").count()
    got = {r["is_anomaly"]: r["count"] for r in out.collect()}
    assert got.get(True, 0) > 0 and got.get(False, 0) > 0


def test_m11_delta_is_nonempty_both_ways(spark, sf_oracle_dir):
    """Inserts AND deletes must both carry rows — a one-sided delta
    leaves half the signed-merge algebra unexercised."""
    from x8313_etl_spark.io import load_table
    from x8313_etl_spark.queries.etl_q import _M11_DEL_MOD, _M11_INS_MOD

    li = load_table(spark, sf_oracle_dir, "lineitem")
    n_ins = li.filter(F.col("l_orderkey") % _M11_INS_MOD == 0).count()
    n_del = li.filter(
        (F.col("l_orderkey") % _M11_INS_MOD != 0)
        & (F.col("l_partkey") % _M11_DEL_MOD == 0)
    ).count()
    assert n_ins > 0 and n_del > 0


def test_p_winsorize_clamps_both_tails(spark, sf_oracle_dir):
    """Low-tail and high-tail clamps must both occur, and most rows must
    pass through unclamped (the definition of a 5/95 band)."""
    from x8313_etl_spark.queries.pipeline_q import p_winsorize

    out = p_winsorize(spark, sf_oracle_dir)
    lo_hits = out.filter(F.col("clamped") > F.col("n_tokens")).count()
    hi_hits = out.filter(F.col("clamped") < F.col("n_tokens")).count()
    total = out.count()
    assert lo_hits > 0 and hi_hits > 0
    assert lo_hits + hi_hits < total / 2


def test_t20_rank_actually_cuts(spark, sf_oracle_dir):
    """Some window must have more event types than the top-k keeps —
    otherwise the rank filter is vacuous at this sf."""
    from x8313_etl_spark.io import load_table
    from x8313_etl_spark.queries.streaming_q import _T20_TOPK

    types_per_window = (
        load_table(spark, sf_oracle_dir, "events")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .count()
        .groupBy("window")
        .count()
    )
    assert types_per_window.filter(F.col("count") > _T20_TOPK).count() > 0


def test_p_item_cf_rank_is_discriminative(spark, sf_oracle_dir):
    """The ranking must actually discriminate: some item's top
    neighbor list must contain differing scores (not all ties) —
    all-tied ranks would mean the id tiebreak decided everything and
    the similarity term is untested."""
    from x8313_etl_spark.queries.pipeline_q import p_item_cf

    out = p_item_cf(spark, sf_oracle_dir)
    diverse = (
        out.withColumn(
            "s",
            (F.col("c_ab") * F.col("c_ab")).cast("double")
            / (F.col("c_i") * F.col("c_o")).cast("double"),
        )
        .groupBy("item")
        .agg(F.countDistinct("s").alias("ns"))
        .filter(F.col("ns") > 1)
        .count()
    )
    assert diverse > 0


def test_markov_transitions_nontrivial(spark, sf_oracle_dir):
    """The matrix must be a real matrix (every state reached from more
    than one predecessor) and rows must roughly normalize (sum of
    floor-divided ppm within |row| of 10^6)."""
    from collections import defaultdict

    from x8313_etl_spark.queries.pipeline_q import p_markov_transitions

    rows = p_markov_transitions(spark, sf_oracle_dir).collect()
    prevs = {r.prev_type for r in rows}
    nexts = {r.next_type for r in rows}
    assert len(prevs) >= 3 and len(nexts) >= 3
    sums = defaultdict(int)
    widths = defaultdict(int)
    for r in rows:
        sums[r.prev_type] += r.prob_ppm
        widths[r.prev_type] += 1
    for p, s in sums.items():
        assert 10**6 - widths[p] <= s <= 10**6


def test_vwap_bars_nontrivial(spark, sf_oracle_dir):
    from x8313_etl_spark.queries.timeseries_q import ts_vwap_bars

    rows = ts_vwap_bars(spark, sf_oracle_dir).collect()
    assert len(rows) >= 10  # multiple weekly bars
    assert all(r.vwap_cents > 0 for r in rows)


def test_g12_scores_non_adjacent_pairs(spark, sf_dir, sf_oracle_dir):
    """The link-prediction consumer needs NON-edge wedge pairs to exist
    (and some edges too, so is_edge is exercised both ways) at every
    fixture sf."""
    from x8313_etl_spark.queries.graph_q import g12_node_jaccard

    for d in (sf_dir, sf_oracle_dir):
        rows = g12_node_jaccard(spark, d).groupBy("is_edge").count().collect()
        got = {r["is_edge"]: r["count"] for r in rows}
        assert got.get(False, 0) > 0, d
        assert got.get(True, 0) > 0, d


def test_containment_values_are_directional_on_fixture(spark, sf_dir, sf_oracle_dir):
    """The fixture's near-dup pairs are similar-length (measured: no
    pair crosses τ in only one direction at any τ ≥ 0.35), so the
    fixture guard pins what the data DOES exercise: non-empty output
    with directionally DIFFERENT containment values for some pair. The
    one-way subset semantics — the operator's reason to exist — is
    pinned by the crafted test below."""
    from x8313_etl_spark.queries.pipeline_q import p_shingle_containment

    for d in (sf_dir, sf_oracle_dir):
        rows = p_shingle_containment(spark, d).collect()
        got = {(r["doc_a"], r["doc_b"]): r["containment"] for r in rows}
        assert got, d
        assert any(
            (b, a) in got and abs(got[(a, b)] - got[(b, a)]) > 0
            for a, b in got
        ), d


def test_containment_flags_subset_one_way(spark):
    """A doc that IS a contiguous slice of a larger doc must be flagged
    a→b (containment 1.0) while the larger doc stays below τ in the
    reverse direction — the quote/subset case symmetric Jaccard
    misses."""
    from x8313_etl_spark.queries.pipeline_q import _containment_over

    big_words = [f"w{i}" for i in range(40)]
    small_words = big_words[10:18]  # 8 words → 6 shingles, all in big
    docs = spark.createDataFrame(
        [(1, " ".join(big_words)), (2, " ".join(small_words))],
        "doc_id long, text string",
    )
    rows = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in _containment_over(docs).collect()
    }
    assert rows == {(2, 1): 1.0}


def test_embed_outliers_flags_a_minority(spark, sf_dir, sf_oracle_dir):
    """The p90 gate must flag SOME vectors but never a majority at any
    fixture sf (a degenerate threshold would pass the value compare
    while gating nothing / everything)."""
    from x8313_etl_spark.queries.similarity_q import p_embed_outliers

    for d in (sf_dir, sf_oracle_dir):
        rows = p_embed_outliers(spark, d).groupBy("is_outlier").count().collect()
        got = {r["is_outlier"]: r["count"] for r in rows}
        assert got.get(True, 0) > 0, d
        assert got.get(True, 0) * 2 < got.get(False, 0), d


def test_dq6_flags_some_but_not_all(spark, sf_dir, sf_oracle_dir):
    """The quantile-derived k must leave BOTH violating and conforming
    cohorts at every fixture sf — a k above every cohort (or below all)
    would pass the value compare while auditing nothing."""
    from x8313_etl_spark.queries.etl_q import dq6_k_anonymity

    for d in (sf_dir, sf_oracle_dir):
        rows = dq6_k_anonymity(spark, d).groupBy("is_violation").count().collect()
        got = {r["is_violation"]: r["count"] for r in rows}
        assert got.get(True, 0) > 0, d
        assert got.get(False, 0) > 0, d


# --- batch I (registered r11) ---------------------------------------------


def test_g13_lcc_spans_open_and_closed_neighborhoods(spark, sf_oracle_dir):
    """The fixture graph must exercise the ratio: some node with
    lcc < 1 (an open wedge) and some node with lcc > 0 (a closed
    triangle) — a graph that is one clique, or triangle-free, tests
    only a constant."""
    from x8313_etl_spark.queries.graph_q import g13_local_clustering

    rows = g13_local_clustering(spark, sf_oracle_dir).collect()
    assert any(r["tri2"] > 0 for r in rows)
    assert any(r["tri2"] < r["wedges"] for r in rows)


def test_w18_rank_actually_cuts(spark, sf_oracle_dir):
    """More distinct paths must exist than the top-k keeps, and counts
    must not be all-tied (otherwise the ordering is untested)."""
    from x8313_etl_spark.queries.windows import _W18_TOPK, w18_event_paths

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = load_table(spark, sf_oracle_dir, "events")
    n_paths = (
        ev.select(
            F.col("event_type").alias("t1"),
            F.lead("event_type", 1).over(w).alias("t2"),
            F.lead("event_type", 2).over(w).alias("t3"),
            "user_id", "ts", "event_id",
        )
        .filter(F.col("t3").isNotNull())
        .select(F.concat_ws(">", "t1", "t2", "t3").alias("path"))
        .distinct()
        .count()
    )
    assert n_paths > _W18_TOPK
    rows = w18_event_paths(spark, sf_oracle_dir).collect()
    assert len({r["n"] for r in rows}) > 1


def test_p_query_expansion_terms_are_new(spark, sf_oracle_dir):
    """Every expansion term must be absent from its query's own term
    set (the anti-join contract), and every query must receive the
    full complement of expansion terms at this sf."""
    from x8313_etl_spark.queries.corpus_q import (
        _QE_TERMS,
        BM25_N_QUERIES,
        p_query_expansion,
    )

    out = p_query_expansion(spark, sf_oracle_dir).collect()
    per_q = {}
    for r in out:
        per_q.setdefault(r["q_id"], []).append(r["term"])
    assert len(per_q) == BM25_N_QUERIES
    assert all(len(v) == _QE_TERMS for v in per_q.values())
    d = load_table(spark, sf_oracle_dir, "documents")
    qtext = {
        r["doc_id"]: set(r["text"].split(" "))
        for r in d.filter(F.col("doc_id") < BM25_N_QUERIES).collect()
    }
    for q, terms in per_q.items():
        assert not (set(terms) & qtext[q])


def test_p_media_dedup_groups_are_nontrivial(spark, sf_oracle_dir):
    """Duplicate AND singleton groups must both exist (the planted
    structure), and dup verdicts must point at a different file."""
    from x8313_etl_spark.queries.pipeline_q import p_media_dedup

    rows = p_media_dedup(spark, sf_oracle_dir).collect()
    assert any(r["n_copies"] > 1 for r in rows)
    assert any(r["n_copies"] == 1 for r in rows)
    for r in rows:
        if r["is_dup"]:
            assert r["canonical"] != r["fname"]


def test_s23_decoration_is_adversarial(spark, sf_oracle_dir):
    """The decorated text must actually contain the three hazards
    (comma, doubled-quote material, embedded newline) — otherwise the
    round-trip proves nothing about quoting."""
    d = load_table(spark, sf_oracle_dir, "documents").limit(1).collect()[0]
    decorated = 'pre,"fix"\n' + d["text"] + ',"tail'
    assert "," in decorated and '"' in decorated and "\n" in decorated


# --- batch J (registered r12) ----------------------------------------------


def test_ts_changepoint_split_is_interior_and_varied(spark, sf_oracle_dir):
    """Splits must not degenerate to a constant position (k=1 or k=n−1
    everywhere would mean the gain term never discriminates), and the
    two segment means must differ for some series (a split with equal
    means detects nothing)."""
    from x8313_etl_spark.queries.timeseries_q import ts_changepoint

    rows = ts_changepoint(spark, sf_oracle_dir).collect()
    assert rows
    ks = {r.k_split for r in rows}
    assert len(ks) >= 3
    assert any(r.mu_l_cents != r.mu_r_cents for r in rows)
    assert all(1 <= r.k_split < r.n for r in rows)


def test_ts_changepoint_recovers_planted_shift(spark):
    """A crafted series with a level shift at position 10 must split
    exactly there — the semantic contract, independent of fixtures."""
    import pandas as pd

    rows = [(1, i, i, 100.0 if i <= 10 else 500.0) for i in range(1, 25)]
    df = pd.DataFrame(rows, columns=["user_id", "event_id", "tick", "value"])
    df["ts"] = pd.to_datetime(df["tick"], unit="s")
    sdf = spark.createDataFrame(df[["user_id", "ts", "event_id", "value"]])
    # same expressions as the registered fn, over the crafted frame
    ev = sdf.select(
        F.col("user_id").alias("series"), "ts", "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    w_ord = (
        Window.partitionBy("series").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_seq = Window.partitionBy("series").orderBy("ts", "event_id")
    w_all = Window.partitionBy("series")
    r = ev.select(
        "series",
        F.row_number().over(w_seq).cast("bigint").alias("k"),
        F.sum("cents").over(w_ord).alias("a"),
        F.count(F.lit(1)).over(w_all).alias("n"),
        F.sum("cents").over(w_all).alias("t"),
    ).filter(F.col("k") < F.col("n"))
    b = F.col("t") - F.col("a")
    num = (F.col("a") * F.col("a") * (F.col("n") - F.col("k")) + b * b * F.col("k"))
    den = F.col("k") * (F.col("n") - F.col("k"))
    best = Window.partitionBy("series").orderBy(
        (num.cast("double") / den.cast("double")).desc(), F.col("k")
    )
    got = (
        r.withColumn("rn", F.row_number().over(best))
        .filter(F.col("rn") == 1)
        .select("k")
        .collect()
    )
    assert got[0]["k"] == 10


def test_a27_weighted_differs_from_unweighted(spark, sf_oracle_dir):
    """The quantity weighting must MOVE the median for some group —
    otherwise the fixture never exercises the weighted path (a
    degenerate all-equal-weights table would pass the twin)."""
    from x8313_etl_spark.queries.aggregates import a27_weighted_median

    li = load_table(spark, sf_oracle_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("cents"),
    )
    unweighted = {
        r["l_returnflag"]: r["m"]
        for r in li.groupBy("l_returnflag")
        .agg(F.expr("percentile(cents, 0.5)").alias("m"))
        .collect()
    }
    weighted = {
        r["l_returnflag"]: r["median_cents"]
        for r in a27_weighted_median(spark, sf_oracle_dir).collect()
    }
    assert any(
        abs(weighted[k] - unweighted[k]) > 0 for k in weighted
    ), (weighted, unweighted)


def test_radius_is_selective_but_nonempty(spark, sf_dir, sf_oracle_dir):
    """τ must keep SOME pairs and reject MOST in-bucket pairs at every
    fixture sf — an always-empty or always-full radius verifies
    nothing."""
    from x8313_etl_spark.queries.similarity_q import (
        _RADIUS_PROBE_MOD,
        _ivf_assign,
        sim_radius_neighbors,
    )

    for d in (sf_dir, sf_oracle_dir):
        kept = sim_radius_neighbors(spark, d).count()
        assign = _ivf_assign(spark, d)
        probes = assign.filter(
            F.col("vec_id") % _RADIUS_PROBE_MOD == 0
        ).select(F.col("vec_id").alias("probe_id"), "cent_id")
        bucket_pairs = (
            assign.join(probes, "cent_id")
            .filter(F.col("vec_id") != F.col("probe_id"))
            .count()
        )
        assert kept > 0, d
        assert kept * 5 < bucket_pairs, (d, kept, bucket_pairs)


def test_systematic_sample_is_proportional(spark, sf_oracle_dir):
    """Each source draws between 1 and k docs, the total draw is a
    small fraction of the corpus, and long docs are over-represented
    vs short (the PPS property: selected mean n_tokens > corpus
    mean)."""
    from x8313_etl_spark.queries.pipeline_q import _SYS_K, p_systematic_sample

    out = p_systematic_sample(spark, sf_oracle_dir)
    per = {r["source"]: r["cnt"] for r in
           out.groupBy("source").agg(F.count(F.lit(1)).alias("cnt")).collect()}
    assert per and all(1 <= v <= _SYS_K for v in per.values())
    d = load_table(spark, sf_oracle_dir, "documents")
    n_docs = d.count()
    n_sel = out.count()
    assert n_sel * 4 < n_docs, (n_sel, n_docs)
    mean_all = d.select(
        F.avg(F.size(F.split(F.col("text"), " "))).alias("m")
    ).collect()[0]["m"]
    mean_sel = out.select(F.avg("n_tokens").alias("m")).collect()[0]["m"]
    assert mean_sel > mean_all, (mean_sel, mean_all)


def test_dq8_flags_some_but_not_all(spark, sf_dir, sf_oracle_dir):
    """The rank-derived threshold must leave BOTH stale and fresh keys
    at every fixture sf (~25% stale by construction, modulo ties)."""
    from x8313_etl_spark.queries.etl_q import dq8_freshness

    for d in (sf_dir, sf_oracle_dir):
        rows = dq8_freshness(spark, d).groupBy("is_stale").count().collect()
        got = {r["is_stale"]: r["count"] for r in rows}
        assert got.get(True, 0) > 0, d
        assert got.get(True, 0) < got.get(False, 0), d


# --- r13 registrations (batch K + the batch-M substitution) -----------------


def test_w19_quartiles_are_balanced_and_full(spark, sf_oracle_dir):
    """Every quartile 1..4 must be populated on every axis with near-n/4
    counts (rank-derived buckets can differ by at most the remainder),
    and more than one distinct cell must exist."""
    import collections

    from x8313_etl_spark.queries.windows import w19_rfm_cells

    rows = w19_rfm_cells(spark, sf_oracle_dir).collect()
    n = len(rows)
    for axis in ("r_q", "f_q", "m_q"):
        cnt = collections.Counter(getattr(r, axis) for r in rows)
        assert set(cnt) == {1, 2, 3, 4}, (axis, dict(cnt))
        assert max(cnt.values()) - min(cnt.values()) <= 1 + n % 4
    assert len({r.rfm_cell for r in rows}) > 1


def test_p_span_corruption_spans_disjoint_and_in_bounds(spark, sf_oracle_dir):
    """The structural contract: per doc, spans are non-overlapping,
    inside the token range, every masked string holds exactly
    _SPAN_LEN tokens, and multi-span docs exist (the explode is
    non-trivially exercised)."""
    import collections

    from x8313_etl_spark.queries.pipeline_q import _SPAN_LEN, p_span_corruption

    rows = p_span_corruption(spark, sf_oracle_dir).collect()
    assert rows
    per_doc = collections.defaultdict(list)
    for r in rows:
        per_doc[r.doc_id].append(r)
        assert len(r.masked.split(" ")) == _SPAN_LEN
    assert any(len(v) > 1 for v in per_doc.values())
    for spans in per_doc.values():
        spans.sort(key=lambda r: r.start)
        for a, b in zip(spans, spans[1:]):
            assert a.start + _SPAN_LEN <= b.start


def test_m12_untouched_partitions_keep_odd_keys(spark, sf_oracle_dir):
    """The discriminating facts: overwritten partitions (<3) lost their
    odd keys (whole-partition replacement) while untouched partitions
    kept them, and both partition groups are non-empty."""
    from x8313_etl_spark.queries.etl_q import m12_dynamic_partition_overwrite

    rows = m12_dynamic_partition_overwrite(spark, sf_oracle_dir).collect()
    low = [r for r in rows if r.c_nationkey < 3]
    high = [r for r in rows if r.c_nationkey >= 3]
    assert low and high
    assert all(r.c_custkey % 2 == 0 for r in low)
    assert any(r.c_custkey % 2 == 1 for r in high)


def test_p_budget_allocation_sums_to_budget_and_is_proportional(
    spark, sf_oracle_dir
):
    """The Hamilton contract: selected rows number EXACTLY the budget,
    every source's pick count equals its quota, and each quota is
    within 1 of the exact proportional share."""
    import collections

    from x8313_etl_spark.queries.pipeline_q import _BUDGET_N, p_budget_allocation

    rows = p_budget_allocation(spark, sf_oracle_dir).collect()
    assert len(rows) == _BUDGET_N
    picks = collections.Counter(r.source for r in rows)
    quotas = {r.source: r.quota for r in rows}
    assert picks == collections.Counter(quotas)  # count per source == quota
    corpus = collections.Counter(
        r.source
        for r in load_table(spark, sf_oracle_dir, "documents")
        .select("source")
        .collect()
    )
    total = sum(corpus.values())
    for src, q in quotas.items():
        exact = _BUDGET_N * corpus[src] / total
        assert abs(q - exact) < 1.0, (src, q, exact)


def test_p_dedup_recall_eval_is_informative(spark, sf_oracle_dir):
    """The measurement must be non-degenerate on the fixture: true
    pairs exist, candidates exist, the intersection is non-empty, and
    precision is NOT 10⁶ ppm (banding admits some sub-threshold
    candidates — if it didn't, the eval would be vacuous) while recall
    is positive."""
    from x8313_etl_spark.queries.pipeline_q import p_dedup_recall_eval

    row = p_dedup_recall_eval(spark, sf_oracle_dir).collect()[0]
    assert row.n_true > 0 and row.n_cand > 0 and row.n_tp > 0
    assert 0 < row.recall_ppm <= 1_000_000
    assert 0 < row.precision_ppm < 1_000_000


# --- r13 batch-L registrations (raised-budget round) ------------------------


def test_w20_credits_sum_to_one_million_per_user(spark, sf_oracle_dir):
    """The attribution contract: per-user credits sum to EXACTLY 10⁶
    ppm at every journey length, and the fixture exercises k=1, k=2
    and k≥3 journeys (all three CASE regimes live)."""
    import collections

    from x8313_etl_spark.queries.windows import w20_position_attribution

    rows = w20_position_attribution(spark, sf_oracle_dir).collect()
    assert rows
    per_user = collections.defaultdict(int)
    ks = set()
    for r in rows:
        per_user[r.user_id] += r.credit_ppm
        ks.add(r.n_touches)
    assert all(v == 1_000_000 for v in per_user.values())
    assert 1 in ks and 2 in ks and any(k >= 3 for k in ks)


def test_dq9_discriminates(spark, sf_oracle_dir):
    """The audit must see BOTH outcomes on the fixture: at least one
    violated FD and at least one clean FD (an all-red or all-green
    suite verifies nothing)."""
    from x8313_etl_spark.queries.etl_q import dq9_fd_audit

    rows = {r.fd: r for r in dq9_fd_audit(spark, sf_oracle_dir).collect()}
    assert len(rows) == 3
    assert any(r.n_violating > 0 for r in rows.values())
    assert any(r.n_violating == 0 for r in rows.values())
    clean = rows["nation.n_name->n_regionkey"]
    assert clean.n_violating == 0 and clean.violation_ppm == 0


def test_p_hard_negatives_are_cross_label_and_hard(spark, sf_oracle_dir):
    """Every mined negative must carry a label different from its
    anchor's (join back to verify), and negatives must be HARD: the
    mean top-1 negative cosine must exceed the corpus mean pairwise
    cosine proxy (0 for isotropic vectors) — i.e. strictly positive."""
    import pyspark.sql.functions as F

    from x8313_etl_spark.queries.pipeline_q import p_hard_negatives

    out = p_hard_negatives(spark, sf_oracle_dir)
    emb = load_table(spark, sf_oracle_dir, "embeddings").select(
        F.col("vec_id").alias("anchor_id"), F.col("label").alias("alabel")
    )
    rows = out.join(emb, "anchor_id").collect()
    assert rows
    assert all(r.label != r.alabel for r in rows)
    top1 = [r.cos_sim for r in rows if r.rn == 1]
    assert top1 and sum(top1) / len(top1) > 0.0


def test_ts_anomaly_mad_is_selective(spark, sf_oracle_dir):
    """Flags must exist but stay a strict minority of rows, and every
    flagged row must satisfy the predicate against its own series'
    MAD evidence."""
    from x8313_etl_spark.queries.timeseries_q import _MAD_K, ts_anomaly_mad

    rows = ts_anomaly_mad(spark, sf_oracle_dir).collect()
    assert rows
    total = load_table(spark, sf_oracle_dir, "events").count()
    assert len(rows) < total / 4
    assert all(r.dev > _MAD_K * r.mad_cents for r in rows)


def test_s24_written_files_are_nested_json(spark, sf_oracle_dir):
    """The sink side-effect is real nested JSON: a written line parses
    as an object whose meta is an object and stats an array."""
    import glob
    import json
    import os

    from x8313_etl_spark.queries.sources_q import _SCRATCH, s24_nested_json_roundtrip

    s24_nested_json_roundtrip(spark, sf_oracle_dir).count()
    tag = os.path.basename(sf_oracle_dir.rstrip("/"))
    files = glob.glob(os.path.join(_SCRATCH, f"s24_nested_{tag}", "part-*.json"))
    assert files
    with open(files[0]) as fh:
        rec = json.loads(fh.readline())
    assert isinstance(rec["meta"], dict) and isinstance(rec["stats"], list)
