"""Regenerate PERF.md — benched Spark queries vs the DuckDB proxy.

Pairs each bench-set query's Spark wall-clock (bench.py protocol:
local[32], sf0.1, median of 3, full materialization) with the same
result computed by its DuckDB oracle twin (BASELINE_PROXY.json) and
writes the comparison table the "within 2× of baseline" criterion is
judged on, plus the standing caveats (fixed-cost floor, deliberately
brute-force twins).

Usage:
  python scripts/gen_perf.py                 # runs bench.py fresh (~4 min)
  python scripts/gen_perf.py bench_out.json  # reuse an existing bench JSON
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: twins that are deliberately naive (the oracle must be brute-force to
#: BE an oracle) — flagged so the ratio is read as an algorithm win, not
#: an engine comparison
NAIVE_TWINS = {
    "l2_near_dup_pairs": "twin is brute-force O(n²) pair scan; Spark side is bucketed LSH",
    "p_incremental_dedup": "twin is the brute-force batch×index signature join; Spark side is the banded bucket probe",
    "p_simhash_pairs": "twin verifies banding by brute force; Spark side is bucketed",
    "sim_lsh_neardup": "twin is brute-force cosine over all pairs; Spark side is banded LSH",
    "t1_tumbling_window": "twin is a batch GROUP BY; Spark side runs the actual streaming machinery (state store, microbatch)",
}


def render(bench: dict, proxy: dict) -> str:
    """PERF.md's text for one bench record and the DuckDB proxy record
    (pure: no file is read or written)."""
    rows = []
    for q, s in sorted(bench["queries"].items()):
        d = proxy["queries"].get(q)
        ratio = (s / d) if d else None
        rows.append((q, s, d, ratio))

    gate = bench.get("load_gate") or {}
    comp = bench.get("comparability") or {}
    stamp = (
        f"This table's run: load_gate comparable={gate.get('comparable')} "
        f"(start loadavg {gate.get('start')}), pin drift_factor="
        f"{comp.get('drift_factor')} comparable_pins="
        f"{comp.get('comparable_pins')}. Divide every spark/duckdb ratio "
        "by drift_factor before comparing to a recorded band or an older "
        "round — BASELINE.md's pin-normalization protocol."
        if (gate or comp)
        else "This table's run predates the load-gate/pin stamps."
    )

    lines = [
        "# Bench vs DuckDB proxy (sf0.1, single node)",
        "",
        "Auto-generated by `scripts/gen_perf.py` — Spark numbers from "
        "`bench.py` (local[32], median of 3, full materialization via noop "
        "sink), DuckDB numbers from `BASELINE_PROXY.json` (same protocol, "
        "same results — every twin computes the identical rows).",
        "",
        stamp,
        "",
        "Two standing effects shape the ratios (details in BASELINE.md):",
        "Spark's local-mode per-query cost is dominated by a plan-complexity-"
        "proportional FIXED cost (scheduling + whole-stage codegen), not by "
        "data volume — measured, not asserted: `q1_pricing_summary` takes "
        "0.97 s at sf0.001 (600 rows), 0.85 s at sf0.01, 1.0–1.6 s at sf0.1, "
        "and 0.92 s on a 6M-row (sf≈1) replica — FLAT across 10,000× data — "
        "while its DuckDB twin scales with volume (0.013 → 0.026 → 0.151 s). "
        "Even at 6M rows Spark's cost is still the fixed floor, i.e. its "
        "single-node throughput headroom is untouched; DuckDB (vectorized, "
        "no scheduler) stays faster on one box for scan-agg shapes well past "
        "sf1, and the honest Spark wins are (a) the horizontal axis a single "
        "box does not have — at 100 TB there is no DuckDB column to compare "
        "— and (b) the algorithmic rows below, where the Spark plan runs a "
        "better algorithm than the oracle can express. Second, for the "
        "near-dup family the twin is DELIBERATELY brute force (that is what "
        "makes it an oracle), so those rows measure the bucketed algorithm's "
        "win, not engine speed.",
        "",
        "| query | spark s | duckdb s | spark/duckdb | note |",
        "|---|---|---|---|---|",
    ]
    for q, s, d, ratio in rows:
        note = NAIVE_TWINS.get(q, "")
        if ratio is None:
            rs = "—"
        else:
            rs = f"{ratio:.2f}×" if ratio < 1 else f"{ratio:.1f}×"
        ds = f"{d:.3f}" if d is not None else "—"
        lines.append(f"| {q} | {s:.3f} | {ds} | {rs} | {note} |")
    lines += [
        "",
        f"Totals: spark {bench['value']:.1f} s over {len(rows)} benched "
        f"queries; the full {len(proxy['queries'])}-oracle proxy sweep is "
        f"{proxy['total_sec']:.0f} s "
        "(dominated by three DELIBERATELY naive oracle instruments: "
        "p_shingle_containment's brute-force all-pairs containment twin "
        "at ~634 s — 25M list_intersect pairs, vs ~5 s for the Spark "
        "side's posting-join candidate generation — l11_setjoin_exact's "
        "all-pairs twin at ~583 s — 12.5M pairs, vs ~1 s for the Spark "
        "side's AllPairs prefix filter — and the recursive-CTE "
        "connected-components twin at ~314 s, whose closure accumulates "
        "a (node, label) pair per reachable smaller label and grows "
        "with cluster-size² where Spark's large-star/small-star loop "
        "computes the same fixpoint in ~10 s — the clearest "
        "algorithmic-scale datapoints in the repo).",
        "",
        "Scale spot-check beyond the bench sf (round 3, post-fixture-regen): "
        "on a 50k-doc replica (10× sf0.1, per-copy prefix tokens so copies "
        "are near- not exact-dups) the full MinHash near-dup pipeline — "
        "sketch, banded LSH, hot-bucket guard, exact-Jaccard verify — runs "
        "in 6.7 s on local[32] and emits 250,383 verified pairs; the same "
        "corpus through the brute-force twin would be a 2.5B-pair scan. The "
        "SimHash pipeline uses an all-native sketch (queries/pipeline_q.py "
        "`simhash_table_native`: 31 per-bit ±1 native sums): at 50k docs the "
        "full banded pipeline emits 12.45M verified pairs in 13.1 s, where "
        "the fold-form sketch left the candidate stage alone at 163 s. The "
        "native sketch costs ~0.2-0.4 s of extra fixed latency at sf0.1 (one "
        "more exchange) — the deliberate trade for the scale path. `sim_ivf_topk` "
        "at 10× embeddings went 16.1s → 3.8s (and 0.94s → 0.64s at sf0.1) "
        "from two plan fixes: persist the centroid-assignment table (it "
        "feeds both sides of the bucket search — recomputing it per branch "
        "doubled the query) and BROADCAST the probe side (a shuffle join on "
        "cent_id has only K=16 distinct keys, so its parallelism collapses "
        "to the hottest bucket). A 64-term unrolled native dot product was "
        "also tried and measured 3× slower than the higher-order fold "
        "(large flat expression trees fall out of efficient codegen).",
        "",
        "Full-bench-set 10× sweep (round 4): the ENTIRE 24-query bench set "
        "was run once on an assembled ~sf1 directory (6M-row lineitem / "
        "1.5M orders key-shifted replicas, 50k docs / 20k embeddings with "
        "per-copy prefix perturbation on text): total 85.3 s vs 14.8 s at "
        "sf0.1 — 5.8× wall for 10× data, sub-linear in aggregate, and "
        "per-query growth matches each operator's cost model: scan/agg/"
        "star-join queries grow 1–5× (fixed floor still amortizing), "
        "map-heavy Arrow/HOF stages ~5× (linear in rows), and the two "
        "superlinear entries are exactly the documented quadratic "
        "baselines — l4_topk_cosine 0.47→32.4 s (brute-force n² pairwise; "
        "the bucketed sim_ivf_topk answers the same question in 1.03 s at "
        "the same scale — 31× — which IS the scale-path argument), and "
        "sim_lsh_neardup 0.62→15.4 s (the replica repeats each embedding "
        "10× EXACTLY, so every duplicate cluster pairs quadratically — "
        "output-volume density, the same effect the r3 fixture "
        "regeneration had on the text near-dup family, not a plan "
        "regression).",
        "",
        "BM25 plan note (round 4): `p_bm25_topk` broadcast-prunes the "
        "(doc, term, tf) table with the query term set (a semi-join — only "
        "Σ df(term) postings survive, never the corpus), carries doc length "
        "through the explode instead of joining a per-doc length table "
        "back (one corpus-sized shuffle join saved), and persists the "
        "pruned table via the keyed swap-pool so its two consumers (df "
        "aggregate, scoring join) share one compute. Ranking happens on "
        "6dp-rounded scores in BOTH engines so last-ulp ln() divergence "
        "cannot flip an order. 10× spot-check (50k-doc replica, same "
        "10-query workload): 24 s cold / 6.3 s on a repeat invocation "
        "(pruned-table cache reuse); the growth over sf0.1's 1.6 s tracks "
        "Σ df of the query terms — the replica multiplies every term's "
        "document frequency 10× while the semi-join keeps the full-corpus "
        "explode map-side (the left-semi pushes below the tf aggregate, so "
        "only query-term postings ever shuffle).",
        "",
        "Round-4 tail operators at 10× (events/lineitem/embeddings "
        "key-shifted replicas of sf0.1; git show 0b946b4:scripts/scale10x_r4tail.py): "
        "`j14_interval_overlap_join` 2.35 s → 3.22 s for 10× data emitting "
        "10× the pairs (91k → 912k) — the temporal-blocking join's "
        "candidate volume tracks per-hour-block co-occurrence. Honest "
        "contrast, MEASURED: the naive theta join (BroadcastNestedLoop "
        "over the same session/incident tables) runs 4.8 s / 4.1 s at "
        "the same two scales — viable here because the incident side "
        "is small (~2k rows) and 32 cores absorb the ~10⁸ predicate "
        "evals; the blocked form's case is the GROWTH LAW (candidate "
        "volume Σ_blk |A||B| vs |A|·|B| when BOTH sides scale) plus "
        "not holding a broadcast side in executor memory at all. `g3_triangle_count` 13.8 s → "
        "40.6 s: the cost is ~entirely the edge-build (per-order pairing + "
        "count-distinct shuffle, ~5 s of it at sf0.1 — a standard "
        "partial-agg shape), while the wedge stages ride the degree-ordered "
        "orientation; note the shared-order threshold (26) is calibrated "
        "to sf0.01's co-supply density — at sf0.1's sparser pair density "
        "the edge set is empty by design, and the 10× replica (orderkeys "
        "shifted, suppkeys shared → ~10× denser) repopulates it (1000 "
        "nodes in triangles). `l10_knn_classify` 3.3 s → 53.6 s: probes "
        "scale WITH the corpus (vec_id % 20), so 10× data is 100× pair "
        "work — 16× wall for 100× pairs is the Arrow scan amortizing, but "
        "the growth law is the documented brute-force-baseline story; the "
        "bucketed path (sim_ivf_topk) is the scale answer, and the probe "
        "set is the chunking dial (annscan contract, ≤ ~10⁴ per pass).",
        "",
        "Host-variance note (end of round 4): the measurement VM changed "
        "and both engines slowed ~1.4× uniformly — Spark bench total "
        "15.4 s → ~21.7 s AND the DuckDB proxy sweep 401 s → 652 s on "
        "identical code and fixtures (spot-checked query-by-query: e.g. "
        "q1's twin 0.105 → 0.142 s with zero plan or source change). Both "
        "sides of this table were therefore re-measured on the SAME "
        "current host; per-host floors move, the Spark/proxy RATIO is the "
        "durable signal. Before reading any future bench as a regression, "
        "re-run one pinned pair (q1 + its twin) and normalize — bench.py "
        "now automates this: every BENCH_rN.json carries a `host_norm` "
        "field with the in-run q1 + DuckDB-twin pair and their ratio "
        "(round 6).",
        "",
        "Round-5 additions at 10× (embeddings/lineitem/events key-shifted "
        "replicas of sf0.1; git show 0b946b4:scripts/scale10x_r5.py): the bucketed "
        "PRIMARIES the r4 verdict asked for hold their growth laws — "
        "`p_semantic_dedup_lsh` 13.8 s → 10.6 s for 10× vectors (banded "
        "Σ bucket² candidates + vocabulary-bounded concomp rounds; "
        "effectively flat, the warmup dominating), `l10_knn_ivf` 2.9 s → "
        "3.9 s for 10× corpus (CAPPED probe budget — contrast the demoted "
        "exact form's 16× at the same replica in r4), `g5_kcore` 9.0 s → "
        "24.7 s (~10× edges, sub-linear peel rounds), `w13_match_recognize` "
        "1.1 s → 4.5 s (linear per-key window pass). One real catch from "
        "this sweep: `sim_pq_topk` as first written used a modulus-only "
        "probe set (probes grew with the corpus) and measured 20× at 10× — "
        "the exact l10_knn_classify trap the r4 verdict flagged; the probe "
        "budget is now capped (vec_id < 2000) and the same replica "
        "measures 1.2× at 10×. Its ADC fold was also rewritten from "
        "collect_list+array_sort+fold to 8 conditional aggregates + a "
        "fixed-order add (identical IEEE sequence, ~2× faster warm: "
        "2.7 s → 1.1-1.5 s at sf0.1). g3's sf-brittleness from the r4 tail "
        "note is FIXED in r5: the edge threshold is the P80 of the "
        "pair-count distribution (in-plan scalar, ceil(percentile) ≡ "
        "ceil(quantile_cont)), so triangles are non-empty at "
        "sf0.001/0.01/0.1 by construction; g5_kcore reuses the same "
        "quantile discipline for its k.",
        "",
        "Recall framing for the approximate primaries (round 5): "
        "banded-LSH recall is 1-(1-p^b)^L with p = 1-θ/π — steep in the "
        "similarity target. The dedup primary uses 32 planes / 4×8 bands: "
        "high recall at the cos ≥ 0.9 design point (property-tested at "
        "≥ 0.85 on planted cos≈0.99 near-dups amid 2× distractors, "
        "tests/test_semdedup.py), while the fixture's own τ=0.4 isotropic "
        "pairs sit at θ ≈ 66° where EVERY sub-quadratic candidate "
        "generator is near chance (measured: 2×8 banding 0.07, IVF "
        "nprobe=1 0.19, 4×8 banding 0.12) — that regime is the exact "
        "baseline's job, and precision-1 + cluster-refinement vs the exact "
        "graph are asserted as invariants. sim_pq_topk's recall@5 vs the "
        "exact L2 scan is 0.13 on the isotropic fixture ≈ 13× chance "
        "(~0.01) — random vectors are PQ's theoretical worst case "
        "(quantization error ≈ data variance); the test floor asserts "
        "≥ 5× chance so a broken codebook (which collapses to chance) "
        "trips without punishing the fixture's inherent hardness. ROUND-6 "
        "UPDATE: `sim_ivf_multiprobe` (nprobe=4) measures recall@5 = 0.44 "
        "vs nprobe=1's 0.21 on the same isotropic fixture (re-measured "
        "this round; tests/test_ivf_multiprobe.py pins strictly-above plus "
        "a candidate-superset per-probe invariant) — the standard FAISS "
        "nprobe dial at ~NPROBE× candidate cost, 0.90 s vs 0.69 s benched "
        "at sf0.1.",
        "",
        "Round-6 additions at 10× (lineitem/embeddings/customer+orders/"
        "part key-shifted replicas of sf0.1; git show 0b946b4:scripts/scale10x_r6.py): "
        "`a24_global_median_twophase` 9.2 s → 5.4 s for 10× rows "
        "(effectively flat — the two-phase selection has no data-sized "
        "concentration point; the single-partition window runs over "
        "per-partition COUNTS), `g7_weighted_sssp` 9.5 s → 19.2 s (~10× "
        "denser co-supply edges → 2× wall, the Pregel frontier model), "
        "`m8_delta_join_view` 2.3 s → 4.8 s for 10× rows in view AND "
        "deltas (linear — the delta-join rule's point), "
        "`sim_ivf_multiprobe` 3.3 s → 9.2 s where corpus AND probe set "
        "both grow 10× (candidate volume 100× → 2.8× wall; the capped-"
        "probe posture is l10_knn_ivf's contract). The real catch of the "
        "sweep: `p_er_blocked_match` as first written scored probe-ROWS × "
        "candidate-ROWS within blocks and measured 3.0 s → 388 s at 10× "
        "(the 64-name vocabulary means every block grew 10× and probes "
        "10× — Σ block² is 100× Levenshtein pairs, the classic ER trap); "
        "rewritten with NAME INTERNING (fuzzy core on distinct name "
        "pairs, min-partkey representative, verdict broadcast back to "
        "rows — an algebraic identity with the row-level tiebreak, which "
        "the deliberately row-level DuckDB twin verifies) the same "
        "replica measures 1.5 s warm — the fuzzy core is now "
        "vocabulary-bounded.",
        "",
        "Full-bench-set ~sf1 sweep (round 6; scripts/scale10x_bench.py "
        "builds the FK-consistent 10× directory — 6M lineitem, 1.5M "
        "orders, 50k near-dup'd docs, 20k embeddings — reproducibly): "
        "all 27 benched queries, 82.3 s vs 21.8 s at sf0.1 — 3.8× wall "
        "for 10× data, sub-linear in aggregate, replacing the r4 "
        "measurement (85.3 s over 24 queries on the old host) with a "
        "re-buildable artifact. Per-query growth matches each cost "
        "model: scan/agg/star-joins 1.6–3.2× (fixed floor still "
        "amortizing), map-heavy HOF/Arrow stages ~5× (linear in rows), "
        "the capped-probe ANN flagships 1.3–1.8× (l10_knn_ivf, "
        "p_semantic_dedup_lsh — the budget contracts doing their job), "
        "sim_ivf_multiprobe 3.5× (probe set scales with the corpus by "
        "design; the capped posture is l10_knn_ivf's), and the one "
        "large outlier is the documented output-density artifact: "
        "sim_lsh_neardup 0.69→16.9 s (~25×) because the replica repeats "
        "each embedding EXACTLY 10×, so every duplicate cluster pairs "
        "quadratically — same effect, same magnitude as r4's "
        "measurement of the same query. host_norm at sf1: q1 2.91 s "
        "Spark / 0.42 s DuckDB — Spark's fixed floor has amortized to "
        "6.9× at 6M rows from 10.4× at 600k, converging exactly as the "
        "flat-q1 story predicts.",
        "",
        "Round-7 registrations at 10× (part/lineitem/orders/embeddings "
        "key-shifted replicas of sf0.1; git show 0b946b4:scripts/scale10x_r7.py — the "
        "other r7 registrations carry no join/block candidate-volume "
        "term or were already swept: substring spans "
        "git show 0b946b4:scripts/scale10x_substr.py 6.0 s → 12.0 s worst-case "
        "all-duplicated regime, IVF-PQ git show 0b946b4:scripts/scale10x_ivfpq.py build "
        "1.3× / capped search 3.0×, kmeans git show 0b946b4:scripts/scale10x_kmeans.py "
        "14.6 s → 8.4 s, setjoin interning 18.9 s → 23.6 s for the same "
        "250,600 pairs): `p_er_blocked_multikey` 7.7 s → 1.1 s warm for "
        "10× probes AND names (the interning inherited from "
        "p_er_blocked_match keeps the fuzzy core vocabulary-bounded "
        "across BOTH block families), `g8_delta_stepping` 11.1 s → "
        "15.8 s (~10× denser co-supply edges → 1.4× wall; the bucket "
        "schedule is data-independent, so wall tracks the per-round "
        "edge⋈frontier joins exactly like g7), `g9_personalized_pagerank` "
        "24.0 s → 97.0 s for 10× edges and ~9.4× output nodes (4.0× "
        "wall — linear in |E| per round as the g1 cost model predicts; "
        "a post-sweep refactor computes the per-node message r div "
        "outdeg BEFORE the edge fan-out, replacing one of the two "
        "|E|-sized joins per round with a |V|-sized one — measured "
        "neutral at this scale because AQE broadcasts the 16k-row "
        "degree table, but it is the right shape once |V| stops "
        "broadcasting), "
        "`p_semdedup_prune` 4.2 s → 10.6 s (2.5× wall despite the "
        "Σ cluster² pair term growing ~100× at fixed k=8 — the pair "
        "stage is not yet dominant at this scale; the paper's k ~ √N "
        "posture is the documented dial when it becomes so).",
        "",
        "Round-8 registrations at 10× (embeddings key-shifted replica "
        "of sf0.1; git show 0b946b4:scripts/scale10x_r8.py — the other r8 registrations "
        "carry no join/block candidate-volume term or are covered by "
        "re-run existing sweeps, see the script docstring): "
        "`g11_knn_graph` 9.0 s → 16.4 s for 10× vectors (1.8× wall "
        "against a Σ bucket² worst case of ~100× at fixed K=16 — the "
        "WindowGroupLimit top-k prune keeps exchanged rows 10×, and "
        "the post-review edges checkpoint halved the original "
        "11.5→33.1 s measurement: the mutual-flag reversal had been "
        "re-executing the dominant bucket-self-join stage; the "
        "salted-bucket dial is documented for when the pair term "
        "dominates), `sim_mmr_rerank` 8.0 s → 47.9 s "
        "(6.0× — probes grow 10× at FIXED N=10 candidates and k=5 "
        "rounds, so the greedy loop is probe-parallel linear), "
        "`a26_dim_covariance` 4.0 s → 28.0 s (7.0× — constant d² work "
        "per vector into a fixed d²/2-cell combine; sim_pca_power adds "
        "only constant d×d rounds on top). Re-run after the r8 "
        "cache-lifetime fix and registration: `p_incremental_dedup` "
        "11.5 s → 8.7 s for 10× batch AND index (the banded batch×index "
        "probe stays bucket-bounded; wall drops because 10× rows "
        "parallelize past the scheduling floor), `p_er_golden_record` "
        "13.0 s → 5.9 s for 10× parts (same effect; the concomp rounds "
        "are vocabulary-bounded and survivorship is cluster-keyed "
        "aggregates).",
        "",
        "Round-9 registrations at 10× (FK-consistent bench replica; "
        "git show 0b946b4:scripts/scale10x_r9.py — batches A/C were swept in round 7; "
        "this covers the batch-E/F joins plus the one batch-A "
        "composition not yet growth-measured as a whole): "
        "`j19_scd2_lookup` 1.5 s → 2.3 s for 10× facts (1.6× wall — the "
        "fact×SCD2-interval join stays fact-sized; per-user version "
        "lists grow with data but the equi-key bounds the probe), "
        "`sim_hybrid_rrf` 6.1 s → 20.6 s (3.4× — the brute-force cosine "
        "probe term is linear in corpus at the FIXED 10-probe set; the "
        "BM25 side re-measures p_bm25_topk's known law), "
        "`j18_asof_nearest` 5.3 s → 0.9 s for 10× output rows "
        "(sub-linear: two union+window asof passes, no join fan-out; "
        "the sf0.1 number carries the first-run session floor), "
        "`m10_snapshot_diff` 2.9 s → 2.6 s (flat — the keyed full-outer "
        "diff is dwarfed by the SnapshotTable commit+CDC write path, "
        "which parallelizes with rows), `t19_stream_semi_join` 4.1 s → "
        "3.2 s (flat — micro-batch scheduling floor dominates; state "
        "probes are watermark-bounded). No quadratics; no new "
        "registration carries an unmeasured join/block volume term "
        "(s21/s22/x13/x14/ts_twa/ts_acf/p_docstats/dq5/p_negative_"
        "samples/g10 are map-only, window-keyed, bounded-explode, or "
        "|E|-linear shapes — g10's edge construction re-uses the "
        "g3-swept _cosupply_edges). The r9-AUTHORED batch-H candidates "
        "(tests/test_r10_candidates.py — retired at the r10 "
        "registration) were swept at authoring time "
        "per the same invariant: `p_item_cf` 13.9 s → 42.9 s / 60k → "
        "600k rows (3.1× wall for 10× baskets — the Σ basket² pair "
        "term is linear in orders at the fixture's ≤7-item baskets), "
        "`ts_zscore_anomaly` 0.93 s → 1.62 s (window-linear), "
        "`m11_incremental_view_maintenance` flat (delta-sized work "
        "into a 6-row MV merge).",
        "",
        "Round-10 registrations at 10× (FK-consistent bench replica; "
        "git show 0b946b4:scripts/scale10x_r10.py — the C/D/H batches were all swept at "
        "authoring time from the since-retired candidate modules; this "
        "re-ran the REGISTERED copies so the laws carry registration-"
        "dated numbers): `p_item_cf` 11.8 s → 39.5 s / 60k → 600k "
        "output rows (3.4× wall for 10× baskets — the Σ basket² pair "
        "term stays linear in orders at the fixture's ≤7-item baskets; "
        "the r9 verdict's named watch item, re-confirmed), "
        "`g12_node_jaccard` 25.2 s → 277 s for ~10× wedge volume with "
        "LINEAR 5k → 50k top-k output (each replica copy is its own "
        "equally-dense component, so wedges grow ~10×; the rejected "
        "all-pairs form was n² OUTPUT — the top-k contract is the fix), "
        "`p_shingle_containment` 5.5 s → 397 s decomposing as the "
        "documented 979× OUTPUT-density artifact (512 → 501,200 "
        "qualifying pairs on the near-dup replica — every 10-copy group "
        "mutually contains) with wall per output row again IMPROVING "
        "~12× (re-measured after the late-r10 shingle-table pooling: "
        "identical outputs, 10× wall within load noise of the pre-pool "
        "number, and the warm sf0.1 A/B favors pooled 4.6 s vs 5.7 s — "
        "the pool saves three tokenization passes at any scale), "
        "`p_embed_outliers` 4.2 s → 9.7 s (2.3× — kmeans loop + "
        "cid-keyed window, linear), `m11_incremental_view_maintenance` "
        "0.94 s → 1.08 s (FLAT — the whole point of IVM: delta-sized "
        "aggregates into a 6-row MV merge while the replaced recompute "
        "grows with the fact table). The other r10 registrations carry "
        "no join/block volume term (ts_zscore/p_markov window-keyed, "
        "ts_vwap/dq6/p_winsorize one bounded groupBy, t20 keys-sized "
        "streaming state).",
        "",
        "l11 PPJoin position/length filters — measured DECISION (round "
        "8, the r7 verdict's item 8): on the sf0.1 fixture at the "
        "registered t=1/2 and 3-shingles, 4,992 distinct sets generate "
        "408,413 prefix candidates of which 241 qualify, and the "
        "stage-timed split is ~2 s candidate generation vs ~13 s verify "
        "join — the VERIFY stage (array_intersect over candidate "
        "pairs), not candidate generation, is the dominant term. "
        "PPJoin's length filter |s|·t ≤ |r| ≤ |s|/t would remove only "
        "24% of candidates (408k → 309k survive), a ≤1.3× cut of the "
        "dominant stage; the position filter needs per-token positions "
        "carried through the prefix explode (wider shuffle rows) for a "
        "bound of the same flavor. SKIP — documented in "
        "operators/setjoin.py as before; the measured lever, if the "
        "verify stage ever dominates at scale, is a longer prefix "
        "(higher t) or the positional bound, and the interning already "
        "removed the duplication quadratic (71× — r7).",
        "",
        "Bench protocol note (round 7): bench.py samples are now "
        "INTERLEAVED across the query set (whole set per round, ×3) "
        "with per-query relative spread and start/end loadavg in the "
        "JSON — r6's 3× intra-run q1 swing (consecutive sampling landing "
        "a host-load burst on one query) is structurally gone; the "
        "first interleaved run measured q1 bench-slot vs host_norm pin "
        "at 0.84× (r6: 3.0×). The ~sf1 full-bench sweep REPRODUCES "
        "under the new protocol: 81.4 s (r6: 82.3 s) over the same 27 "
        "queries — 3.2× wall for 10× data vs the 25.4 s sf0.1 total of "
        "the same run, confirming the r6 sub-linear aggregate with a "
        "second independent measurement. Round-8 re-run (quiet host, "
        "loadavg 0.2 at start): 80.1 s — the third consecutive "
        "reproduction, 3.1× wall for 10× data vs the same-round 26.0 s "
        "sf0.1 total; the slowest entries are unchanged in kind "
        "(sim_lsh_neardup's documented exact-copy output-density "
        "artifact at 16.9 s, then the near-dup/ANN flagships at 3–8 s). Round-9 re-run (quiet host, loadavg 0.04 at start), now 28 slots with p_incremental_dedup: 82.3 s total; the 27-query like-for-like subtotal is 75.3 s vs r8's 80.1 s — the fourth consecutive reproduction, 3.0× wall for 10× data vs the same-round 27.0 s sf0.1 total, with part of the drop from p_bm25_topk's integer-micro-unit rework (5.0 s at sf1). The new slot's own 10× law: p_incremental_dedup 3.5 s → 7.1 s (2.0× for 10× batch AND index — the banded batch×index probe staying bucket-bounded, consistent with git show 0b946b4:scripts/scale10x_increment.py's standalone measurement). Round-10 re-run (REBUILT replica after the fixture regen; loadavg 0.8 rising to 5.5 in-run), now 29 slots with p_item_cf: 152.0 s total; the 27-query like-for-like subtotal is 87.8 s vs r9's 75.3 s — the fifth consecutive reproduction, with the +17% attributable to in-run load (in-run host_norm q1 1.78 s Spark / 0.167 s DuckDB — the DuckDB pin itself ran 2.5× faster than r6's sf1 measurement, so the host floor, not the plans, moved); slowest entries unchanged in kind (sim_lsh_neardup 19.5 s — the exact-copy output-density artifact again). The new slot's first ~sf1 datapoint: p_item_cf 57.2 s in-bench under that load; re-measured standalone on the quiet host 13.9 s → 48.7 s for 10× baskets with exactly-linear 60k → 600k output — 3.5×, matching the registration-dated 3.4× law.",
        "",
        "t1_tumbling_window / ts_gap_fill re-bench (round 8 — the r7 "
        "verdict's watch item: both regressed >40% in BENCH_r07 on "
        "append-proven-unchanged plans): re-measured on a clean host "
        "(loadavg 3.5 at start) with the r7 interleaved protocol, "
        "host_norm q1 factor 1.085× vs the r7 pin — t1 1.28 s and "
        "ts_gap_fill 0.55 s, HOST-NORMALIZED ratios 1.00× and 0.99× vs "
        "r7. The regression was host load in the r7 bench slot, not the "
        "queries or the streaming harness; both inside the 25% gate, no "
        "fix needed. (An earlier same-day run with loadavg 10.4 at "
        "start reproduced the inflation — +14%/+32% raw — confirming "
        "load as the mechanism.)",
        "",
        "Round-11 quiet-host re-bench + drift adjudication (the r10 "
        "verdict's items 1 and 3, closed together): bench.py now carries "
        "a LOAD GATE (refuse-to-start above ambient 1-min loadavg 2.0, "
        "wait up to 10 min, else stamp `\"load_gate\": {\"comparable\": "
        "false}` — BASELINE.md), and the r11 bench ran under it (ambient "
        "1.29 at start, gate passed with zero wait): 36.1 s over the "
        "same 29 slots vs r10's 37.4 s, every slot 0.86–1.12× of r10. "
        "That settles the r10 verdict's open question in an unexpected "
        "direction: the r10 numbers were NOT load-inflated — they "
        "reproduce exactly on a quiet host — so the r9→r10 shift is a "
        "persistent host-level change, not transient load and NOT the "
        "persist pool. Attribution receipts (one JVM, interleaved, "
        "dedicated sessions): (a) the only benched query the r10 pool "
        "commits actually touched, l2_near_dup_pairs (7146bb2, "
        "minhash.sigs/sh/banded keys), is 0.99× of r9; (b) the three "
        "slots the verdict flagged as \"pool family\" — l10_knn_ivf "
        "1.39×, sim_lsh_neardup 1.30×, p_simhash_pairs 1.18× vs r9 — "
        "were not touched by any r10 pool commit (l10's ivf_assign pool "
        "predates r9), and pool-FREE queries drift identically "
        "(f11_higher_order 1.38×, h18 1.31×, h5 1.25×, m1 1.29× vs r9); "
        "(c) a dedicated quiet session re-measures the flagged three at "
        "or ABOVE their in-bench numbers (l10 1.20 s, sim_lsh 1.03 s, "
        "p_simhash 2.31 s), so no in-bench cache-pressure component "
        "either. Conclusion: the same ~1.1–1.4× small-query host drift "
        "the r4 round documented (both engines moved then; this time the "
        "fixed-floor queries moved while q1's host_norm pin stayed "
        "~1.09 s and the DuckDB pin got FASTER, 0.119 → 0.102 s — i.e. "
        "the drift lives in JVM-side fixed costs, exactly where small "
        "queries are floor-dominated). No plan regression; no pool "
        "bisect warranted; r11 is the new like-for-like baseline under "
        "the gate.",
        "",
        "p_item_cf criterion adjudication (round 11, the r10 verdict's "
        "item 1): every named lever implemented and measured interleaved "
        "in ONE quiet JVM — registered 6.09 s, explicit-broadcast cnt "
        "joins 6.26 s, broadcast + partial-WindowGroupLimit disabled "
        "6.42 s, map-side array-combos pair generation 6.49 s, agg-top-k "
        "downstream 3.99 s vs the window form's 3.50 s. Stage "
        "decomposition: pair-agg 1.67 s + cnt joins 0.92 s + top-k "
        "window 2.60 s over the 2.4M-row symmetrized table. No lever "
        "moves it under the 4.7 s bar; the gap is Spark's local-mode "
        "sort/shuffle floor, not plan shape. WAIVED at ≤3.1× of the "
        "2.35 s proxy in BASELINE.md with the full lever table; the 10× "
        "law (3.4× wall, linear output) stays the binding scale check. "
        "(Round 12 restated the waiver PIN-NORMALIZED — see the round-12 "
        "comparability note below.)",
        "",
        "Round-11 registrations at 10× (FK-consistent bench replica; "
        "git show 0b946b4:scripts/scale10x_r11.py — registration-dated re-runs of the "
        "batch-I authoring sweeps): `g13_local_clustering` 11.6 s → "
        "15.3 s (1.3× — the quantile threshold keeps Σ deg² wedge volume "
        "~flat as lineitem grows; same law as its authoring sweep), "
        "`p_query_expansion` 5.8 s → 20.8 s (3.6× — the BM25 "
        "corpus-explode law: tf/df tables grow linearly while the "
        "feedback set stays queries×k), `w18_event_paths` 0.84 s → "
        "2.54 s (3.0× — linear per-user window pass over 10× events). "
        "`p_media_dedup` (fixed 32-file corpus) and "
        "`s23_csv_quoted_multiline` (write-bound round-trip) carry no "
        "join/block volume term — exempt, the m12/span precedent. Also "
        "caught at registration by the r10 scan-reexec gate: "
        "p_query_expansion's first form re-executed the documents scan "
        "6× (tf, df, query terms, N, plus the embedded BM25's own "
        "branches) — the registered form pools the scan (qe.docs key), "
        "and the gate now passes registry-wide.",
        "",
        "Round-11 ~sf1 re-run (same 02:20 rebuilt replica as the r10 "
        "measurement, load gate PASSED with ambient 0.59/0.14): the "
        "sweep ran TWICE back-to-back and its totals reproduce each "
        "other (320.4 s / 324.1 s over 29 slots) but NOT the r10 number "
        "(152.0 s) — and the per-query samples swing up to 4× between "
        "the two consecutive runs (p_semantic_dedup_lsh 27.1 → 109.6 s, "
        "p_sequence_pack 32.4 → 7.0 s, p_item_cf 76.6 → 45.3 s) on "
        "identical code, data, and a quiet-ambient host. The in-run "
        "host_norm pins adjudicate it: the sf1 DuckDB pin ran 0.299 / "
        "0.250 s vs 0.167 s in the r10 run (1.5–1.8× — BOTH engines "
        "slower on sustained work) while the sf0.1 DuckDB pin is STABLE "
        "across rounds (0.102 vs 0.099 s), and the spark/duckdb ratio "
        "is unchanged (10.3–11.5 vs r10's 10.7). Verdict: a "
        "sustained-compute host regime change (throttling/noisy-neighbor "
        "class — the r4 both-engines episode again, now "
        "volume-dependent), NOT a plan regression — short sf0.1 work is "
        "unaffected, which is why the same-day sf0.1 bench above is "
        "clean. The r10 measurement (made minutes after the replica "
        "rebuild, 02:39) stands as the reference for the "
        "sixth-reproduction series; sf1 wall numbers from this host "
        "under the current regime are non-comparable and the ratio/pin "
        "columns are the durable signal — exactly what host_norm ships "
        "for.",
        "",
        "Round-12 quiet-host bench (gate passed at ambient 0.148, zero "
        "wait; BENCH_r12_builder_quiet.json): 43.6 s over the same 29 "
        "slots — and the NEW pin stamp immediately earned its keep: "
        "comparability.drift_factor 1.203 (in-run DuckDB pin floor "
        "0.119 s vs the recorded 0.099 s quiet-era pin), comparable_pins "
        "FALSE despite the quiet start gate — today's host sits ~1.2× "
        "above the r10-era sustained-compute floor, which no "
        "start-loadavg check can see. Read pin-normalized, the slots "
        "are clean: p_item_cf 8.16 s = 3.48× raw / 1.203 = 2.89× of "
        "proxy (INSIDE the ≤3.1× waiver band), sim_pq_topk 1.81 s = "
        "1.85× raw (under 2× even unnormalized — the r11 verdict's "
        "watch item 6 closes: its 2.39× r11 reading was drift, the "
        "plan is fine), p_semantic_dedup_lsh 1.11×, p_simhash_pairs "
        "1.24×, and the algorithmic rows stay far below proxy "
        "(l2_near_dup_pairs 0.05×, p_incremental_dedup 0.20×). This "
        "run's pin-normalized total (43.56 / 1.203 = 36.2 s) lands on "
        "the r11 quiet-era 36.1 s — but two MORE same-day gate-passed "
        "runs showed that agreement to be single-pair luck: the pin "
        "floor swings 0.097-0.131 s run-to-run UNCORRELATED with the "
        "walls (the fastest-pin run had the slowest total; full table "
        "and reading rules in BASELINE.md's r12 limitation note). The "
        "honest summary: the pin stamp catches LARGE both-engine "
        "regime changes (r11's 1.1-2.1× driver drift, the sf1 volume "
        "regime); drift factors inside ~[0.8, 1.35] are pin-noise on "
        "this host, and per-query verdicts there should read the "
        "same-day RANGE (p_item_cf 6.61-8.16 s = 2.82-3.48× across "
        "three runs, straddling its band — the waiver rests on plan "
        "identity first). scripts/compare_bench.py automates the "
        "cross-run read (normalize both sides by their own "
        "drift_factor, flag >25% residuals, warn on unstamped runs).",
        "",
        "Round-12 ~sf1 sweep (rebuilt-replica directory, gate passed at "
        "ambient 0.545; BENCH_r12_builder_sf1.json): 249.7 s over the 29 "
        "slots — between r10's 152 s and r11's 320/324 s, and the in-run "
        "sf1 DuckDB pin floor (0.222 s) sits exactly between their pins "
        "too (r10 0.167, r11 0.250–0.299): the total/pin ratios line up "
        "at ~1127 vs r11's ~1280 and r10's ~910, i.e. three rounds of "
        "sf1 walls are one host-regime family once pin-normalized — the "
        "volume-dependent regime the r11 adjudication identified, now "
        "stamped automatically. Pins are PER SF DIRECTORY from r12 "
        "(BASELINE_PROXY host_pins; bench.py refuses to adjudicate an "
        "sf1 run against the sf0.1 pin), and the sf1 pin was recorded "
        "FROM the sweep's own in-run host_norm (record_host_pin "
        "--from-bench): a fresh-measurement pin run minutes earlier "
        "read 0.416 s — back-to-back q1 on an idle machine is exactly "
        "the sustained-same-work shape that trips the throttling — "
        "while the in-sweep floor is measured in the context every "
        "future in-run pin shares. Slowest sf1 entries unchanged in "
        "kind: p_semantic_dedup_lsh 57.3 s, p_item_cf 47.2 s, "
        "sim_lsh_neardup 23.6 s (the exact-copy output-density "
        "artifact).",
        "",
        "Round-12 registrations at 10× (FK-consistent bench replica; "
        "git show 0b946b4:scripts/scale10x_r12.py): `sim_radius_neighbors` 10.6 s → "
        "4.2 s wall (the sf0.1 number carries the cold-JVM floor) while "
        "OUTPUT grows 211 → 28,300 pairs — the Σ bucket² law: the probe "
        "set is a fixed 1/25 FRACTION (the l4/sim_ivf_topk family "
        "convention) so candidate volume grows ~quadratically in corpus "
        "size; radius output is semantically whatever is within τ, but "
        "the production dial per DEPLOY.md's fixed-budget rule is an "
        "id-capped probe set when the volume term starts to dominate. "
        "`dq8_freshness` 4.0 s → 1.6 s (events-linear; the globalrank "
        "count-table stage is partition-bounded), `ts_changepoint` "
        "1.6 s → 2.6 s (one per-series ordered window, linear), "
        "`a27_weighted_median` 3.8 s → 5.6 s (distinct-price-bounded "
        "window after the map-side combine), `p_systematic_sample` "
        "0.5 s → 0.7 s (per-source window, linear). "
        "`p_query_expansion` RE-SWEPT after the r12 rework (the r11 "
        "verdict's item 2: the registered form force-broadcast the "
        "FULL-vocabulary df table — fixture-tiny, but a web corpus's "
        "term vocabulary runs to billions of rows and a forced "
        "broadcast hint OOMs where AQE would have shuffled; the df "
        "aggregation is now PRUNED to the feedback set's terms by a "
        "broadcast semi-join before it aggregates, and the bounded "
        "feedback-tf table is checkpointed — qe.fbt — so its two "
        "consumers don't re-execute the embedded BM25 ranking): "
        "hash-identical output at both sfs, 6.9 s → 23.6 s at 10× — "
        "3.4×, the same BM25 corpus-explode law as the pre-rework 3.6×, "
        "i.e. the safety fix cost nothing.",
        "",
        "Pin-relative bench comparability (round 12, the r11 verdict's "
        "item 1): the start-only load gate passed the r11 driver bench "
        "(ambient 1.61 < 2.0) which still drifted uniformly 1.1-2.1× on "
        "every slot — a sustained-compute host regime change AFTER the "
        "gate, visible only to the in-run pins (both engines ~1.2× "
        "slower, ratio stable at 11.0). bench.py now ships "
        "`comparability: {drift_factor, comparable_pins}` = this run's "
        "in-run q1 DuckDB pin FLOOR (min of ≥5 samples) over the "
        "recorded quiet-host reference pin (BASELINE_PROXY.json "
        "host_pin, scripts/record_host_pin.py — refuses to record under "
        "load). Minima, not medians: q1's DuckDB samples swing ~1.5× "
        "(0.095-0.145 s) from transient contention on a quiet host "
        "within seconds, while the regime change the stamp exists to "
        "catch raises the attainable floor itself (quiet-era floors: "
        "r10 0.099, recorded pin 0.099). BASELINE.md's p_item_cf waiver "
        "is restated pin-normalized — (wall/proxy)/drift_factor ≤ 3.1 — "
        "under which the r11 driver number (3.40× raw, ÷1.21 drift) is "
        "~2.8×, inside the band.",
        "",
        "Round-13 probe-cap re-sweep (the r12 verdict's \"what's wrong\" "
        "#2, closed; git show 0b946b4:scripts/scale10x_r13.py): all three broadcast-probe "
        "IVF queries now carry the fixed ABSOLUTE `vec_id < 2000` budget "
        "alongside the family's `% 25` pattern (fn and twin identically "
        "— hash-exact re-verified at sf0.001/0.01/0.1), so no registered "
        "query broadcasts a corpus-fraction set anywhere; the only "
        "fraction-probe forms left are the documented quadratic oracle "
        "baselines whose probes enter annscan's bounded closure, and "
        "sim_ivf_multiprobe was caught and capped in the same sweep "
        "(the verdict named only topk/radius). Measured at 10×: "
        "`sim_ivf_topk` 2.21 s → 6.24 s (2.8× — the probe side is now "
        "FLAT and only the Σ bucket term grows; contrast the pre-cap "
        "shape where probes ALSO grew 10×), `sim_ivf_multiprobe` "
        "3.12 s → 6.36 s (2.0×), `sim_radius_neighbors` 2.04 s → "
        "4.56 s with output 211 → 2,830 pairs (Σ bucket² output at a "
        "FIXED 80-probe budget; the r12 pre-cap sweep's 28,300-pair "
        "figure was the fraction probe set growing with the corpus — "
        "exactly the term the cap removes).",
        "",
        "Round-13 registrations at 10× (FK-consistent bench replica; "
        "git show 0b946b4:scripts/scale10x_r13.py — ten registrations under the raised "
        "≤10/round budget, ROADMAP.md decision): `p_dedup_recall_eval` "
        "18.9 s → 388.7 s — the run-on-a-SAMPLE calibration instrument "
        "re-measuring its authored law (the exact Jaccard-τ pair set "
        "explodes 979× on the near-dup replica; wall per true pair "
        "IMPROVES ~50×; its DuckDB twin needs 1,331 s at sf0.1 for the "
        "same single row — the clearest everything-is-the-oracle's-cost "
        "datapoint in the repo), `w19_rfm_cells` 8.05 → 7.78 s (FLAT — "
        "three two-phase global ranks, no data-sized concentration "
        "point), `p_budget_allocation` 1.61 → 1.69 s (FLAT — "
        "source-sized allocation + per-source rank), `p_span_corruption` "
        "0.63 → 0.88 s (map-only explode, linear), "
        "`m12_dynamic_partition_overwrite` 3.35 → 2.50 s (write-bound; "
        "the dynamic overwrite touches only the delta's partitions at "
        "any scale), `p_hard_negatives` 2.90 → 5.65 s (1.9× — Σ "
        "anchor-bucket candidate volume at the registration-time FIXED "
        "anchor cap; anchors flat, buckets linear), "
        "`w20_position_attribution` 0.92 → 0.88 s (FLAT — one "
        "user-keyed exchange reused by all three window stages), "
        "`dq9_fd_audit` 0.55 → 0.51 s (FLAT — key-cardinality "
        "aggregates), `ts_anomaly_mad` 2.51 → 6.85 s (2.7× — "
        "series-keyed rank-median passes, linear in events), "
        "`s24_nested_json_roundtrip` 1.11 → 0.79 s (write-bound). No "
        "quadratics; every volume term matches its cost model.",
        "",
        "Round-13 standing-watch adjudications "
        "(git show 0b946b4:scripts/scale10x_r13watch.py): (1) the \"g14 checkpoint law\" "
        "transfers to g4_label_propagation — the batch-K candidate g14 "
        "proved output-IDENTICAL to the registered g4 at registration "
        "(bit-for-bit at both sfs; ROADMAP.md) and was NOT registered "
        "(its slot went to p_dedup_recall_eval). The checkpoint "
        "question is now MEASURED instead of hypothesized, by running "
        "g4 with audited_checkpoint monkeypatched to identity: at "
        "sf0.1 the checkpoint machinery costs +1.1% of wall (38.3 s vs "
        "37.9 s — compute-dominated, NOT checkpoint-dominated as the "
        "candidate sweep had guessed), and at 10× the checkpoints are "
        "a 1.9× WIN (79.5 s vs 154.1 s without — three rounds of "
        "un-truncated lineage re-plan/re-execute cost far more than "
        "the localCheckpoint writes). g4's own 10× law lands at 2.1× "
        "wall for 10× edges — |E|-linear, better than the candidate's "
        "5.2× reading (which had measured the g14 variant cold on a "
        "loaded host). (2) g12_node_jaccard's wedge-volume constant "
        "re-measured: 40.3 s → 414 s at 10× (10.3×) with "
        "exactly-linear 5k → 50k top-k output — consistent with r10's "
        "registration sweep (25.2 → 277 s, 11×) once the ~1.3-1.6× "
        "host-floor difference is folded in; the constant is stable, "
        "the term remains Σ deg² as documented, watch unchanged.",
    ]
    return "\n".join(lines)


def main() -> None:
    if len(sys.argv) > 1:
        bench = json.load(open(sys.argv[1]))
    else:
        subprocess.run(
            [sys.executable, os.path.join(ROOT, "bench.py")],
            capture_output=True, text=True, check=True,
        )
        # stdout is the COMPACT line since r13 (BASELINE.md contract);
        # the spread/pins detail this report cites lives in the full
        # record bench.py writes beside itself
        bench = json.load(open(os.path.join(ROOT, "BENCH_FULL.json")))
    proxy = json.load(open(os.path.join(ROOT, "BASELINE_PROXY.json")))

    with open(os.path.join(ROOT, "PERF.md"), "w") as f:
        f.write(render(bench, proxy))
    print(f"wrote PERF.md: {len(bench['queries'])} rows")


if __name__ == "__main__":
    main()
