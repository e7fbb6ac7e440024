"""Training-data-pipeline text ops (task-brief additions beyond §2.10):
language ID, quality scoring, token counting, fingerprinting, SimHash +
banded SimHash near-dup search.

All JVM expressions over materialized word columns (functions/text.py
design rule). Every query here is oracle-checked; the SimHash pair
search is exact-recall LSH (pigeonhole over 4 disjoint bands), so even
the "approximate" path has a brute-force SQL twin with identical output.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..functions.text import (
    BPE_TOKEN_RE,
    LANG_MARKERS,
    SIMHASH_BITS,
    char_ratio,
    fingerprint,
    marker_hits,
    mean_word_len,
    simhash,
    sql_fingerprint,
    sql_simhash,
    sql_word_hashes,
    stopword_ratio,
    tokens,
    word_hashes,
)
from ..io import load_table
from ..operators.concomp import connected_components
from ..registry import register

_STOPWORDS = ("the", "a", "of", "and", "to")

_SQL_MARKER_HITS = (
    "CAST(len(list_filter(w, x -> list_contains({markers}, x))) AS INTEGER)"
)


def _sql_markers(lang: str) -> str:
    lst = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
    return _SQL_MARKER_HITS.format(markers=f"[{lst}]")


_LANGS = sorted(LANG_MARKERS)  # de, en, es, fr, zh — CASE order = tiebreak order

_SQL_PREDICT = "CASE " + " ".join(
    "WHEN hits_{l} >= GREATEST({others}) THEN '{l}'".format(
        l=lang, others=", ".join(f"hits_{o}" for o in _LANGS if o != lang)
    )
    for lang in _LANGS[:-1]
) + f" ELSE '{_LANGS[-1]}' END"


@register(
    "p_lang_id",
    category="pipeline",
    oracle=f"""
WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents),
h AS (SELECT doc_id, lang AS lang_meta,
      {", ".join(f"{_sql_markers(lang)} AS hits_{lang}" for lang in _LANGS)}
      FROM w)
SELECT doc_id, lang_meta, {", ".join(f"hits_{lang}" for lang in _LANGS)},
       {_SQL_PREDICT} AS lang_pred
FROM h
""",
)
def p_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-vocabulary language ID: per-language marker-token counts +
    argmax prediction (first-in-alphabet tiebreak, mirrored in the CASE
    order of the SQL twin). Map-only — no shuffle at any scale."""
    d = load_table(spark, sf_dir, "documents").withColumn("w", tokens(F.col("text")))
    for lang in _LANGS:
        d = d.withColumn(f"hits_{lang}", marker_hits(F.col("w"), LANG_MARKERS[lang]))
    pred = F.lit(_LANGS[-1])
    # build the when-chain backwards so the first lang wins ties, as in SQL
    for lang in reversed(_LANGS[:-1]):
        others = [F.col(f"hits_{o}") for o in _LANGS if o != lang]
        pred = F.when(
            F.col(f"hits_{lang}") >= F.greatest(*others), F.lit(lang)
        ).otherwise(pred)
    return d.select(
        "doc_id",
        F.col("lang").alias("lang_meta"),
        *[f"hits_{lang}" for lang in _LANGS],
        pred.alias("lang_pred"),
    )


@register(
    "p_quality_score",
    category="pipeline",
    oracle=f"""
WITH w AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents),
m AS (
  SELECT doc_id,
         CAST(len(w) AS INTEGER) AS wc,
         CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / len(w) AS mwl,
         CAST(len(list_filter(w, x -> list_contains(['the','a','of','and','to'], x))) AS DOUBLE)
           / len(w) AS stop_ratio,
         CAST(length(text) - length(regexp_replace(text, '[aeiou]', '', 'g')) AS DOUBLE)
           / length(text) AS vowel_ratio
  FROM w
)
SELECT doc_id, wc, mwl, stop_ratio, vowel_ratio,
       CAST(CAST(0.4 * stop_ratio + 0.3 * LEAST(mwl / 10.0, 1.0) + 0.3 * vowel_ratio
            AS DECIMAL(18,6)) AS DOUBLE) AS quality
FROM m
""",
)
def p_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality metrics (word count, mean word length, stopword
    and vowel ratios) + a weighted composite score. Every ratio is one
    exact int/int double division; the composite is quantized through
    decimal(18,6) on both sides so expression-tree rounding can never
    diverge. Map-only."""
    d = load_table(spark, sf_dir, "documents").withColumn("w", tokens(F.col("text")))
    m = d.select(
        "doc_id",
        F.size("w").alias("wc"),
        mean_word_len(F.col("w")).alias("mwl"),
        stopword_ratio(F.col("w"), _STOPWORDS).alias("stop_ratio"),
        char_ratio(F.col("text"), "[aeiou]").alias("vowel_ratio"),
    )
    quality = (
        F.lit(0.4) * F.col("stop_ratio")
        + F.lit(0.3) * F.least(F.col("mwl") / 10.0, F.lit(1.0))
        + F.lit(0.3) * F.col("vowel_ratio")
    )
    return m.withColumn(
        "quality", quality.cast("decimal(18,6)").cast("double")
    )


@register(
    "p_token_count",
    category="pipeline",
    oracle=rf"""
SELECT doc_id,
       CAST(length(text) AS BIGINT) AS n_chars_actual,
       CAST(len(string_split(text, ' ')) AS INTEGER) AS ws_tokens,
       CAST(len(regexp_extract_all(text, '{BPE_TOKEN_RE}')) AS INTEGER) AS bpe_tokens
FROM documents
""",
)
def p_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + a BPE-ish regex tokenizer
    (word runs / single punctuation — Java regex and RE2 agree on the
    pattern). The building block for corpus token accounting; map-only."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars_actual"),
        F.size(F.split("text", " ")).alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_TOKEN_RE), F.lit(0))).alias(
            "bpe_tokens"
        ),
    )


@register(
    "p_fingerprint",
    category="pipeline",
    oracle=f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
h AS (SELECT doc_id, {sql_word_hashes('w')} AS h FROM w)
SELECT doc_id, {sql_fingerprint('h')} AS fp FROM h
""",
)
def p_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive rolling-hash document fingerprint (md5-derived
    word hashes folded mod 2^31-1) — catches exact AND
    same-words-same-order docs regardless of whitespace. Map-only."""
    d = load_table(spark, sf_dir, "documents").withColumn("w", tokens(F.col("text")))
    h = d.withColumn("h", word_hashes(F.col("w")))
    return h.select("doc_id", fingerprint(F.col("h")).alias("fp"))


@register(
    "p_simhash",
    category="pipeline",
    oracle=f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
h AS (SELECT doc_id, {sql_word_hashes('w')} AS h FROM w)
SELECT doc_id, {sql_simhash('h')} AS simhash FROM h
""",
)
def p_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """31-bit SimHash over the token multiset (per-bit majority vote of
    md5-derived token hashes). Near-identical docs differ in few bits.
    Map-only; the pair search is p_simhash_pairs."""
    d = load_table(spark, sf_dir, "documents").withColumn("w", tokens(F.col("text")))
    h = d.withColumn("h", word_hashes(F.col("w")))
    return h.select("doc_id", simhash(F.col("h")).alias("simhash"))


_HAMMING_MAX = 3
_N_BANDS = 4

#: shared oracle prefix: documents → (doc_id, sh) SimHash table
_SQL_SIMHASH_TABLE = f"""
w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
h AS (SELECT doc_id, {sql_word_hashes('w')} AS h FROM w),
s AS (SELECT doc_id, {sql_simhash('h')} AS sh FROM h)"""


def simhash_table_native(docs, id_col: str = "doc_id", text_col: str = "text"):
    """(doc_id, sh) — the production SimHash sketch path.

    REWORKED r14 (optimization round 2, guide §4): one Arrow-batched
    numpy pass replaces the explode → 31 per-bit ``sum(±1)``
    aggregates → mask recombination pipeline. Measured at sf0.1
    local[32] (cold, noop sink): the explode+md5 hashing itself is
    0.38 s but the 31-wide aggregate machinery pushed the sketch to
    1.69 s — the aggregation, not the hashing, was the cost (r13
    verdict item 6). The kernel keeps the JVM ``split`` tokenization
    (the token ARRAYS cross the Arrow boundary, so no Python
    re-implementation of Spark's split semantics exists to drift) and
    computes per doc, entirely in int64: md5 per UNIQUE token in the
    batch (token instances repeat heavily — the hash count drops with
    the vocabulary), per-bit ±1 votes via one vectorized bit-unpack,
    segment-sums per doc (``np.add.reduceat``), and the >0 mask
    recombination. Every value is an exact integer — numpy reproduces
    the JVM/DuckDB bigints bit-for-bit (no IEEE concern at all), and
    the parity test vs the HOF fold (tests/test_properties.py) pins the
    edge docs: empty text (one empty token — the doc KEEPS a row, and
    ``split`` never yields an empty array so every segment is
    non-empty), single token, duplicate-token multiplicity.

    Scale shape: map-only — the old groupBy exchange (which carried
    exactly the sketch table) is gone entirely; no shuffle at any
    corpus size. The per-task state is the batch's token vocabulary,
    bounded by the Arrow batch size."""
    import numpy as np

    from ..functions.text import _FP_MOD

    bits = np.arange(SIMHASH_BITS, dtype=np.int64)

    def go(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            arrs = pdf["toks"].to_numpy()
            n = len(arrs)
            if n == 0:
                yield pd.DataFrame(
                    {
                        "doc_id": np.array([], dtype=np.int64),
                        "sh": np.array([], dtype=np.int64),
                    }
                )
                continue
            lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=n)
            toks = np.concatenate([np.asarray(a, dtype=object) for a in arrs])
            uniq, inv = np.unique(toks, return_inverse=True)
            hu = np.fromiter(
                (
                    int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
                    % _FP_MOD
                    for s in uniq
                ),
                dtype=np.int64,
                count=len(uniq),
            )
            h0 = hu[inv]
            # ±1 vote per (token, bit): 2*bit - 1
            votes = (((h0[:, None] >> bits[None, :]) & 1) * 2 - 1).astype(
                np.int64
            )
            bounds = np.zeros(n, dtype=np.int64)
            np.cumsum(lens[:-1], out=bounds[1:])
            counts = np.add.reduceat(votes, bounds, axis=0)
            sh = ((counts > 0).astype(np.int64) << bits[None, :]).sum(axis=1)
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"].to_numpy(), "sh": sh}
            )

    return docs.select(
        F.col(id_col).alias("doc_id"), tokens(F.col(text_col)).alias("toks")
    ).mapInPandas(go, "doc_id long, sh long")


def _simhash_table(spark: SparkSession, sf_dir: str):
    """(doc_id, sh) persisted — feeds both sides of the band self-join
    (and every downstream stage), so the 16-byte-per-doc table is
    computed once instead of per plan branch; keyed swap-pool
    (operators/cachepool.py) releases the previous invocation's cache.
    Input repartitioned before the CPU-dense sketch (see
    queries/corpus_q.py rationale)."""
    from ..operators.cachepool import swap_persist

    d = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    return swap_persist("pipeline.simhash_table", simhash_table_native(d))


def _simhash_candidates(s) -> DataFrame:
    """Banded exact-recall LSH candidates (doc_a, doc_b, sh_a, sh_b) from
    a (doc_id, sh) table — see p_simhash_pairs for the recall proof."""
    from ..operators.bandjoin import guarded_band_self_join

    chunk_bits = (SIMHASH_BITS + _N_BANDS - 1) // _N_BANDS  # 8
    banded = s.select(
        "doc_id",
        "sh",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("sh"), j * chunk_bits).bitwiseAND(
                        F.lit((1 << chunk_bits) - 1)
                    )
                    for j in range(_N_BANDS)
                ]
            )
        ).alias("band", "chunk"),
    )
    return guarded_band_self_join(
        banded,
        "doc_id",
        ("band", "chunk"),
        carry=("sh",),
        log_label="simhash-lsh",
    )


@register(
    "p_simhash_pairs",
    bench=True,
    category="pipeline",
    oracle=f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
h AS (SELECT doc_id, {sql_word_hashes('w')} AS h FROM w),
s AS (SELECT doc_id, {sql_simhash('h')} AS sh FROM h)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh, b.sh)) <= {_HAMMING_MAX}
""",
)
def p_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 3) via EXACT-RECALL banded LSH:
    the 31-bit hash splits into 4 disjoint bands, and ≤3 differing bits
    can touch at most 3 bands, so every qualifying pair shares at least
    one exact band (pigeonhole) — the banded join provably finds every
    pair the brute-force SQL twin finds. Scale: one shuffle on (band,
    chunk); candidates bounded by bucket sizes instead of n², with the
    guarded band join capping degenerate buckets (operators/bandjoin.py;
    the cap cannot trigger without a 5000-doc near-identical cluster,
    so the exact-recall proof vs the twin is undisturbed here)."""
    cand = _simhash_candidates(_simhash_table(spark, sf_dir))
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        cand.select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= _HAMMING_MAX)
    )


@register(
    "p_dedup_clusters",
    category="pipeline",
    oracle=f"""
WITH RECURSIVE {_SQL_SIMHASH_TABLE},
p AS MATERIALIZED (
  -- MATERIALIZED: the recursive closure joins p every iteration; the
  -- n² hamming scan must run once, not once per propagation round
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM s a JOIN s b
    ON a.doc_id <> b.doc_id
   AND bit_count(xor(a.sh, b.sh)) <= {_HAMMING_MAX}
),
reach AS (
  SELECT doc_id, doc_id AS label FROM s
  UNION
  SELECT p.dst AS doc_id, reach.label FROM reach JOIN p ON p.src = reach.doc_id
)
SELECT doc_id, min(label) AS cluster_id FROM reach GROUP BY doc_id
""",
)
def p_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup cluster assignment: SimHash near-dup pairs (hamming ≤ 3,
    exact-recall banded LSH per p_simhash_pairs) become per-document
    cluster ids via distributed connected components — cluster id = min
    doc_id in the component, singletons keep their own id. This is the
    step that turns pairwise candidates into "keep one per group": a
    downstream `row_number() over (partition by cluster_id)` picks the
    canonical document.

    Spark side is iterative min-label propagation (operators/concomp.py:
    O(diameter) rounds of join+min-agg, and near-dup components are
    quasi-cliques, so 2-3 rounds); the DuckDB twin computes the same
    fixpoint declaratively with a recursive CTE, so transitive-closure
    equality — not just edge equality — is what gets verified."""
    s = _simhash_table(spark, sf_dir)
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    pairs = (
        _simhash_candidates(s)
        .filter(hamming <= _HAMMING_MAX)
        .select("doc_a", "doc_b")
    )
    return connected_components(
        s.select("doc_id"), pairs, node_col="doc_id", src="doc_a", dst="doc_b",
        ledger_key="p_dedup_clusters",
    ).withColumnRenamed("component", "cluster_id")


_FH_DIMS = 64


@register(
    "p_feature_hash",
    category="pipeline",
    oracle=f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
h AS (SELECT doc_id, unnest({sql_word_hashes('w')}) AS h FROM w)
SELECT doc_id,
       CAST(h % {_FH_DIMS} AS INTEGER) AS bucket,
       CAST(SUM(CASE WHEN (h // {_FH_DIMS}) % 2 = 0 THEN 1 ELSE -1 END)
            AS BIGINT) AS weight
FROM h
GROUP BY doc_id, h % {_FH_DIMS}
HAVING SUM(CASE WHEN (h // {_FH_DIMS}) % 2 = 0 THEN 1 ELSE -1 END) <> 0
""",
)
def p_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick feature vectorization (the ML-prep 'hashing
    vectorizer'): every token maps to one of a FIXED number of buckets
    via its md5-derived hash, with a hash-derived ±1 sign so colliding
    tokens partially cancel (the signed construction that keeps the
    estimator unbiased). Output is the SPARSE form — (doc_id, bucket,
    weight), zero-weight buckets dropped — which is what a downstream
    trainer consumes and what scales: no 64-wide dense row is ever
    materialized, and the one shuffle is the (doc_id, bucket) count
    aggregate, map-side combined. Sign bit and bucket come from
    DISJOINT bit ranges of the same hash (h % D vs bit 6 of h // D), so
    sign is independent of bucket assignment. Dimensionality is a
    constant of the operator (64 here); a production run would use 2^18+
    — the plan shape is unchanged."""
    d = load_table(spark, sf_dir, "documents").withColumn("w", tokens(F.col("text")))
    h = d.select("doc_id", F.explode(word_hashes(F.col("w"))).alias("h"))
    sign = F.when(F.expr(f"(h div {_FH_DIMS}) % 2") == 0, 1).otherwise(-1)
    return (
        h.groupBy("doc_id", (F.col("h") % _FH_DIMS).cast("int").alias("bucket"))
        .agg(F.sum(sign).alias("weight"))
        .filter(F.col("weight") != 0)
    )


_BIGRAM_MIN_COUNT = 5


@register(
    "p_bigram_lm",
    category="pipeline",
    oracle=f"""
WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
b AS (
  SELECT w[i] AS w1, w[i + 1] AS w2
  FROM w, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) g
),
c AS (SELECT w1, w2, COUNT(*) AS cnt FROM b GROUP BY w1, w2),
t AS (SELECT w1, w2, cnt,
             SUM(cnt) OVER (PARTITION BY w1) AS w1_total
      FROM c)
SELECT w1, w2, cnt,
       (CAST(cnt AS DOUBLE) / CAST(w1_total AS DOUBLE)) AS cond_prob
FROM t WHERE cnt >= {_BIGRAM_MIN_COUNT}
""",
)
def p_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram language-model counts: P(w2 | w1) = count(w1 w2) /
    count(w1 ·) — the count table a classical n-gram LM (or a
    contamination / memorization probe over a training corpus) is built
    from. Bigrams are formed ORDER-SENSITIVELY inside each document via
    zip_with over two offset slices (map-only, no self-join), counted
    with one (w1, w2) shuffle, and the prefix total is a window over the
    ALREADY-AGGREGATED count table — cardinality |distinct bigrams|,
    not corpus tokens, so the window input is the small table. The
    min-count filter applies AFTER the totals (rare bigrams still
    contribute to their prefix's denominator, as in a real LM) and
    bounds the output. cond_prob is one double division of two exact
    integers — cross-engine deterministic."""
    d = load_table(spark, sf_dir, "documents").withColumn("w", tokens(F.col("text")))
    n = F.size(F.col("w"))
    bi = d.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("w"), 1, n - 1),
                F.slice(F.col("w"), 2, n - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    counts = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt"))
    wtot = Window.partitionBy("w1")
    return (
        counts.withColumn("w1_total", F.sum("cnt").over(wtot))
        .select(
            "w1",
            "w2",
            "cnt",
            (F.col("cnt").cast("double") / F.col("w1_total").cast("double")).alias(
                "cond_prob"
            ),
        )
        .filter(F.col("cnt") >= _BIGRAM_MIN_COUNT)
    )


# ---------------------------------------------------------------------------
# BPE merge-rule training — the iterative tokenizer-training showcase.
# ---------------------------------------------------------------------------

_BPE_ROUNDS = 6


def _bpe_oracle(k: int) -> str:
    """k chained-CTE rounds of the same algebra the Spark loop runs:
    pair stats over the char-state table, argmax rule, greedy
    non-overlapping merge via run alternation, dense renumber."""
    ctes = [
        "w0 AS MATERIALIZED (SELECT w, count(*) AS freq FROM ("
        "SELECT unnest(string_split(text, ' ')) AS w FROM documents) "
        "WHERE w <> '' GROUP BY w)",
        "t0 AS MATERIALIZED (SELECT w, freq, unnest(chars) AS sym, "
        "unnest(generate_series(1, len(chars))) AS pos FROM "
        "(SELECT w, freq, string_split(w, '') AS chars FROM w0))",
    ]
    for r in range(1, k + 1):
        p = f"t{r-1}"
        # every CTE MATERIALIZED: DuckDB inlines plain CTEs per
        # reference, and each round references its predecessors ~4x —
        # un-materialized, the 6-round chain re-evaluates t0 ~4^6 times
        # (measured: 428 s -> sub-second with materialization)
        ctes.append(
            f"p{r} AS MATERIALIZED (SELECT w, freq, pos, sym AS pl, "
            f"lead(sym) OVER (PARTITION BY w ORDER BY pos) AS pr FROM {p})"
        )
        ctes.append(
            f"rule{r} AS MATERIALIZED (SELECT pl, pr, sum(freq) AS cnt FROM p{r} "
            f"WHERE pr IS NOT NULL GROUP BY pl, pr "
            f"ORDER BY cnt DESC, pl, pr LIMIT 1)"
        )
        ctes.append(
            f"cand{r} AS MATERIALIZED (SELECT p.w, p.pos, u.pl, u.pr FROM p{r} p "
            f"JOIN rule{r} u ON p.pl = u.pl AND p.pr = u.pr)"
        )
        ctes.append(
            f"keep{r} AS MATERIALIZED (SELECT w, pos, pl, pr FROM ("
            f"SELECT w, pos, pl, pr, "
            f"row_number() OVER (PARTITION BY w, grp ORDER BY pos) AS rr FROM ("
            f"SELECT w, pos, pl, pr, "
            f"pos - row_number() OVER (PARTITION BY w ORDER BY pos) AS grp "
            f"FROM cand{r})) WHERE rr % 2 = 1)"
        )
        ctes.append(
            f"m{r} AS MATERIALIZED (SELECT t.w, t.freq, t.pos, "
            f"CASE WHEN k1.pos IS NOT NULL THEN k1.pl || k1.pr ELSE t.sym END AS sym "
            f"FROM {p} t "
            f"LEFT JOIN keep{r} k1 ON k1.w = t.w AND k1.pos = t.pos "
            f"WHERE NOT EXISTS (SELECT 1 FROM keep{r} k2 "
            f"WHERE k2.w = t.w AND k2.pos = t.pos - 1))"
        )
        ctes.append(
            f"t{r} AS MATERIALIZED (SELECT w, freq, "
            f"row_number() OVER (PARTITION BY w ORDER BY pos) AS pos, sym "
            f"FROM m{r})"
        )
    unions = " UNION ALL ".join(
        f"SELECT {r} AS round, pl, pr, cnt FROM rule{r}" for r in range(1, k + 1)
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + f"\nSELECT CAST(round AS INTEGER) AS round, pl AS left_sym, "
        f"pr AS right_sym, pl || pr AS merged, CAST(cnt AS BIGINT) AS cnt "
        f"FROM ({unions})"
    )


@register(
    "p_bpe_train",
    category="pipeline",
    oracle=_bpe_oracle(_BPE_ROUNDS),
)
def p_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-rule training as a fixed-k iterative loop (k=6): state
    is the (word-type, freq, pos, sym) character table; each round
    counts adjacent symbol pairs weighted by word-type frequency (the
    standard BPE optimization — merging operates on DISTINCT words, so
    state size is vocabulary-bounded, not corpus-bounded), picks the
    argmax pair (cnt desc, then lexicographic — pinned cross-engine),
    and applies the merge greedily left-to-right. Greedy non-overlap is
    computed declaratively: candidate positions that form consecutive
    runs (only possible when left==right) keep alternate members
    (pos - row_number run grouping), which equals sequential
    left-to-right merging — no UDF, no per-row loop.

    Per round: one window pass (lead), one vocab²-bounded partial-agg,
    a TakeOrdered argmax (k rows cross the wire, never a SinglePartition
    sort), two equi joins against the (tiny) keep set, one renumber
    window. State and the 1-row rule are localCheckpointed each round
    (the g1/g2/concomp iterative discipline — lineage must not double
    per round), recorded in the audit ledger via audited_checkpoint.
    The DuckDB twin is the same algebra as k chained CTEs, so merge
    RULES AND tie handling are verified exactly, round by round."""
    rules, _state = _bpe_train_loop(spark, sf_dir)
    out = rules[0]
    for rdf in rules[1:]:
        out = out.unionByName(rdf)
    return out.select(
        F.col("round").cast("int").alias("round"),
        F.col("pl").alias("left_sym"),
        F.col("pr").alias("right_sym"),
        F.concat("pl", "pr").alias("merged"),
        F.col("cnt").cast("bigint").alias("cnt"),
    )


def _bpe_train_loop(spark: SparkSession, sf_dir: str):
    """Run the k-round BPE training loop; returns (per-round 1-row rule
    DataFrames, final merged state table) — shared by p_bpe_train (the
    rules) and p_bpe_encode (the state IS the encoded corpus)."""
    from ..audit import audited_checkpoint

    d = load_table(spark, sf_dir, "documents")
    words = (
        d.select(F.explode(F.split("text", " ")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    state = words.select(
        "w",
        "freq",
        F.posexplode(F.split("w", "")).alias("pos0", "sym"),
    ).select("w", "freq", (F.col("pos0") + 1).alias("pos"), "sym")
    # Spark's split('abc', '') yields a trailing empty string; drop it
    state = state.filter(F.col("sym") != "")
    state = audited_checkpoint("p_bpe_train.state", state)

    wseq = Window.partitionBy("w").orderBy("pos")
    rules = []
    for r in range(1, _BPE_ROUNDS + 1):
        pairs = state.select(
            "w",
            "freq",
            "pos",
            F.col("sym").alias("pl"),
            F.lead("sym", 1).over(wseq).alias("pr"),
        )
        rule = audited_checkpoint(
            "p_bpe_train.rule",
            pairs.filter(F.col("pr").isNotNull())
            .groupBy("pl", "pr")
            .agg(F.sum("freq").alias("cnt"))
            .orderBy(F.col("cnt").desc(), "pl", "pr")
            .limit(1),
        )
        rules.append(rule.select(F.lit(r).alias("round"), "pl", "pr", "cnt"))
        cand = pairs.join(F.broadcast(rule.select("pl", "pr")), ["pl", "pr"]).select(
            "w", "pos", "pl", "pr"
        )
        grp = (F.col("pos") - F.row_number().over(wseq)).alias("grp")
        keep = (
            cand.select("w", "pos", "pl", "pr", grp)
            .withColumn(
                "rr",
                F.row_number().over(Window.partitionBy("w", "grp").orderBy("pos")),
            )
            .filter(F.col("rr") % 2 == 1)
            .select("w", "pos", "pl", "pr")
        )
        merged = (
            state.alias("t")
            .join(
                keep.alias("k1"),
                (F.col("t.w") == F.col("k1.w")) & (F.col("t.pos") == F.col("k1.pos")),
                "left",
            )
            .join(
                keep.alias("k2"),
                (F.col("t.w") == F.col("k2.w"))
                & (F.col("t.pos") - 1 == F.col("k2.pos")),
                "left_anti",
            )
            .select(
                F.col("t.w").alias("w"),
                F.col("t.freq").alias("freq"),
                F.col("t.pos").alias("pos"),
                F.when(
                    F.col("k1.pos").isNotNull(),
                    F.concat(F.col("k1.pl"), F.col("k1.pr")),
                )
                .otherwise(F.col("t.sym"))
                .alias("sym"),
            )
        )
        state = audited_checkpoint(
            "p_bpe_train.state",
            merged.select(
                "w", "freq", F.row_number().over(wseq).alias("pos"), "sym"
            ),
        )
    return rules, state



# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram probabilities.
# ---------------------------------------------------------------------------

_KN_DISCOUNT = 0.75
_KN_MIN_COUNT = 5


@register(
    "p_ngram_lm_kneser_ney",
    category="pipeline",
    oracle=f"""
WITH w AS (SELECT string_split(text, ' ') AS w FROM documents),
b AS MATERIALIZED (
  SELECT w[i] AS w1, w[i + 1] AS w2
  FROM w, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) g
),
c AS MATERIALIZED (SELECT w1, w2, COUNT(*) AS cnt FROM b GROUP BY w1, w2),
ctx AS (SELECT w1, SUM(cnt) AS c1, COUNT(*) AS n1fwd FROM c GROUP BY w1),
cont AS (SELECT w2, COUNT(*) AS n1back FROM c GROUP BY w2),
nt AS (SELECT COUNT(*) AS ntypes FROM c)
SELECT c.w1, c.w2, c.cnt,
       CAST(CAST(
         (CAST(GREATEST(c.cnt - {_KN_DISCOUNT}, 0.0) AS DOUBLE)
            / CAST(ctx.c1 AS DOUBLE))
         + (({_KN_DISCOUNT} * CAST(ctx.n1fwd AS DOUBLE))
              / CAST(ctx.c1 AS DOUBLE))
           * (CAST(cont.n1back AS DOUBLE) / CAST(nt.ntypes AS DOUBLE))
       AS DECIMAL(18,8)) AS DOUBLE) AS p_kn
FROM c JOIN ctx USING (w1) JOIN cont USING (w2) CROSS JOIN nt
WHERE c.cnt >= {_KN_MIN_COUNT}
""",
)
def p_ngram_lm_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney smoothed bigram probabilities — the
    standard LM estimator p_bigram_lm's raw conditional lacks:
    P(w2|w1) = max(c−D,0)/c(w1) + D·N1+(w1·)/c(w1) · N1+(·w2)/|types|,
    with fixed discount D=0.75. The continuation term is what KN is
    famous for: a word's unigram backoff weight is how many distinct
    CONTEXTS it follows, not how often it occurs.

    All inputs are integer counts derived from ONE map-side-combined
    bigram aggregate (vocab²-bounded); context totals, fan-out counts,
    and continuation counts are three cheap re-aggregations of that
    table, broadcast back (vocab-sized). The type-count scalar enters
    in-plan (single-row cross — ALLOWED entry, the l6/p_bm25 pattern).
    The probability is quantized through decimal(18,8) on both engines
    because its expression mixes three divisions — the ts_ewma lesson:
    DuckDB may reorder flattened fp chains, so structural parity is
    not a cross-engine guarantee; quantization is."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(F.split("text", " ").alias("w"))
    b = words.select(
        F.posexplode(F.expr("slice(w, 1, size(w) - 1)")).alias("i", "w1"),
        F.col("w"),
    ).select("w1", F.expr("w[i + 1]").alias("w2"))
    c = b.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt"))
    from ..operators.cachepool import swap_persist

    c = swap_persist("pipeline.kn_bigrams", c)
    ctx = c.groupBy("w1").agg(
        F.sum("cnt").alias("c1"), F.count(F.lit(1)).alias("n1fwd")
    )
    cont = c.groupBy("w2").agg(F.count(F.lit(1)).alias("n1back"))
    nt = c.agg(F.count(F.lit(1)).alias("ntypes"))
    p = (
        F.greatest(F.col("cnt") - _KN_DISCOUNT, F.lit(0.0)).cast("double")
        / F.col("c1").cast("double")
    ) + (
        (F.lit(_KN_DISCOUNT) * F.col("n1fwd").cast("double"))
        / F.col("c1").cast("double")
    ) * (F.col("n1back").cast("double") / F.col("ntypes").cast("double"))
    return (
        c.filter(F.col("cnt") >= _KN_MIN_COUNT)
        .join(F.broadcast(ctx), "w1")
        .join(F.broadcast(cont), "w2")
        .crossJoin(F.broadcast(nt))
        .select(
            "w1",
            "w2",
            "cnt",
            p.cast("decimal(18,8)").cast("double").alias("p_kn"),
        )
    )


# ---------------------------------------------------------------------------
# LM-perplexity quality filter — the consumer of the bigram LM.
# ---------------------------------------------------------------------------

_PPL_KEEP_MAX = 60.0
#: keep threshold in 1e-6 nll units: floor(ln(60)·1e6 + 0.5), computed
#: ONCE in Python and inlined as the same integer literal on BOTH
#: sides, so the engines never evaluate ln(60) independently (ln(60)·1e6
#: sits 0.062 from the floor boundary — safe — but a shared literal
#: removes even that). Part of the r9 floor-quantization hardening.
_PPL_KEEP_U6 = 4094345


@register(
    "p_perplexity_filter",
    category="pipeline",
    oracle=f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
b AS MATERIALIZED (
  SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
  FROM w, LATERAL (SELECT unnest(generate_series(1, len(w) - 1)) AS i) g
),
c AS MATERIALIZED (SELECT w1, w2, COUNT(*) AS cnt FROM b GROUP BY w1, w2),
ctx AS (SELECT w1, SUM(cnt) AS c1 FROM c GROUP BY w1),
nll AS (
  SELECT b.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         CAST(SUM(CAST(FLOOR(-ln(CAST(c.cnt AS DOUBLE) / CAST(ctx.c1 AS DOUBLE))
                             * 100000000.0 + 0.5) AS BIGINT)) AS BIGINT)
           AS nll_sum_u8
  FROM b JOIN c ON b.w1 = c.w1 AND b.w2 = c.w2
         JOIN ctx ON ctx.w1 = b.w1
  GROUP BY b.doc_id
)
SELECT doc_id, n_bigrams,
       nll_sum_u8 // (100 * n_bigrams) AS avg_nll_u6,
       nll_sum_u8 // (100 * n_bigrams) <= {_PPL_KEEP_U6} AS keep
FROM nll
""",
)
def p_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-perplexity quality filter — score every document by its
    average negative log-likelihood under the CORPUS-TRAINED bigram LM
    (p_bigram_lm's count tables, unsmoothed conditional — every doc
    bigram is in the corpus counts by construction, so P > 0 always)
    and keep docs whose perplexity exp(avg_nll) stays under 60. This is
    the standard LM-based corpus filter (the CCNet/Gopher recipe) and
    the natural consumer of the tokenize→count→LM chain: unusual word
    sequences score high and get dropped.

    Determinism (hardened round 9, the p_bm25_topk floor discipline):
    each −ln(P) term maps to integer 1e-8 units with
    FLOOR(t·1e8 + 0.5) — IEEE-identical across engines for an identical
    double, unlike the previous DECIMAL(18,8) cast whose rounding paths
    differ (Spark: shortest-repr string; DuckDB: exact binary) — the
    per-doc sum is an exact BIGINT, and the 1e-6-unit average is a
    truncating integer division. The keep threshold is the SHARED
    integer literal _PPL_KEEP_U6 = floor(ln(60)·1e6 + 0.5), computed
    once in Python, so neither engine evaluates ln(60) at query time.
    Scale: the bigram aggregate and per-doc NLL sum share the
    explode; counts table is vocab²-bounded and broadcast back; per-doc
    aggregation is one map-side-combined shuffle on doc_id."""
    d = load_table(spark, sf_dir, "documents")
    b = (
        d.select("doc_id", F.split("text", " ").alias("w"))
        .select(
            "doc_id",
            F.posexplode(F.expr("slice(w, 1, size(w) - 1)")).alias("i", "w1"),
            F.col("w"),
        )
        .select("doc_id", "w1", F.expr("w[i + 1]").alias("w2"))
    )
    from ..operators.cachepool import swap_persist

    b = swap_persist("pipeline.ppl_bigrams", b)
    c = b.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cnt"))
    ctx = c.groupBy("w1").agg(F.sum("cnt").alias("c1"))
    nll_term = F.floor(
        -F.log(F.col("cnt").cast("double") / F.col("c1").cast("double"))
        * F.lit(100000000.0)
        + F.lit(0.5)
    ).cast("bigint")
    nll = (
        b.join(F.broadcast(c), ["w1", "w2"])
        .join(F.broadcast(ctx), "w1")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum(nll_term).cast("bigint").alias("nll_sum_u8"),
        )
    )
    avg_u6 = F.expr("nll_sum_u8 div (100 * n_bigrams)")
    return nll.select(
        "doc_id",
        "n_bigrams",
        avg_u6.alias("avg_nll_u6"),
        (avg_u6 <= F.lit(_PPL_KEEP_U6)).alias("keep"),
    )


def _bpe_encode_oracle(k: int = _BPE_ROUNDS) -> str:
    base = _bpe_oracle(k)
    head = base[: base.rindex("\nSELECT")]
    return head + f"""
SELECT w, CAST(freq AS BIGINT) AS freq,
       string_agg(sym, ' ' ORDER BY pos) AS tokens,
       CAST(count(*) AS BIGINT) AS n_tokens
FROM t{k} GROUP BY w, freq"""


@register(
    "p_bpe_encode",
    category="pipeline",
    oracle=_bpe_encode_oracle(),
)
def p_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the learned BPE merges — closes the tokenizer loop that
    p_bpe_train opens: after the k training rounds, the state table IS
    the encoded corpus (every word type as its post-merge symbol
    sequence), so encoding costs nothing beyond the training pass the
    two queries share (_bpe_train_loop). Output: word type, frequency,
    the encoded token string, and its token count — the table a
    tokenizer ships plus the compression evidence (n_tokens < word
    length wherever merges fired). Ordered reassembly is
    array_sort(struct(pos, sym)) → join, position math only — the same
    determinism discipline as the train loop; the twin replays the
    identical k rounds and string_agg's ORDER BY pos."""
    _rules, state = _bpe_train_loop(spark, sf_dir)
    return state.groupBy("w", "freq").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "sym"))),
                lambda x: x["sym"],
            ),
            " ",
        ).alias("tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
    ).select(
        "w", F.col("freq").cast("bigint").alias("freq"), "tokens", "n_tokens"
    )


# ---------------------------------------------------------------------------
# Entity resolution: blocked fuzzy matching (record linkage, round 6).
# ---------------------------------------------------------------------------

_ER_PROBE_MOD = 10

#: Named so p_er_golden_record's oracle can embed the verified matcher
#: verbatim (the _KMEANS_PREFIX composition rule: share a constant, not
#: a string-split of finished SQL).
_ER_MATCH_SQL = f"""
WITH dirty AS (
  SELECT p_partkey AS probe_id,
         substr(p_name, 1, length(p_name) - 1) AS dirty_name
  FROM part WHERE p_partkey % {_ER_PROBE_MOD} = 0
),
db AS (
  SELECT probe_id, dirty_name,
         split_part(dirty_name, ' ', 1) AS b1,
         length(split_part(dirty_name, ' ', 2)) AS b2
  FROM dirty
),
cand AS (
  SELECT p_partkey AS cand_id, p_name,
         split_part(p_name, ' ', 1) AS b1,
         length(split_part(p_name, ' ', 2)) AS b2
  FROM part
)
SELECT probe_id, cand_id, dirty_name, matched_name,
       CAST(score AS INTEGER) AS score
FROM (
  SELECT d.probe_id, c.cand_id, d.dirty_name, c.p_name AS matched_name,
         levenshtein(d.dirty_name, c.p_name) AS score,
         row_number() OVER (
           PARTITION BY d.probe_id
           ORDER BY levenshtein(d.dirty_name, c.p_name), c.cand_id
         ) AS rn
  FROM db d JOIN cand c ON d.b1 = c.b1 AND c.b2 = d.b2 + 1
) WHERE rn = 1
"""


@register(
    "p_er_blocked_match",
    category="pipeline",
    oracle=_ER_MATCH_SQL,
)
def p_er_blocked_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution by BLOCKED fuzzy matching with NAME INTERNING —
    the record-linkage shape (dedupe/Splink/Dedoop): a dirty feed (part
    names with the trailing character deterministically dropped, so both
    engines build the identical corruption) is linked back to the
    catalog via (1) INTERNING — the fuzzy core runs on DISTINCT name
    pairs, never on rows: probe rows collapse to their distinct dirty
    names, catalog rows collapse to (p_name, min partkey); (2) BLOCKING
    — an equality join on cheap keys (first token + a second-token
    length band of +1, the matcher's corruption model) confines the
    quadratic candidate volume to Σ block² over the NAME vocabulary;
    (3) SCORING — JVM-codegen'd Levenshtein on the interned candidate
    pairs only; (4) BEST MATCH — top-1 per dirty name by (score,
    cand_id), the WindowGroupLimit shape — then one broadcast equi-join
    re-attaches the per-name verdict to every probe row. Reporting the
    name's MIN partkey as cand_id is exactly the row-level (score,
    cand_id) tiebreak: among tied-score candidates the global min
    partkey wins either way, which is why the DELIBERATELY row-level
    twin (it scores every probe-row × candidate-row pair) hash-matches —
    the interning is verified as an algebraic identity, not assumed.

    Scale: measured 10× (scripts/scale10x_r6.py) — the row-level form
    was 3.0 s → 388 s at 10× (same 64-name vocabulary, so every block
    grew 10× AND probes grew 10×: Σ block² is 100× pair work — the
    classic ER trap); the interned form's fuzzy core is
    vocabulary-bounded (constant here) and its row-side work is two
    linear equi-joins. When the name domain is high-cardinality
    (interning ≈ no-op), blocking granularity is the dial again: add
    finer keys (phonetic, q-grams) and the cap-or-salt postures of
    operators/bandjoin.py for hot blocks.

    Contract: p_name is always two tokens (FIXTURES.md '<adj> <noun>'
    vocabulary). On a one-token name the engines' missing-token
    semantics diverge (Spark element_at → NULL, DuckDB split_part →
    ''), so a general-input deployment would coalesce the block keys
    explicitly."""
    part = load_table(spark, sf_dir, "part")
    dirty = part.filter(F.col("p_partkey") % _ER_PROBE_MOD == 0).select(
        F.col("p_partkey").alias("probe_id"),
        F.expr("substr(p_name, 1, length(p_name) - 1)").alias("dirty_name"),
    )
    dnames = dirty.select("dirty_name").distinct().select(
        "dirty_name",
        F.element_at(F.split(F.col("dirty_name"), " "), 1).alias("b1"),
        F.length(
            F.element_at(F.split(F.col("dirty_name"), " "), 2)
        ).alias("b2"),
    )
    cnames = (
        part.groupBy("p_name")
        .agg(F.min("p_partkey").alias("cand_id"))
        .select(
            "p_name",
            "cand_id",
            F.element_at(F.split(F.col("p_name"), " "), 1).alias("cb1"),
            F.length(
                F.element_at(F.split(F.col("p_name"), " "), 2)
            ).alias("cb2"),
        )
    )
    w = Window.partitionBy("dirty_name").orderBy("score", "cand_id")
    best = (
        dnames.join(
            cnames,
            (dnames.b1 == cnames.cb1) & (cnames.cb2 == dnames.b2 + F.lit(1)),
        )
        .select(
            "dirty_name",
            "cand_id",
            F.col("p_name").alias("matched_name"),
            F.levenshtein("dirty_name", "p_name").alias("score"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return dirty.join(F.broadcast(best), "dirty_name").select(
        "probe_id", "cand_id", "dirty_name", "matched_name",
        F.col("score").cast("int").alias("score"),
    )


# ---------------------------------------------------------------------------
# p_substr_dedup_spans + p_contamination_spans: exact substring-span
# dedup / decontamination (registered round 7; twins pre-verified in
# tests/test_r7_candidates.py before registration).
# ---------------------------------------------------------------------------

_SPAN_K = 8
_SPAN_BENCH_MOD = 7  # the p_decontaminate benchmark-slice convention

_SPANS_SQL = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
g AS (SELECT doc_id, i - 1 AS pos,
             list_reduce(w[i:i + {_SPAN_K - 1}], (a, b) -> a || ' ' || b) AS gram
      FROM w, unnest(generate_series(1, len(w) - {_SPAN_K - 1})) AS t(i)),
d AS (SELECT gram FROM g GROUP BY gram HAVING count(*) >= 2),
m AS (SELECT doc_id, pos FROM g WHERE gram IN (SELECT gram FROM d)),
i AS (SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       > {_SPAN_K} THEN 1 ELSE 0 END AS brk
      FROM m),
s AS (SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM i)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + {_SPAN_K} AS BIGINT) AS span_end,
       count(*) AS n_dup_grams
FROM s GROUP BY doc_id, island
"""


@register(
    "p_substr_dedup_spans",
    category="pipeline",
    oracle=_SPANS_SQL,
)
def p_substr_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-span dedup — the Lee et al. 2022 ExactSubstr
    operator (public: 'Deduplicating Training Data Makes Language
    Models Better') re-expressed Spark-first: instead of a suffix
    array, a duplicated k-gram (k=8 words) is a gram whose global
    count ≥ 2; per doc, overlapping/adjacent duplicated-gram positions
    merge into maximal SPANS (gaps > k break islands — the
    gaps-and-islands window). Emits (doc_id, span_start, span_end,
    n_dup_grams) word offsets — the character-level clip is
    operators/substrdedup.clip_spans. Completes the dedup ladder:
    exact(l1) → MinHash(l2) → SimHash → semantic → SUBSTRING-SPAN
    (removes verbatim boilerplate INSIDE otherwise-unique docs, which
    whole-doc dedup can't).

    Scale: gram table is corpus-linear (one pos-explode); duplicated
    grams come from ONE map-side-combined count; the island merge is a
    per-doc window (one shuffle keyed by doc). 10× sweep SUB-LINEAR in
    the worst all-duplicated regime (6.0s → 12.0s,
    scripts/scale10x_substr.py). k=8 measured non-trivial at every
    fixture sf (~10% of positions duplicated). Operator:
    operators/substrdedup.py (property-tested against a brute-force
    suffix scan)."""
    from ..operators.substrdedup import duplicated_spans

    docs = load_table(spark, sf_dir, "documents")
    s = duplicated_spans(docs, _SPAN_K)
    return s.select(
        "doc_id",
        F.col("span_start").cast("bigint").alias("span_start"),
        F.col("span_end").cast("bigint").alias("span_end"),
        "n_dup_grams",
    )


_CONTAM_SQL = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
g AS (SELECT doc_id, i - 1 AS pos,
             list_reduce(w[i:i + {_SPAN_K - 1}], (a, b) -> a || ' ' || b) AS gram
      FROM w, unnest(generate_series(1, len(w) - {_SPAN_K - 1})) AS t(i)),
b AS (SELECT DISTINCT gram FROM g WHERE doc_id % {_SPAN_BENCH_MOD} = 0),
m AS (SELECT doc_id, pos FROM g
      WHERE doc_id % {_SPAN_BENCH_MOD} <> 0 AND gram IN (SELECT gram FROM b)),
i AS (SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                       > {_SPAN_K} THEN 1 ELSE 0 END AS brk
      FROM m),
s AS (SELECT doc_id, pos,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM i)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + {_SPAN_K} AS BIGINT) AS span_end,
       count(*) AS n_dup_grams
FROM s GROUP BY doc_id, island
"""


@register(
    "p_contamination_spans",
    category="pipeline",
    oracle=_CONTAM_SQL,
)
def p_contamination_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level decontamination — the substring-span machinery with
    the duplicated-gram set replaced by the BENCHMARK's gram set (the
    doc_id % 7 slice, p_decontaminate's convention): emits the exact
    corpus spans that verbatim-overlap evaluation data, the
    surgical-redaction upgrade of p_decontaminate's whole-doc boolean
    (clip the span, keep the doc — the GPT-3 appendix-C recipe's
    span form).

    Scale: the benchmark gram set is eval-sized → BROADCAST into the
    corpus gram stream (a map-only semi-join); the corpus side never
    shuffles for matching, only the per-doc island window. Operator:
    operators/substrdedup.py contaminated_spans."""
    from ..operators.substrdedup import contaminated_spans

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") % _SPAN_BENCH_MOD != 0)
    bench = d.filter(F.col("doc_id") % _SPAN_BENCH_MOD == 0)
    s = contaminated_spans(corpus, bench, _SPAN_K)
    return s.select(
        "doc_id",
        F.col("span_start").cast("bigint").alias("span_start"),
        F.col("span_end").cast("bigint").alias("span_end"),
        "n_dup_grams",
    )


# ---------------------------------------------------------------------------
# p_er_blocked_multikey: multi-blocking-key entity resolution
# (registered round 7; twin pre-verified in tests/test_r7_candidates.py
# before registration).
# ---------------------------------------------------------------------------

_ER_MULTIKEY_SQL = """
WITH dirty AS (
  SELECT p_partkey AS probe_id,
         substr(p_name, 1, length(p_name)
                - CASE WHEN p_partkey % 20 = 0 THEN 1 ELSE 2 END) AS dirty_name
  FROM part WHERE p_partkey % 10 = 0
),
dn AS (SELECT DISTINCT dirty_name FROM dirty),
cand AS (SELECT p_name, min(p_partkey) AS cand_id FROM part GROUP BY p_name),
dg AS (
  SELECT dirty_name,
         split_part(dirty_name, ' ', 1) AS b1,
         length(split_part(dirty_name, ' ', 2)) AS b2,
         list_distinct(list_transform(
           generate_series(1, length('##' || dirty_name || '##') - 2),
           i -> substr('##' || dirty_name || '##', i, 3))) AS grams
  FROM dn
),
cg AS (
  SELECT p_name, cand_id,
         split_part(p_name, ' ', 1) AS cb1,
         length(split_part(p_name, ' ', 2)) AS cb2,
         list_distinct(list_transform(
           generate_series(1, length('##' || p_name || '##') - 2),
           i -> substr('##' || p_name || '##', i, 3))) AS grams
  FROM cand
),
best AS (
  SELECT d.dirty_name, c.cand_id, c.p_name AS matched_name,
         levenshtein(d.dirty_name, c.p_name) AS score,
         row_number() OVER (
           PARTITION BY d.dirty_name
           ORDER BY levenshtein(d.dirty_name, c.p_name), c.cand_id
         ) AS rn
  FROM dg d JOIN cg c
    ON (d.b1 = c.cb1 AND c.cb2 = d.b2 + 1) OR list_has_any(d.grams, c.grams)
  WHERE levenshtein(d.dirty_name, c.p_name) <= 3
)
SELECT probe_id, cand_id, dirty_name, matched_name,
       CAST(score AS INTEGER) AS score
FROM dirty JOIN best USING (dirty_name)
WHERE rn = 1
"""


@register(
    "p_er_blocked_multikey",
    category="pipeline",
    oracle=_ER_MULTIKEY_SQL,
)
def p_er_blocked_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-blocking-key entity resolution — the standard recall
    upgrade of p_er_blocked_match (Papadakis et al. blocking surveys,
    public): a single blocking key misses matches whose corruption
    breaks THAT key, so candidates are the UNION of (a) a structural
    band key (first word + second-word length±1 — survives suffix
    truncation) and (b) padded 3-gram blocks (survives interior edits);
    dedup on the pair, then verify with Levenshtein ≤ 3 and keep the
    best match per dirty name ((score, cand_id) tie-break). The feed
    mixes 1-char and 2-char truncations (p_partkey%20 cases): the band
    key ALONE misses the 2-char drops (measured 1765/2000 matches at
    sf0.1 — tests/test_registered_guards.py), while the padded q-gram
    key happens to be complete on this truncation model — the union is
    recall INSURANCE across corruption families (q-gram blocks degrade
    on gram-destroying edits and hot common grams, where the cheap
    structural band key is the backstop; the crafted
    each-rescues-the-other cases are tests/test_blocking.py).

    Scale: both blockers are NAME-INTERNED (the r6 p_er lesson — the
    row-level form measured 388s where the interned form took 1.5s at
    10×): distinct names block/verify once, probe rows join back by
    equi-key. Pair work is Σ block² over the union of block families,
    never names². The two interned name tables are POOLED
    (swap_persist): each feeds BOTH blocker families, and without the
    persist Spark re-executes the distinct/groupBy aggregation once per
    family — measured 5 full `part` scans in the returned plan
    (scripts/scan_triage.py, r10) vs 1 live + cached after pooling.
    Operators: operators/blocking.py."""
    from ..operators.blocking import (
        band_block_pairs,
        best_match,
        multikey_candidates,
        qgram_block_pairs,
    )
    from ..operators.cachepool import swap_persist

    part = load_table(spark, sf_dir, "part")
    dirty = part.filter(F.col("p_partkey") % 10 == 0).select(
        F.col("p_partkey").alias("probe_id"),
        F.expr(
            "substr(p_name, 1, length(p_name) - "
            "(CASE WHEN p_partkey % 20 = 0 THEN 1 ELSE 2 END))"
        ).alias("dirty_name"),
    )
    dnames = swap_persist(
        "er_multikey.dnames", dirty.select("dirty_name").distinct()
    )
    cnames = swap_persist(
        "er_multikey.cnames",
        part.groupBy("p_name").agg(F.min("p_partkey").alias("cand_id")),
    )
    pairs = multikey_candidates(
        band_block_pairs(dnames, cnames), qgram_block_pairs(dnames, cnames)
    )
    best = best_match(pairs, max_score=3)
    return dirty.join(best, "dirty_name").select(
        "probe_id", "cand_id", "dirty_name", "matched_name", "score"
    )


# ---------------------------------------------------------------------------
# Incremental (production-ingest) dedup + ER golden record (registered
# round 8; twins pre-verified through the real compare in
# tests/test_r7_candidates_b.py — retired at registration; its
# nontriviality guards live on in tests/test_registered_guards.py and
# the record in ROADMAP's r8 summary).
# ---------------------------------------------------------------------------

_DELTA_MOD = 5  # doc_id % 5 == 0 is the arriving batch; the rest is the index
_INC_TAU = 0.3


def _incremental_dedup_sql() -> str:
    from .llm import _SQL_SHINGLE_CTES

    return f"""
WITH {_SQL_SHINGLE_CTES},
pairs AS (
  SELECT n.doc_id AS new_id, o.doc_id AS old_id,
         CAST(len(list_intersect(n.sh, o.sh)) AS DOUBLE)
           / len(list_distinct(n.sh || o.sh)) AS jaccard,
         len(list_filter(generate_series(0, 7), bi ->
             list_slice(n.sig, bi*4 + 1, bi*4 + 4)
               = list_slice(o.sig, bi*4 + 1, bi*4 + 4))) AS n_band_hits
  FROM sig n JOIN sig o
    ON n.doc_id % {_DELTA_MOD} = 0 AND o.doc_id % {_DELTA_MOD} <> 0
),
best AS (
  SELECT new_id, old_id, jaccard FROM (
    SELECT new_id, old_id, jaccard,
           row_number() OVER (
             PARTITION BY new_id ORDER BY jaccard DESC, old_id
           ) AS rn
    FROM pairs WHERE n_band_hits > 0 AND jaccard >= {_INC_TAU}
  ) WHERE rn = 1
)
SELECT d.doc_id,
       best.old_id IS NOT NULL AS is_dup,
       best.old_id AS dup_of,
       best.jaccard
FROM (SELECT doc_id FROM documents WHERE doc_id % {_DELTA_MOD} = 0) d
LEFT JOIN best ON best.new_id = d.doc_id
"""


@register(
    "p_incremental_dedup",
    category="pipeline",
    bench=True,  # r9 bench-set addition: the ingest-dedup growth story
    # gets a per-round floor like the rest of the near-dup family
    # (r8 verdict item 8; BASELINE.md bench-set-change note)
    oracle=_incremental_dedup_sql(),
)
def p_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental MinHash dedup — the PRODUCTION arrival shape: a
    delta batch (doc_id % 5 == 0 here; an ingest partition in life) is
    sketched once and probed against the standing corpus INDEX, never
    against itself and never re-LSHing the corpus. One row per batch
    doc: (is_dup, dup_of, jaccard) — the keep/drop verdict an ingest
    pipeline consumes. Same deterministic sketch constants as
    operators/minhash.py, so a signature computed at ingest N is valid
    at ingest N+k and the twin regenerates it exactly.

    Scale: per-ingest work is |batch| sketching + Σ_key |batch_bucket|
    × |index_bucket| verify candidates — independent of corpus size
    outside collided buckets; the index side accepts PRE-SKETCHED
    parquet tables (index_sig/index_sh) so the standing corpus is
    never re-read (the operator's production contract; recomputed here
    from the fixture for oracle parity). Index-side hot buckets over
    the cap are dropped (bandjoin's on_hot="drop" posture). 10× sweep:
    sub-linear, scripts/scale10x_increment.py (PERF.md). Operator:
    operators/increment.py; sketch tables pooled via the keyed
    swap-pool (increment.* keys, r14 — the old eager verdict
    checkpoint cost one extra full materialization per run)."""
    from ..operators.increment import incremental_near_dups

    d = load_table(spark, sf_dir, "documents")
    index = d.filter(F.col("doc_id") % _DELTA_MOD != 0)
    batch = d.filter(F.col("doc_id") % _DELTA_MOD == 0)
    return incremental_near_dups(index, batch, threshold=_INC_TAU)


def _golden_sql() -> str:
    return f"""
WITH RECURSIVE m AS MATERIALIZED ({_ER_MATCH_SQL}),
e AS (
  SELECT probe_id AS src, cand_id AS dst FROM m WHERE probe_id <> cand_id
  UNION
  SELECT cand_id AS src, probe_id AS dst FROM m WHERE probe_id <> cand_id
),
reach AS (
  SELECT p_partkey AS node, p_partkey AS label FROM part
  UNION
  SELECT e.dst AS node, reach.label FROM reach JOIN e ON e.src = reach.node
),
lab AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY node),
mem AS (
  SELECT l.cluster_id, p.* FROM part p JOIN lab l ON l.node = p.p_partkey
),
base AS (
  SELECT cluster_id, count(*) AS n_members,
         max(CAST(round(p_retailprice * 100) AS BIGINT)) AS retail_cents_max,
         min(p_size) AS size_min
  FROM mem GROUP BY cluster_id
),
bmode AS (
  SELECT cluster_id, p_brand AS brand_mode FROM (
    SELECT cluster_id, p_brand,
           row_number() OVER (
             PARTITION BY cluster_id ORDER BY count(*) DESC, p_brand
           ) AS rn
    FROM mem GROUP BY cluster_id, p_brand
  ) WHERE rn = 1
)
SELECT b.cluster_id, b.n_members, g.p_name AS golden_name, bm.brand_mode,
       b.retail_cents_max, b.size_min
FROM base b
JOIN part g ON g.p_partkey = b.cluster_id
JOIN bmode bm ON bm.cluster_id = b.cluster_id
"""


@register(
    "p_er_golden_record",
    category="pipeline",
    oracle=_golden_sql(),
)
def p_er_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ER survivorship (the MDM 'golden record'): completes the entity-
    resolution ladder match → cluster → survive. The registered
    matcher's verified pairs become undirected edges, connected
    components assign cluster ids (min-id labels, vocabulary-bounded
    rounds — operators/concomp.py), and each cluster survives ONE
    golden row under explicit per-attribute rules: name from the
    min-partkey representative (source-of-truth rule), brand by MODE
    with lexicographic tie (most-frequent rule), price MAX in integer
    cents, size MIN. The twin recomputes components with a recursive
    CTE over the SAME embedded matcher SQL, so the whole composition —
    match, closure, survivorship — is hash-verified end to end.

    Scale: survivorship is two grouped aggregates + a window mode over
    cluster ids (shuffles keyed by cluster, map-side combined); the
    closure inherits concomp's per-round equi-join bound. 10× sweep:
    flat, scripts/scale10x_golden.py (PERF.md). Ledger key
    p_er_golden.concomp audits the per-round checkpoints."""
    mem_w = Window.partitionBy("component").orderBy(
        F.col("cnt").desc(), F.col("p_brand")
    )
    part = load_table(spark, sf_dir, "part")
    m = p_er_blocked_match(spark, sf_dir)
    edges = m.select(
        F.col("probe_id").alias("src"), F.col("cand_id").alias("dst")
    )
    labels = connected_components(
        part.select(F.col("p_partkey").alias("node")),
        edges,
        ledger_key="p_er_golden.concomp",
    )
    mem = part.join(labels, part.p_partkey == labels.node).drop("node")
    base = mem.groupBy("component").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.max(F.round(F.col("p_retailprice") * 100).cast("bigint")).alias(
            "retail_cents_max"
        ),
        F.min("p_size").alias("size_min"),
    )
    gname = part.select(
        F.col("p_partkey").alias("component"),
        F.col("p_name").alias("golden_name"),
    )
    bmode = (
        mem.groupBy("component", "p_brand")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("rn", F.row_number().over(mem_w))
        .filter(F.col("rn") == 1)
        .select("component", F.col("p_brand").alias("brand_mode"))
    )
    return (
        base.join(gname, "component")
        .join(bmode, "component")
        .select(
            F.col("component").alias("cluster_id"),
            "n_members",
            "golden_name",
            "brand_mode",
            "retail_cents_max",
            "size_min",
        )
    )


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer pair — registered ROWS-ONLY (the a4/a13
# precedent, decision recorded ROADMAP r6/r7): −ln(count/total) costs
# are quantized on the driver, so no engine-portable SQL twin exists;
# the correctness contract is tests/test_unigram.py's exact pins
# (Viterbi ≡ brute-force enumeration by hypothesis property test,
# deterministic training, planted-piece recovery, whole-word fixture
# vocabulary, order-preserving encode, empty-doc preservation).
# ---------------------------------------------------------------------------

_UNI_VOCAB = 64
_UNI_ROUNDS = 4

def _unigram_costs(spark: SparkSession, sf_dir: str) -> dict[str, int]:
    """Train the unigram LM from the fixture documents. Deliberately
    NOT memoized (r13 optimization round): an earlier sf_dir-keyed
    module-level memo let the second of the train/encode pair skip the
    training computation within one process — a cross-invocation result
    cache, which the bench/oracle contract forbids (every invocation
    must compute from the parquet inputs). Each call now trains from
    the corpus; the pair costs two trainings per sweep, honestly."""
    from ..operators.unigram import distinct_words, train_unigram

    docs = load_table(spark, sf_dir, "documents")
    words = distinct_words(docs).persist()
    try:
        _counts, costs = train_unigram(
            words, vocab_size=_UNI_VOCAB, rounds=_UNI_ROUNDS
        )
    finally:
        words.unpersist()
    return costs


@register(
    "p_unigram_train",
    category="pipeline",
    oracle=None,  # driver-side -ln quantization: rows-only; exactness pinned in tests/test_unigram.py
)
def p_unigram_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM tokenizer TRAINING (Kudo 2018, SentencePiece's unigram
    model, public paper) — the second subword family next to BPE
    (p_bpe_train): Viterbi hard-EM over the INTERNED distinct-word
    table with the gradual SentencePiece prune schedule. Output is the
    final vocabulary (piece, cost in integer micro-nats) — vocab_size
    rows, deterministic on any cluster (integer costs, total lexical
    tie-breaks).

    ROWS-ONLY by design: the −ln(count/total) quantization happens once
    on the driver, so no cross-engine SQL twin can replay it (the
    a4/a13 sketch precedent; decision recorded in ROADMAP r6). The
    exactness contract lives in tests/test_unigram.py: Viterbi matches
    brute-force enumeration under a hypothesis sweep, training is
    deterministic, planted pieces are recovered, and the fixture corpus
    yields whole-word pieces.

    Scale (100 TB): the corpus is touched ONCE (distinct-words intern);
    each EM round is one Arrow-batched map-only segmentation over the
    dictionary + one vocab-bounded groupBy; loop state is vocab_size
    rows on the driver (the annscan bounded-collect contract). Operator:
    operators/unigram.py."""
    costs = _unigram_costs(spark, sf_dir)
    rows = sorted(costs.items())
    return spark.createDataFrame(rows, "piece string, cost_micro_nats long")


@register(
    "p_unigram_encode",
    category="pipeline",
    oracle=None,  # same rows-only rationale as p_unigram_train
)
def p_unigram_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the trained unigram-LM vocabulary to the corpus — closes
    the tokenizer loop like p_bpe_encode does for BPE: per doc, the
    min-cost Viterbi segmentation of every word, reassembled in
    position order JVM-side (segment the DISTINCT words only; corpus
    text never passes through Python). Output (doc_id, n_pieces,
    n_chars_covered) digests the encoding without shipping the piece
    arrays. Rows-only: inherits p_unigram_train's driver-quantized
    costs (tests/test_unigram.py pins order preservation and empty-doc
    retention)."""
    from ..operators.unigram import encode_corpus

    costs = _unigram_costs(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    enc = encode_corpus(docs, costs)
    return enc.select(
        "doc_id",
        F.size("pieces").cast("bigint").alias("n_pieces"),
        F.aggregate(
            F.transform(F.col("pieces"), F.length),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("n_chars_covered"),
    )


_NS_K, _NS_OVER, _NS_QMOD = 4, 2, 10

_NS_SQL = f"""
WITH n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM part),
c AS (SELECT p_partkey AS cand_id,
             row_number() OVER (ORDER BY p_partkey) - 1 AS idx
      FROM part),
q AS (SELECT o_orderkey AS qid FROM orders WHERE o_orderkey % {_NS_QMOD} = 0),
d AS (
  SELECT qid, i AS draw,
         (CAST(CONCAT('0x', substr(md5(CAST(qid AS VARCHAR) || ':' ||
                                        CAST(i AS VARCHAR)), 1, 15))
               AS BIGINT) % 2147483647) % (SELECT n FROM n) AS idx
  FROM q, unnest(generate_series(0, {_NS_OVER * _NS_K - 1})) AS t(i)
),
j AS (
  SELECT d.qid, c.cand_id, min(d.draw) AS first_draw
  FROM d JOIN c USING (idx)
  WHERE NOT EXISTS (SELECT 1 FROM lineitem l
                    WHERE l.l_orderkey = d.qid AND l.l_partkey = c.cand_id)
  GROUP BY d.qid, c.cand_id
)
SELECT qid, cand_id,
       CAST(row_number() OVER (PARTITION BY qid ORDER BY first_draw)
            AS BIGINT) AS draw_rank
FROM j
QUALIFY draw_rank <= {_NS_K}
"""


@register(
    "p_negative_samples",
    category="pipeline",
    oracle=_NS_SQL,
)
def p_negative_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training
    (operators/negsample.py — word2vec/SGNS, DPR-style retrieval
    training): every 10th order is a query; each draws k=4 parts NOT
    among its own lineitems, by md5-derived draw-hash indices into the
    globally dense-ranked candidate pool. Linear and engine-exact where
    the naive form is query × pool with per-pair random(): a bounded
    explode of over_factor·k draw slots per query, one equi-join on
    the pool index, one anti-join against positives — no RNG state,
    reproducible in any engine (the oracle replays the identical md5
    algebra). The pool index comes from the two-phase global rank
    (never a sort-to-one); the pool-size scalar is a one-row
    broadcast."""
    from ..operators.negsample import negative_samples

    orders = load_table(spark, sf_dir, "orders")
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem")
    q = orders.filter(F.col("o_orderkey") % _NS_QMOD == 0).select("o_orderkey")
    pos = li.select(
        F.col("l_orderkey").alias("o_orderkey"),
        F.col("l_partkey").alias("p_partkey"),
    )
    return negative_samples(
        q, part.select("p_partkey"), pos, _NS_K,
        q_col="o_orderkey", cand_col="p_partkey",
        rank_key="negsample.idx", over_factor=_NS_OVER,
    )


_WINS_LO, _WINS_HI = 0.05, 0.95

_WINS_SQL = f"""
WITH d AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
b AS (
  SELECT source,
         CAST(ceil(quantile_cont(n_tokens, {_WINS_LO})) AS BIGINT) AS lo,
         CAST(ceil(quantile_cont(n_tokens, {_WINS_HI})) AS BIGINT) AS hi
  FROM d GROUP BY source
)
SELECT d.doc_id, d.source, d.n_tokens, b.lo, b.hi,
       least(greatest(d.n_tokens, b.lo), b.hi) AS clamped,
       least(greatest(d.n_tokens, b.lo), b.hi) <> d.n_tokens AS was_clamped
FROM d JOIN b ON b.source = d.source
"""


@register(
    "p_winsorize",
    category="pipeline",
    oracle=_WINS_SQL,
)
def p_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization: clamp per-source token counts into the
    [p05, p95] band — the curation step that stops length outliers
    (boilerplate dumps, truncated fragments) from dominating
    length-sensitive statistics. Thresholds are the g3 CEIL(quantile)
    integer discipline: exact percentile over int64 token counts, CEIL
    to an integer bound — quantile-derived, so the operator stays
    nontrivially exercised at every sf. One groupBy for the per-source
    bounds (sources-sized, broadcast back), one map-side clamp."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    bounds = d.groupBy("source").agg(
        F.ceil(F.expr(f"percentile(n_tokens, {_WINS_LO})")).alias("lo"),
        F.ceil(F.expr(f"percentile(n_tokens, {_WINS_HI})")).alias("hi"),
    )
    out = d.join(F.broadcast(bounds), "source")
    clamped = F.least(F.greatest(F.col("n_tokens"), F.col("lo")), F.col("hi"))
    return out.select(
        "doc_id",
        "source",
        "n_tokens",
        F.col("lo").cast("bigint").alias("lo"),
        F.col("hi").cast("bigint").alias("hi"),
        clamped.cast("bigint").alias("clamped"),
        (clamped != F.col("n_tokens")).alias("was_clamped"),
    )


_MARKOV_SQL = """
WITH tr AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
c AS (
  SELECT prev_type, event_type AS next_type, count(*) AS n_transitions
  FROM tr WHERE prev_type IS NOT NULL
  GROUP BY prev_type, event_type
),
t AS (SELECT prev_type, CAST(sum(n_transitions) AS BIGINT) AS row_total
      FROM c GROUP BY prev_type)
SELECT c.prev_type, c.next_type, c.n_transitions,
       CAST((1000000 * c.n_transitions) // t.row_total AS BIGINT) AS prob_ppm
FROM c JOIN t USING (prev_type)
"""


@register(
    "p_markov_transitions",
    category="pipeline",
    oracle=_MARKOV_SQL,
)
def p_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences (session path analysis / next-event model). The lag
    window shuffles once on user_id — per-user state is bounded by
    that user's event count — and the transition aggregate is
    state-space sized (|event_type|^2 <= 25 here), so the output side
    is a broadcast-scale table at ANY corpus size. prob_ppm is integer
    floor division (Spark `div` == DuckDB `//`), so rows are
    engine-exact."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = (
        ev.select("user_id", "ts", "event_id", "event_type")
        .withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
    )
    c = tr.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    # row totals as a whole-partition WINDOW over the state-space-sized
    # count table — the aggregate-then-join-back form re-executed the
    # events scan + lag window once per reference (measured, no
    # ReusedExchange; the p_item_cf r10 lesson)
    return c.withColumn(
        "row_total", F.sum("n_transitions").over(Window.partitionBy("prev_type"))
    ).select(
        "prev_type",
        "next_type",
        "n_transitions",
        F.expr("(1000000 * n_transitions) div row_total").alias("prob_ppm"),
    )


_CF_TOPK = 3

_CF_SQL = f"""
WITH bi AS MATERIALIZED (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
),
cnt AS (SELECT p, CAST(count(*) AS BIGINT) AS c FROM bi GROUP BY p),
pairs AS MATERIALIZED (
  SELECT a.p AS pa, b.p AS pb, CAST(count(*) AS BIGINT) AS c_ab
  FROM bi a JOIN bi b ON a.ok = b.ok AND a.p < b.p
  GROUP BY 1, 2
),
sym AS (
  SELECT pa AS item, pb AS other, c_ab FROM pairs
  UNION ALL
  SELECT pb AS item, pa AS other, c_ab FROM pairs
),
j AS (
  SELECT s.item, s.other, s.c_ab, ci.c AS c_i, co.c AS c_o
  FROM sym s JOIN cnt ci ON ci.p = s.item JOIN cnt co ON co.p = s.other
)
SELECT item, other, c_ab, c_i, c_o, rn FROM (
  SELECT item, other, c_ab, c_i, c_o,
         CAST(row_number() OVER (
           PARTITION BY item
           ORDER BY CAST(c_ab * c_ab AS DOUBLE) / CAST(c_i * c_o AS DOUBLE)
                    DESC, other
         ) AS BIGINT) AS rn
  FROM j
) WHERE rn <= {_CF_TOPK}
"""


@register(
    "p_item_cf",
    category="pipeline",
    bench=True,
    oracle=_CF_SQL,
)
def p_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item co-occurrence similarity (the co-purchase statistic:
    'users who bought X also bought Y'; the same shape scores term
    co-occurrence in corpus analysis): baskets are orders, items are
    parts. Co-occurrence counts c_ab come from the basket self-join
    (a < b, then symmetrized); each item ranks its neighbors by cosine
    over basket-incidence vectors, cos² = c_ab²/(c_a·c_b). The score
    is ONE IEEE division of exact int64s — engines given identical
    integers produce the identical double, so the ORDER BY is
    engine-exact (no sums of libm terms anywhere); the OUTPUT carries
    only the integer evidence (c_ab, c_a, c_b) + rank. Scale: the
    self-join's pair volume is Σ basket² — baskets are order-sized
    (≤7 lineitems), so the term is linear in orders; the top-k is a
    WindowGroupLimit. 10×-swept before registration (PERF.md: 3.1×,
    the linear Σ basket² law) and re-swept at registration (r10).
    The basket-incidence table is POOLED (swap_persist): it feeds the
    item-count aggregate AND both self-join sides, and without the
    persist the distinct shuffle re-executed once per consumer
    (measured 4 live lineitem scans, scripts/scan_triage.py r10)."""
    from ..operators.cachepool import swap_persist

    # Per-order part SETS instead of the distinct + basket self-join
    # (r14, guide §2.3 aggregate-before-shuffle / §2.4 remove the
    # shuffle): one groupBy(l_orderkey) with collect_set replaces BOTH
    # the (l_orderkey, l_partkey) distinct AND the self-join on
    # l_orderkey — the join's two 600k-row exchange branches are gone,
    # and the pair fan-out happens IN-ROW over the sorted set (sorted ⇒
    # every generated pair already has pa < pb, so the filter
    # disappears too). collect_set per order is bounded by basket size
    # (≤7 lineitems per order at ANY TPC-H scale factor — no skew, no
    # giant-array hazard), which is exactly what makes the in-row
    # expansion the textbook basket-co-occurrence shape. The DuckDB
    # twin keeps its distinct + self-join algebra; rows verified
    # identical (and the c_ab/c_i/c_o integers are the same counts by
    # construction: per-order sets ⇒ pair instances are distinct per
    # order ⇒ count(*) ≡ the old distinct-pair count, and exploding the
    # sets regenerates bi exactly for the item counts).
    sets = swap_persist(
        "icf.sets",
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("ps")),
    )
    # cnt is POOLED too (r13 optimization round): it feeds TWO broadcast
    # joins below (c_i and c_o) whose build sides alias the columns
    # differently, so Catalyst's exchange reuse does not canonicalize
    # them to one subtree and the item-count aggregate was computed
    # twice per run. The table is item-cardinality-sized —
    # broadcast-scale by construction. Exploding the per-order sets
    # yields exactly the old distinct (order, part) incidence rows, so
    # the per-part count is the distinct-order count unchanged.
    cnt = swap_persist(
        "icf.cnt",
        sets.select(F.explode("ps").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c")),
    )
    pair_expr = F.expr(
        "flatten(transform(ps, (x, i) -> "
        "transform(slice(ps, i + 2, size(ps)), y -> "
        "struct(x AS pa, y AS pb))))"
    )
    pairs = (
        sets.select(F.explode(pair_expr).alias("e"))
        .select("e.pa", "e.pb")
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c_ab"))
    )
    # symmetrize by EXPLODING two orientations per pair rather than a
    # self-union: a union references `pairs` twice and Spark re-executes
    # the dominant basket-self-join subtree once per branch — the
    # explode keeps one plan branch (pair agg computed once) and just
    # doubles rows map-side. Measured trade at sf0.1 local[32]: union
    # 5.4 s vs explode 7.0 s wall (the duplicate branches run on
    # otherwise-idle cores), but the union burns 2x the CPU and 2x the
    # self-join shuffle I/O — on a busy 1000-executor cluster the
    # once-computed plan wins, so the local bench pays ~1.6 s for it
    sym = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("pa").alias("item"),
                    F.col("pb").alias("other"),
                    F.col("c_ab"),
                ),
                F.struct(
                    F.col("pb").alias("item"),
                    F.col("pa").alias("other"),
                    F.col("c_ab"),
                ),
            )
        ).alias("e")
    ).select("e.item", "e.other", "e.c_ab")
    j = (
        sym.join(
            cnt.select(F.col("l_partkey").alias("item"), F.col("c").alias("c_i")),
            "item",
        )
        .join(
            cnt.select(F.col("l_partkey").alias("other"), F.col("c").alias("c_o")),
            "other",
        )
    )
    score = (F.col("c_ab") * F.col("c_ab")).cast("double") / (
        F.col("c_i") * F.col("c_o")
    ).cast("double")
    rk = Window.partitionBy("item").orderBy(score.desc(), F.col("other"))
    return (
        j.withColumn("rn", F.row_number().over(rk).cast("bigint"))
        .filter(F.col("rn") <= _CF_TOPK)
        .select("item", "other", "c_ab", "c_i", "c_o", "rn")
    )


_CONT_NUM, _CONT_DEN = 1, 2  # τ = 1/2 (integer cross-multiplication)

_CONTAINMENT_SQL = f"""
WITH s AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(w) - 2, 0)),
           i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS toks
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
),
f AS (SELECT doc_id, toks FROM s WHERE len(toks) > 0)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(len(list_intersect(a.toks, b.toks)) AS BIGINT) AS inter,
       CAST(len(a.toks) AS BIGINT) AS size_a,
       CAST(len(b.toks) AS BIGINT) AS size_b,
       CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) / len(a.toks)
         AS containment
FROM f a JOIN f b ON a.doc_id != b.doc_id
WHERE len(list_intersect(a.toks, b.toks)) * {_CONT_DEN}
      >= len(a.toks) * {_CONT_NUM}
"""


def _containment_over(docs: DataFrame) -> DataFrame:
    """C(A→B) over word-3-shingle sets of an arbitrary (doc_id, text)
    frame — split out so the crafted subset-direction unit test
    (tests/test_registered_guards.py) can drive it with a constructed
    corpus. The shingle table is POOLED (swap_persist): it feeds both
    posting-join sides AND both size joins, and without the persist
    the tokenization re-executed once per branch (measured 4 live
    documents scans, scripts/scan_triage.py r10 — the l2c lesson)."""
    from ..operators.cachepool import swap_persist
    from ..operators.minhash import shingle_table

    sh = swap_persist(
        "contain.sh",
        shingle_table(docs, "doc_id", "text", 3).filter(F.size("sh") > 0),
    )
    sizes = sh.select("doc_id", F.size("sh").alias("sz"))
    post = sh.select("doc_id", F.explode("sh").alias("shingle"))
    pairs = (
        post.select(F.col("doc_id").alias("doc_a"), "shingle")
        .join(post.select(F.col("doc_id").alias("doc_b"), "shingle"), "shingle")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    out = (
        pairs.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("size_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("size_b")),
            "doc_b",
        )
        .filter(F.col("inter") * _CONT_DEN >= F.col("size_a") * _CONT_NUM)
    )
    return out.select(
        "doc_a",
        "doc_b",
        F.col("inter").cast("bigint").alias("inter"),
        F.col("size_a").cast("bigint").alias("size_a"),
        F.col("size_b").cast("bigint").alias("size_b"),
        (F.col("inter").cast("double") / F.col("size_a")).alias("containment"),
    )


@register(
    "p_shingle_containment",
    category="pipeline",
    oracle=_CONTAINMENT_SQL,
)
def p_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric set containment C(A→B) = |A∩B| / |A| over word-3-
    shingle SETS (Broder's containment from the original resemblance
    paper, public): doc_a is flagged when τ of its shingles appear in
    doc_b — catches a doc quoted or embedded inside a larger one, which
    symmetric Jaccard (l2/l11) misses when |B| >> |A|. Candidates from
    the inverted-index posting self-join (the l2c Σ df² shape; a df cap
    is the documented hot-shingle dial); verification is integer
    cross-multiplication — no fp threshold. Asymmetric: both (a,b) and
    (b,a) can appear. The twin is DELIBERATELY brute-force all-pairs
    (the l11 precedent): candidate generation must be invisible in the
    answer.

    10× sweep (scripts/scale10x_r8cand.py, near-duplicated replica):
    6.4 s → 435 s is an OUTPUT-DENSITY artifact, not a law violation —
    qualifying pairs grew 979× (every 10-copy near-dup group mutually
    contains) while wall per output row IMPROVED 14×. Production dials
    when containment output is dense: the hot-shingle df cap, and the
    prefix-filter upgrade (setjoin's AllPairs machinery specialized to
    the asymmetric bound ⌊(1−τ)|A|⌋+1) — documented, not implemented."""
    return _containment_over(load_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# p_media_dedup: exact dedup over binary media ingest (registered r11)
# ---------------------------------------------------------------------------

_MD_N_FILES = 32
_MD_DISTINCT = 20  # files 20..31 duplicate the contents of files 0..11


def _md_payload(i: int) -> bytes:
    """Deterministic pseudo-media bytes with PLANTED duplicate groups:
    content is keyed by i % _MD_DISTINCT, so files 20..31 are exact
    byte-for-byte copies of files 0..11 (the s22 generator never
    repeats a payload — dedup there would be vacuous, the g3 rule)."""
    import hashlib

    g = i % _MD_DISTINCT
    return hashlib.md5(f"md-{g}".encode()).digest() * (g % 5 + 1)


def _media_dedup_sql() -> str:
    import hashlib
    from collections import defaultdict

    groups = defaultdict(list)
    meta = {}
    for i in range(_MD_N_FILES):
        p = _md_payload(i)
        h = hashlib.md5(p).hexdigest()
        groups[h].append(f"f{i:03d}.bin")
        meta[f"f{i:03d}.bin"] = (h, len(p))
    rows = []
    for fname, (h, nb) in sorted(meta.items()):
        fam = sorted(groups[h])
        rows.append(
            f"('{fname}', '{h}', {nb}, '{fam[0]}', {len(fam)}, "
            f"{str(fname != fam[0]).upper()})"
        )
    values = ",\n".join(rows)
    return f"""
SELECT * FROM (VALUES
{values}
) AS t(fname, content_md5, n_bytes, canonical, n_copies, is_dup)
"""


@register(
    "p_media_dedup",
    category="pipeline",
    oracle=_media_dedup_sql(),
)
def p_media_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact media dedup — the first pass of any image/audio corpus
    pipeline (byte-identical re-uploads, mirrored files): binaryFile
    scan → group by content digest → every file gets a verdict row
    (canonical = min filename in its group, is_dup for the rest) —
    the l1_exact_dedup shape applied to the s22 ingest path, closing
    ingest → dedup for the multimodal family. Scale: one shuffle keyed
    by the 128-bit digest; groups are duplicate-cluster sized; no
    byte-level comparison ever happens after the per-file md5 (which
    rides the scan). The twin regenerates the identical table from the
    same generator algebra (legitimate for file→row boundary checks —
    the s22 precedent)."""
    import os

    from .sources_q import _tag, scratch

    d = scratch(f"p_media_dedup_{_tag(sf_dir)}")
    if not os.path.isdir(d) or len(os.listdir(d)) != _MD_N_FILES:
        os.makedirs(d, exist_ok=True)
        for i in range(_MD_N_FILES):
            with open(os.path.join(d, f"f{i:03d}.bin"), "wb") as f:
                f.write(_md_payload(i))
    files = spark.read.format("binaryFile").load(d).select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("fname"),
        F.md5(F.col("content")).alias("content_md5"),
        F.col("length").cast("bigint").alias("n_bytes"),
    )
    w = Window.partitionBy("content_md5")
    return files.select(
        "fname",
        "content_md5",
        "n_bytes",
        F.min("fname").over(w).alias("canonical"),
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_copies"),
        (F.col("fname") != F.min("fname").over(w)).alias("is_dup"),
    )


# ---------------------------------------------------------------------------
# p_systematic_sample (registered round 12; twin pre-verified in the
# batch-J candidate suite at both fixture sfs —
# tests/test_r12_candidates.py, now retired)
# ---------------------------------------------------------------------------

_SYS_K = 5  # draws per source stratum (~20 sources in the fixture)

_SYS_SQL = f"""
WITH d AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tokens,
         CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cum,
         CAST(sum(n_tokens) OVER (PARTITION BY source) AS BIGINT) AS tot
  FROM d
)
SELECT doc_id, source, n_tokens, cum AS cum_tokens,
       (cum * {_SYS_K}) // tot AS stride_bucket
FROM c
WHERE (cum * {_SYS_K}) // tot > ((cum - n_tokens) * {_SYS_K}) // tot
"""


@register(
    "p_systematic_sample",
    category="pipeline",
    oracle=_SYS_SQL,
)
def p_systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source systematic sampling along the cumulative token axis
    (probability-proportional-to-size without replacement — the
    curation draw for token-budgeted subcorpora; Madow's systematic
    PPS, public): within each source, docs are laid on the cumulative
    n_tokens axis in doc_id order and a doc is selected whenever the
    running total crosses one of k={_SYS_K} equally-spaced stride
    boundaries — floor(cum·k/T) > floor((cum−w)·k/T), all int64 floor
    division, engine-exact. Long docs can absorb multiple boundaries
    (selected once — the standard PPS behavior); selection count per
    source is ≤ k and ≥ 1. One per-source window pass; the per-source
    partition is the same series-key shape as the ts_* family —
    for a million-source corpus the two-phase globalrank core swaps in
    (documented, operators/globalrank.py). The PPS-proportionality
    guard (selected mean length > corpus mean) lives in
    tests/test_registered_guards.py."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    wc = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wt = Window.partitionBy("source")
    c = d.select(
        "doc_id",
        "source",
        "n_tokens",
        F.sum("n_tokens").over(wc).alias("cum"),
        F.sum("n_tokens").over(wt).alias("tot"),
    )
    bucket = F.expr(f"(cum * {_SYS_K}) div tot")
    prev_bucket = F.expr(f"((cum - n_tokens) * {_SYS_K}) div tot")
    return (
        c.filter(bucket > prev_bucket)
        .select(
            "doc_id",
            "source",
            "n_tokens",
            F.col("cum").cast("bigint").alias("cum_tokens"),
            bucket.cast("bigint").alias("stride_bucket"),
        )
    )


# ---------------------------------------------------------------------------
# p_span_corruption (registered round 13; twin pre-verified in the
# batch-K candidate suite at both fixture sfs —
# tests/test_r13_candidates.py, now retired)
# ---------------------------------------------------------------------------

_SPAN_LEN = 3
_SPAN_EVERY = 20  # one span per 20 tokens (≈15% corruption at len 3)
_SPAN_MIN_N = 8

_SPAN_SQL = f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS toks,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
  FROM documents
),
d AS MATERIALIZED (
  SELECT doc_id, toks, n,
         greatest(1, n // {_SPAN_EVERY}) AS n_spans,
         n // greatest(1, n // {_SPAN_EVERY}) AS stride
  FROM t WHERE n >= {_SPAN_MIN_N}
),
s AS (
  SELECT doc_id, toks,
         CAST(g.i AS BIGINT) AS span_id,
         CAST(g.i * stride
              + (CAST(CONCAT('0x', substr(md5(
                   CAST(doc_id AS VARCHAR) || '-' || CAST(g.i AS VARCHAR)
                 ), 1, 15)) AS BIGINT) % (stride - {_SPAN_LEN - 1}))
           AS BIGINT) AS start
  FROM d, unnest(generate_series(0, n_spans - 1)) AS g(i)
)
SELECT doc_id, span_id, start,
       array_to_string(list_slice(toks, start + 1, start + {_SPAN_LEN}), ' ')
         AS masked
FROM s
"""


@register(
    "p_span_corruption",
    category="pipeline",
    oracle=_SPAN_SQL,
)
def p_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption schedule (Raffel et al. 2020):
    documents with ≥ _SPAN_MIN_N whitespace tokens get n//_SPAN_EVERY
    (min 1) mask spans of _SPAN_LEN tokens. Spans are NON-OVERLAPPING
    by construction: the token axis is cut into n_spans equal strides
    and span i starts at i*stride + H(doc_id-i) % (stride-2) (md5
    bucket — the house deterministic-hash rule), so every span fits
    inside its own stride. Map-only: one scan, one explode of a
    per-doc integer sequence — no shuffle at any scale; deterministic,
    repartition-stable, resumable (the reasons an RNG can't do this
    job). Output is the (doc, span, start, masked-text) schedule a
    denoising-objective loader consumes."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    t = d.select(
        "doc_id", toks.alias("toks"), F.size(toks).cast("bigint").alias("n")
    ).filter(F.col("n") >= _SPAN_MIN_N)
    t = t.withColumn(
        "n_spans", F.greatest(F.lit(1), F.expr(f"n div {_SPAN_EVERY}"))
    ).withColumn("stride", F.expr("n div n_spans"))
    s = t.select(
        "doc_id",
        "toks",
        "stride",
        F.explode(F.sequence(F.lit(0), F.col("n_spans") - 1)).alias("span_id"),
    )
    h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit("-"),
                    F.col("span_id").cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("bigint")
    start = F.col("span_id") * F.col("stride") + F.pmod(
        h, F.col("stride") - F.lit(_SPAN_LEN - 1)
    )
    return s.select(
        "doc_id",
        F.col("span_id").cast("bigint").alias("span_id"),
        start.cast("bigint").alias("start"),
        F.concat_ws(
            " ", F.slice(F.col("toks"), start.cast("int") + 1, _SPAN_LEN)
        ).alias("masked"),
    )


# ---------------------------------------------------------------------------
# p_budget_allocation (registered round 13; twin pre-verified in the
# batch-K candidate suite at both fixture sfs —
# tests/test_r13_candidates.py, now retired)
# ---------------------------------------------------------------------------

_BUDGET_N = 200

_BUDGET_SQL = f"""
WITH per_src AS MATERIALIZED (
  SELECT source, CAST(count(*) AS BIGINT) AS cnt FROM documents GROUP BY source
),
a AS MATERIALIZED (
  SELECT source, cnt,
         ({_BUDGET_N} * cnt) // CAST(SUM(cnt) OVER () AS BIGINT) AS base,
         ({_BUDGET_N} * cnt) % CAST(SUM(cnt) OVER () AS BIGINT) AS rem
  FROM per_src
),
alloc AS MATERIALIZED (
  SELECT source,
         CAST(base + CASE WHEN row_number() OVER (ORDER BY rem DESC, source)
                            <= {_BUDGET_N} - CAST(SUM(base) OVER () AS BIGINT)
                     THEN 1 ELSE 0 END AS BIGINT) AS quota
  FROM a
)
SELECT doc_id, source, pick_rank, quota FROM (
  SELECT d.doc_id, d.source,
         CAST(row_number() OVER (PARTITION BY d.source
                                 ORDER BY d.n_chars DESC, d.doc_id)
           AS BIGINT) AS pick_rank,
         alloc.quota
  FROM documents d JOIN alloc ON d.source = alloc.source
) WHERE pick_rank <= quota
"""


@register(
    "p_budget_allocation",
    category="pipeline",
    oracle=_BUDGET_SQL,
)
def p_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-remainder (Hamilton) allocation of a _BUDGET_N-document
    budget across sources, then each source's top-quota docs by
    (n_chars DESC, doc_id) — the budgeted-curation op behind "give me
    exactly N docs, proportional to source sizes, best-first". Quotas
    are exact integers that sum to the budget by construction: base
    share (N·cnt) div total per source, the remainder ranked (rem
    DESC, source) and the leftover distributed +1 down that ranking.
    The allocation table is SOURCE-sized (bounded: ~10 rows), so its
    single-partition windows are over a bounded table (the dq4/dq8
    shape — ALLOWED entry in tests/test_shuffle_audit.py) and it
    broadcasts into the one corpus-wide pass; the only full shuffle is
    the per-source top-quota rank."""
    from ..operators.cachepool import swap_persist

    d = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    per_src = swap_persist(
        "pba.src",
        d.groupBy("source").agg(F.count(F.lit(1)).alias("cnt")),
    )
    wall = Window.partitionBy()
    a = per_src.select(
        "source",
        "cnt",
        F.sum("cnt").over(wall).alias("t"),
    ).select(
        "source",
        "cnt",
        F.expr(f"({_BUDGET_N} * cnt) div t").alias("base"),
        ((F.lit(_BUDGET_N) * F.col("cnt")) % F.col("t")).alias("rem"),
    )
    a = a.select(
        "source",
        "cnt",
        "base",
        "rem",
        (F.lit(_BUDGET_N) - F.sum("base").over(wall)).alias("leftover"),
        F.row_number()
        .over(Window.orderBy(F.col("rem").desc(), F.col("source")))
        .alias("rrank"),
    )
    alloc = a.select(
        "source",
        (
            F.col("base")
            + F.when(F.col("rrank") <= F.col("leftover"), 1).otherwise(0)
        ).cast("bigint").alias("quota"),
    )
    wpick = Window.partitionBy("source").orderBy(
        F.col("n_chars").desc(), F.col("doc_id")
    )
    return (
        d.join(F.broadcast(alloc), "source")
        .withColumn("pick_rank", F.row_number().over(wpick))
        .filter(F.col("pick_rank") <= F.col("quota"))
        .select(
            "doc_id",
            "source",
            F.col("pick_rank").cast("bigint").alias("pick_rank"),
            "quota",
        )
    )


# ---------------------------------------------------------------------------
# p_dedup_recall_eval (registered round 13, substituted into batch K's
# fifth slot after g14_label_propagation was found output-identical to
# the already-registered g4 — see ROADMAP.md; twin pre-verified in the
# batch-M candidate suite at both fixture sfs, kept in git history:
# `git show a2241ba:tests/`)
# ---------------------------------------------------------------------------

_EVAL_TAU = 0.3  # the l2 family's design threshold


def _dedup_eval_sql() -> str:
    from .llm import _SQL_SHINGLE_CTES

    return f"""
WITH {_SQL_SHINGLE_CTES},
p AS MATERIALIZED (
  SELECT CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           / len(list_distinct(a.sh || b.sh)) AS jac,
         len(list_filter(generate_series(0, 7), bi ->
             list_slice(a.sig, bi*4 + 1, bi*4 + 4)
               = list_slice(b.sig, bi*4 + 1, bi*4 + 4))) AS nb
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
  WHERE len(a.sh) > 0 AND len(b.sh) > 0
),
c AS (
  SELECT CAST(count(*) FILTER (jac >= {_EVAL_TAU}) AS BIGINT) AS n_true,
         CAST(count(*) FILTER (nb > 0) AS BIGINT) AS n_cand,
         CAST(count(*) FILTER (nb > 0 AND jac >= {_EVAL_TAU}) AS BIGINT)
           AS n_tp
  FROM p
)
SELECT n_true, n_cand, n_tp,
       CASE WHEN n_true = 0 THEN 0
            ELSE (1000000 * n_tp) // n_true END AS recall_ppm,
       CASE WHEN n_cand = 0 THEN 0
            ELSE (1000000 * n_tp) // n_cand END AS precision_ppm
FROM c
"""


@register(
    "p_dedup_recall_eval",
    category="pipeline",
    oracle=_dedup_eval_sql(),
)
def p_dedup_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-quality evaluation: how good is the 8×4 banded MinHash
    candidate generator (the l2/l5/ingest-dedup core) on THIS corpus?
    n_true = pairs with exact shingle Jaccard ≥ τ (via the exact
    inverted-index posting join — l2c's algorithm, no sketch anywhere);
    n_cand = distinct banded candidate pairs (uncapped band semantics,
    so the measurement is of the banding itself, not the hot-bucket
    guard); n_tp = their intersection; recall/precision in exact
    integer ppm. This operationalizes the repo's standing banded-recall
    caveat (VERDICT r7–r12): instead of documenting an S-curve posture,
    MEASURE it on the corpus at hand. At 100 TB this runs on a SAMPLE —
    it is the calibration instrument you consult before committing a
    threshold/band split to a full crawl (tune_bands' S-curve made
    empirical; its exact posting join is Σ df² on the sample, which is
    the instrument's cost, not the pipeline's). The shingle and
    candidate tables ride the swap-pool (keys dedupeval.*); the three
    count aggregates are one-row scalars combined by broadcast (the
    dq_profile suite shape — ALLOWED entry in
    tests/test_shuffle_audit.py)."""
    from ..operators.bandjoin import guarded_band_self_join
    from ..operators.cachepool import swap_persist
    from ..operators.minhash import band_keys, shingle_table, signature_from_shingles

    d = load_table(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism
    )
    sh = swap_persist(
        "dedupeval.sh",
        shingle_table(d, "doc_id", "text", 3).filter(F.size("sh") > 0),
    )
    # sig derives from the pooled sh — one regex shingling pass per
    # corpus, not two (signature_from_shingles, r13 optimization round);
    # repartition above spreads that pass over the cores (single-file
    # scan = 1 partition otherwise)
    sigs = signature_from_shingles(sh)
    banded = sigs.select(
        "doc_id", F.posexplode(band_keys(F.col("sig"))).alias("band", "key")
    )
    cand = swap_persist(
        "dedupeval.cand",
        guarded_band_self_join(
            banded, "doc_id", ("band", "key"), max_bucket_size=None
        ),
    )
    post = sh.select("doc_id", F.explode("sh").alias("shingle"))
    inter = (
        post.select(F.col("doc_id").alias("doc_a"), "shingle")
        .join(
            post.select(F.col("doc_id").alias("doc_b"), "shingle"), "shingle"
        )
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sizes = sh.select("doc_id", F.size("sh").alias("sz"))
    jac = F.col("inter").cast("double") / (
        F.col("sa") + F.col("sb") - F.col("inter")
    )
    exact = swap_persist(
        "dedupeval.exact",
        inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sa")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sb")),
            "doc_b",
        )
        .filter(jac >= _EVAL_TAU)
        .select("doc_a", "doc_b"),
    )
    n_true = exact.agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))
    n_cand = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_cand"))
    n_tp = exact.join(cand, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tp")
    )
    return (
        n_true.crossJoin(F.broadcast(n_cand))
        .crossJoin(F.broadcast(n_tp))
        .select(
            "n_true",
            "n_cand",
            "n_tp",
            F.expr(
                "CASE WHEN n_true = 0 THEN 0 "
                "ELSE (1000000 * n_tp) div n_true END"
            ).alias("recall_ppm"),
            F.expr(
                "CASE WHEN n_cand = 0 THEN 0 "
                "ELSE (1000000 * n_tp) div n_cand END"
            ).alias("precision_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# p_hard_negatives (registered round 13 under the raised ≤10 budget;
# twin pre-verified in the batch-L candidate suite at both fixture sfs
# — tests/test_r14_candidates.py, now retired. Registration-time fix:
# the anchor set gained the fixed absolute cap the r13 probe-broadcast
# sweep added to the whole IVF family — `vec_id % 50` alone is a
# corpus FRACTION, and its broadcast would grow linearly; fn and twin
# changed identically, re-verified hash-exact at both sfs.)
# ---------------------------------------------------------------------------

_HN_ANCHOR_MOD = 50
_HN_TOPK = 5


def _hard_negatives_sql() -> str:
    from ..functions.vector import sql_cosine
    from .similarity_q import _IVF_PROBE_CAP, _K_CENTROIDS

    return f"""
WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
cent AS (SELECT vec_id AS cent_id, embedding AS cvec FROM embeddings
         WHERE vec_id < {_K_CENTROIDS}),
ranked AS MATERIALIZED (
  SELECT e.vec_id, cent.cent_id, e.embedding, e.label,
         row_number() OVER (
           PARTITION BY e.vec_id
           ORDER BY {sql_cosine('e.embedding', 'cent.cvec')} DESC, cent.cent_id
         ) AS crn
  FROM e CROSS JOIN cent
),
assign AS (SELECT vec_id, cent_id, embedding, label FROM ranked WHERE crn = 1),
anchors AS (SELECT vec_id AS anchor_id, cent_id, embedding AS avec,
                   label AS alabel
            FROM assign
            WHERE vec_id % {_HN_ANCHOR_MOD} = 0
              AND vec_id < {_IVF_PROBE_CAP})
SELECT anchor_id, vec_id, label, cos_sim, rn FROM (
  SELECT a.anchor_id, m.vec_id, m.label,
         {sql_cosine('a.avec', 'm.embedding')} AS cos_sim,
         CAST(row_number() OVER (
           PARTITION BY a.anchor_id
           ORDER BY {sql_cosine('a.avec', 'm.embedding')} DESC, m.vec_id
         ) AS BIGINT) AS rn
  FROM anchors a JOIN assign m
    ON a.cent_id = m.cent_id AND m.vec_id != a.anchor_id
       AND m.label != a.alabel
)
WHERE rn <= {_HN_TOPK}
"""


@register(
    "p_hard_negatives",
    category="pipeline",
    oracle=_hard_negatives_sql(),
)
def p_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training (Xiong et al.
    ANCE, public): for each capped anchor (vec_id % 50 AND the fixed
    absolute _IVF_PROBE_CAP budget — the l10_knn_ivf contract), the
    top-5 most-cosine-similar vectors with a DIFFERENT label inside
    the anchor's IVF bucket. Random negatives (p_negative_samples) are
    easy; the negatives that teach a model are the near-misses —
    exactly the ANN bucket's different-label residents. Composes the
    pooled _ivf_assign (one shared coarse assignment with sim_ivf_topk
    / l10_knn_ivf); anchors broadcast — an O(cap) set, not a corpus
    fraction — so the search stays in the corpus scan's partitioning
    (the sim_ivf_topk plan discipline). Candidate volume is Σ anchor-
    bucket sizes — the IVF growth law, never n²."""
    from ..functions.vector import dot
    from .similarity_q import _IVF_PROBE_CAP, _ivf_assign

    assign = _ivf_assign(spark, sf_dir)
    anchors = assign.filter(
        (F.col("vec_id") % _HN_ANCHOR_MOD == 0)
        & (F.col("vec_id") < _IVF_PROBE_CAP)
    ).select(
        F.col("vec_id").alias("anchor_id"),
        F.col("cent_id"),
        F.col("embedding").alias("avec"),
        F.col("vnorm").alias("anorm"),
        F.col("label").alias("alabel"),
    )
    cos = dot(F.col("avec"), F.col("embedding")) / (
        F.col("anorm") * F.col("vnorm")
    )
    wr = Window.partitionBy("anchor_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    return (
        assign.join(F.broadcast(anchors), "cent_id")
        .filter(
            (F.col("vec_id") != F.col("anchor_id"))
            & (F.col("label") != F.col("alabel"))
        )
        .select(
            "anchor_id", "vec_id", "label", cos.alias("cos_sim")
        )
        .withColumn("rn", F.row_number().over(wr).cast("bigint"))
        .filter(F.col("rn") <= _HN_TOPK)
    )
