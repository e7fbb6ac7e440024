"""Corpus-management ops for training-data pipelines (task-brief §2.12
additions, round 2): deterministic train/val/test splits, per-stratum
sampling, and overlapping text chunking.

All three are MAP-ONLY or WindowGroupLimit-bounded — no unbounded
shuffle anywhere — and all hashing goes through the repo's cross-engine
md5→bigint derivation (functions/text.py rationale: xxhash64 is cheaper
at scale but has no DuckDB twin; swap in production) so every query has
an exact-compare oracle.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, SparkSession, Window

from ..functions.numeric import davg, sql_davg
from ..io import load_table
from ..registry import register

#: chunking geometry: 80-char chunks every 60 chars → 20-char overlap,
#: the standard "context continuity" shape for training-window packing
CHUNK_CHARS = 80
CHUNK_STRIDE = 60

#: split fractions in bucket space (out of 100)
TRAIN_BUCKETS = 80
VAL_BUCKETS = 10

SAMPLE_PER_STRATUM = 20


def _hash_bucket(c: Column, mod: int) -> Column:
    """Deterministic bucket in [0, mod): first 15 md5 hex digits of the
    string form → bigint → pmod. Identical in DuckDB as
    CAST(CONCAT('0x', substr(md5(x),1,15)) AS BIGINT) % mod."""
    return F.pmod(
        F.conv(F.substring(F.md5(c.cast("string")), 1, 15), 16, 10).cast("bigint"),
        F.lit(mod),
    )


def _sql_hash_bucket(expr: str, mod: int) -> str:
    return (
        f"CAST(CONCAT('0x', substr(md5(CAST({expr} AS VARCHAR)), 1, 15)) "
        f"AS BIGINT) % {mod}"
    )


@register(
    "p_hash_split",
    category="pipeline",
    oracle=f"""
SELECT doc_id,
       {_sql_hash_bucket('doc_id', 100)} AS bucket,
       CASE WHEN {_sql_hash_bucket('doc_id', 100)} < {TRAIN_BUCKETS} THEN 'train'
            WHEN {_sql_hash_bucket('doc_id', 100)} < {TRAIN_BUCKETS + VAL_BUCKETS} THEN 'val'
            ELSE 'test' END AS split
FROM documents
""",
)
def p_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment by hashing the
    document KEY (not a random() roll): the same doc lands in the same
    split on every run, on any cluster, after any repartition — the
    property that keeps eval sets uncontaminated as a corpus grows.
    Map-only; the hash is a pure projection that pipelines into the
    parquet scan."""
    d = load_table(spark, sf_dir, "documents")
    bucket = _hash_bucket(F.col("doc_id"), 100)
    split = (
        F.when(bucket < TRAIN_BUCKETS, "train")
        .when(bucket < TRAIN_BUCKETS + VAL_BUCKETS, "val")
        .otherwise("test")
    )
    return d.select("doc_id", bucket.alias("bucket"), split.alias("split"))


@register(
    "p_sample_stratified",
    category="pipeline",
    oracle=f"""
SELECT doc_id, lang,
       CAST(ROW_NUMBER() OVER (PARTITION BY lang
                               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
            AS BIGINT) AS sample_rank
FROM documents
QUALIFY sample_rank <= {SAMPLE_PER_STRATUM}
""",
)
def p_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sample: k docs per language, chosen by
    md5 rank of the key — reproducible across runs/engines, unlike
    `TABLESAMPLE` / `df.sample` whose row picks depend on partition
    layout. The rank filter compiles to WindowGroupLimit (same shape as
    w7): each map partition keeps only its local top-k per stratum
    BEFORE the shuffle, so the exchange carries O(k · strata ·
    partitions) rows no matter the corpus size."""
    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (
        d.select(
            "doc_id",
            "lang",
            F.row_number().over(w).cast("bigint").alias("sample_rank"),
        )
        .filter(F.col("sample_rank") <= SAMPLE_PER_STRATUM)
    )


@register(
    "p_chunk_text",
    category="pipeline",
    oracle=f"""
WITH b AS (
  SELECT doc_id, text,
         unnest(generate_series(1, greatest(length(text), 1), {CHUNK_STRIDE})) AS s
  FROM documents
)
SELECT doc_id,
       CAST((s - 1) // {CHUNK_STRIDE} AS INTEGER) AS chunk_idx,
       CAST(s AS INTEGER) AS chunk_start,
       substr(text, CAST(s AS INTEGER), {CHUNK_CHARS}) AS chunk,
       CAST(length(substr(text, CAST(s AS INTEGER), {CHUNK_CHARS})) AS INTEGER)
         AS chunk_len
FROM b
""",
)
def p_chunk_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-width chunking (80-char windows, stride 60):
    the document → training-window explosion step. Start offsets come
    from `sequence`, the chunk from `substr` — pure JVM expressions, so
    the explode is map-only (plan-asserted: no Exchange) and chunking
    pipelines into the scan; at 100 TB the output just streams through
    to the sink with no shuffle at all. A short doc still yields exactly
    one chunk (greatest(len, 1) guard), so no document is silently
    dropped."""
    d = load_table(spark, sf_dir, "documents")
    starts = F.sequence(
        F.lit(1), F.greatest(F.length("text"), F.lit(1)), F.lit(CHUNK_STRIDE)
    )
    b = d.select(
        "doc_id",
        "text",
        F.posexplode(starts).alias("chunk_idx", "chunk_start"),
    )
    chunk = F.col("text").substr(F.col("chunk_start"), F.lit(CHUNK_CHARS))
    return b.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.col("chunk_start").cast("int").alias("chunk_start"),
        chunk.alias("chunk"),
        F.length(chunk).cast("int").alias("chunk_len"),
    )


#: Gopher-style duplicate-n-gram thresholds (Rae et al. 2021, "Scaling
#: Language Models: ... Gopher", Table A1 — public): docs whose repeated
#: 2-/3-gram mass is too high are boilerplate/spam-shaped.
DUP_2GRAM_MAX = 0.55
DUP_3GRAM_MAX = 0.45


def _rx_ngrams(text: Column, n: int) -> Column:
    """NON-distinct word n-grams (repetition is the signal here, unlike
    functions/text.py ``shingles_rx``, which deduplicates for MinHash),
    straight off the raw string: one regex pass with a
    word-boundary-anchored LOOKAHEAD capture, so overlapping grams all
    match. The grams equal each n-word window of ``split(text, ' ')``,
    and the pass is ~16x faster at sf0.1 than a higher-order
    ``transform`` over that split (0.29s vs 4.7s for the 5-gram
    explode): the lambda is interpreted row-at-a-time (HOFs don't
    enter whole-stage codegen) while regexp_extract_all stays inside
    codegen. It assumes single-space tokenization — the fixture
    contract; on multi-space text a split emits empty words where this
    skips them (and every oracle twin pins the split semantics, so a
    corpus violating the contract fails the compare loudly)."""
    from ..functions.text import gram_pattern

    return F.regexp_extract_all(text, F.lit(gram_pattern(n)), F.lit(1))


def _sql_ngrams(w: str, n: int) -> str:
    parts = " || ' ' || ".join(f"{w}[i + {j}]" for j in range(n))
    return (
        f"CASE WHEN len({w}) >= {n} THEN "
        f"list_transform(generate_series(1, len({w}) - {n - 1}), i -> {parts}) "
        f"ELSE [] END"
    )


def _dup_frac(g: Column) -> Column:
    """(total - distinct) / total n-grams; 0 for empty gram arrays."""
    return F.when(
        F.size(g) > 0,
        (F.size(g) - F.size(F.array_distinct(g))).cast("double") / F.size(g),
    ).otherwise(F.lit(0.0))


def _sql_dup_frac(g: str) -> str:
    return (
        f"CASE WHEN len({g}) > 0 THEN "
        f"CAST(len({g}) - len(list_distinct({g})) AS DOUBLE) / len({g}) "
        f"ELSE 0.0 END"
    )


@register(
    "p_repetition_filter",
    category="pipeline",
    oracle=f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
g AS (SELECT doc_id,
             {_sql_dup_frac('w')} AS dup_word_frac,
             {_sql_dup_frac(_sql_ngrams('w', 2))} AS dup_2gram_frac,
             {_sql_dup_frac(_sql_ngrams('w', 3))} AS dup_3gram_frac
      FROM w)
SELECT doc_id, dup_word_frac, dup_2gram_frac, dup_3gram_frac,
       (dup_2gram_frac <= {DUP_2GRAM_MAX} AND dup_3gram_frac <= {DUP_3GRAM_MAX})
         AS keep
FROM g
""",
)
def p_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter: the duplicated fraction of words,
    2-grams and 3-grams per document (repeated-n-gram mass ⇒ boilerplate
    / degenerate text), plus the keep/drop verdict at the published
    thresholds. Every fraction is one exact int/int double division;
    n-gram arrays are built once from the materialized word column
    (Catalyst lambda-inlining rule, functions/text.py). Map-only — the
    filter pipelines into the scan at any scale."""
    d = load_table(spark, sf_dir, "documents").withColumn(
        "w", F.split(F.col("text"), " ")
    )
    g = d.select(
        "doc_id",
        _dup_frac(F.col("w")).alias("dup_word_frac"),
        _dup_frac(_rx_ngrams(F.col("text"), 2)).alias("dup_2gram_frac"),
        _dup_frac(_rx_ngrams(F.col("text"), 3)).alias("dup_3gram_frac"),
    )
    keep = (F.col("dup_2gram_frac") <= DUP_2GRAM_MAX) & (
        F.col("dup_3gram_frac") <= DUP_3GRAM_MAX
    )
    return g.withColumn("keep", keep)


TOKENS_PER_SHARD = 1_000


@register(
    "p_token_shards",
    category="pipeline",
    oracle=f"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tok,
         CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING), 0) AS BIGINT) AS tok_before
  FROM t
)
SELECT doc_id, source, n_tok, tok_before,
       tok_before // {TOKENS_PER_SHARD} AS shard
FROM c
""",
)
def p_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget sharding: within each source, documents (in doc_id
    order) are assigned to contiguous ~1000-token shards by exclusive
    running token count — the deterministic "pack the corpus into
    fixed-budget training files" step. Partitioning by source keeps the
    prefix-sum window parallel (one shuffle on source, no global sort);
    a single logical corpus would instead use the two-phase per-range
    partial-sum + broadcast-offsets form, which this window shape
    compiles from directly."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tok"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = t.withColumn(
        "tok_before", F.coalesce(F.sum("n_tok").over(w), F.lit(0)).cast("bigint")
    )
    return c.withColumn(
        "shard", F.floor(F.col("tok_before") / TOKENS_PER_SHARD).cast("bigint")
    )


#: BM25 constants (the Robertson/Okapi defaults) and query workload:
#: each of the first BM25_N_QUERIES documents acts as a query (its
#: distinct terms), scored against the whole corpus, top-BM25_TOP_K
#: returned. Deterministic — no RNG, rank ties broken by doc_id.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_N_QUERIES = 10
BM25_TOP_K = 5


#: Named so p_rag_context_pack's oracle can embed the verified ranking
#: verbatim (the _KMEANS_PREFIX composition rule).
#:
#: Score representation (hardened round 9, the r8 p_rag_context_pack
#: red-row fix): each per-term contribution is mapped to integer
#: micro-units with FLOOR(t * 1e6 + 0.5) — multiply and add are IEEE
#: ops both engines execute identically on an identical double, and
#: FLOOR is exact, so the quantization can NEVER disagree across
#: engines the way a double→DECIMAL(25,6) cast can (Spark rounds the
#: shortest-repr string HALF_UP, DuckDB rounds the exact binary
#: expansion — at a half-grid boundary they differ on the SAME value;
#: the r8 driver red is the observed signature). Micro-unit sums are
#: BIGINT: exact, order-free, and the ranking key itself, so no final
#: ROUND boundary exists at all. Residual hazard is only libm-ln
#: last-ulp divergence landing exactly on a floor boundary, guarded by
#: tests/test_registered_guards.py::test_bm25_floor_boundary_margin.
_BM25_SQL = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM tok GROUP BY 1, 2),
dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS DOUBLE) AS dl FROM documents),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs, {sql_davg('dl')} AS avgdl FROM dl),
qterms AS (
  SELECT DISTINCT doc_id AS q_id, term FROM tok WHERE doc_id < {BM25_N_QUERIES}
),
tfq AS (SELECT tf.* FROM tf SEMI JOIN qterms ON tf.term = qterms.term),
df AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tfq GROUP BY term),
scored AS (
  SELECT q.q_id, t.doc_id,
         CAST(SUM(CAST(FLOOR((
             ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
             * t.tf * ({BM25_K1} + 1)
             / (t.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * l.dl / s.avgdl))
         ) * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS score_u6
  FROM qterms q
  JOIN tfq t ON q.term = t.term
  JOIN df d ON t.term = d.term
  JOIN dl l ON t.doc_id = l.doc_id
  CROSS JOIN stats s
  GROUP BY 1, 2
)
SELECT q_id, doc_id, score_u6, CAST(rn AS BIGINT) AS rn FROM (
  SELECT q_id, doc_id, score_u6,
         row_number() OVER (PARTITION BY q_id
                            ORDER BY score_u6 DESC, doc_id) AS rn
  FROM scored
) WHERE rn <= {BM25_TOP_K}
"""


@register(
    "p_bm25_topk",
    category="pipeline",
    bench=True,
    oracle=_BM25_SQL,
)
def p_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval top-k — the lexical-search half of a RAG / data-
    curation stack (find the corpus documents most relevant to each
    query) as pure native expressions. Each of the first
    {BM25_N_QUERIES} docs is a query (its distinct term set); every
    (query term, doc) posting is scored with Okapi BM25
    (idf = ln(1+(N-df+.5)/(df+.5)), length-normalized tf with
    k1/b at the Robertson defaults) and summed per (query, doc); top-k
    per query by score, doc_id tiebreak. Scores are integer micro-units
    (score_u6 = sum of FLOOR(term_contrib*1e6 + 0.5) per term): the
    floor(+0.5) map is IEEE-identical across engines for an identical
    double (unlike a double->decimal cast, which Spark does via the
    shortest-repr string and DuckDB via the exact binary expansion —
    the two disagree AT a half-grid boundary; observed as the r8
    p_rag_context_pack driver red), the BIGINT sum is exact and
    order-free, and ranking on the integer leaves no final rounding
    boundary. Scale shape: the query term set is tiny and
    BROADCAST into the tf table (a semi-join prune — only postings of
    query terms survive, Σ df(term) rows, never the corpus); df/avgdl
    are aggregates of that pruned table plus one map-only doc-length
    pass; final agg shuffles (query, doc) pairs bounded by the pruned
    postings; top-k is a WindowGroupLimit. Self-retrieval sanity: each
    query's own doc ranks #1 (tested).

    Building the DataFrame runs a Spark job: the query-term set
    (``qset``) is collected driver-side before the plan is returned, so
    a plan dump or registry sweep that only builds this query still
    executes that job."""
    d = load_table(spark, sf_dir, "documents")
    stats = d.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        # davg: decimal-sum average — shuffle-order-independent, exact
        # twin of the oracle's sql_davg
        davg(F.size(F.split(F.col("text"), " ")).cast("double")).alias("avgdl"),
    )
    # Query terms from their OWN pruned scan branch: doc_id < N reaches
    # the parquet scan as a PushedFilter and explodes N docs, not the
    # corpus.
    qterms = (
        d.filter(F.col("doc_id") < BM25_N_QUERIES)
        .select(
            F.col("doc_id").alias("q_id"),
            F.explode(F.split(F.col("text"), " ")).alias("term"),
        )
        .distinct()
    )
    # Pruned tf table as ONE map-only Arrow pass (r14, guide §4 — the
    # simhash-kernel pattern): the distinct query-TERM set is a bounded
    # closure (terms of the first N=10 docs — a fixed query budget, the
    # same driver hop the old broadcast semi-join performed), and each
    # doc row emits its (term, tf, dl) postings for query terms only.
    # This removes the corpus-wide token EXPLODE (270k rows at sf0.1),
    # the broadcast semi-join AND the (doc_id, term) tf-aggregate
    # exchange — tf per (doc, term) is a within-row count, exact
    # integers cast to double, identical to the old aggregate. The JVM
    # split tokenization is kept (token arrays cross the Arrow
    # boundary; nothing re-implements split semantics). tfq still feeds
    # BOTH the df aggregate and the scoring join — pooled as before.
    from ..operators.cachepool import swap_persist

    qset = frozenset(r["term"] for r in qterms.select("term").distinct().collect())

    def tf_kernel(batches):
        from collections import Counter

        import numpy as np
        import pandas as pd

        for pdf in batches:
            doc_ids: list = []
            terms: list = []
            tfs: list = []
            dls: list = []
            for did, toks in zip(
                pdf["doc_id"].to_numpy(), pdf["toks"].to_numpy()
            ):
                dl = float(len(toks))
                cnt = Counter(t for t in toks if t in qset)
                for term, c in cnt.items():
                    doc_ids.append(did)
                    terms.append(term)
                    tfs.append(float(c))
                    dls.append(dl)
            yield pd.DataFrame(
                {
                    "doc_id": np.asarray(doc_ids, dtype=np.int64),
                    "term": pd.array(terms, dtype=object),
                    "tf": np.asarray(tfs, dtype=np.float64),
                    "dl": np.asarray(dls, dtype=np.float64),
                }
            )

    # Repartition before the tokenize: the single-file scan is ONE
    # partition, so the CPU-dense split+count otherwise runs on one
    # core (guide §2.5 unsplittable-input case).
    tfq = swap_persist(
        "bm25.tfq",
        d.repartition(spark.sparkContext.defaultParallelism)
        .select("doc_id", F.split(F.col("text"), " ").alias("toks"))
        .mapInPandas(
            tf_kernel, "doc_id long, term string, tf double, dl double"
        ),
    )
    df_t = tfq.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    idf = F.log(1 + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5))
    tfnorm = (
        F.col("tf")
        * (BM25_K1 + 1)
        / (
            F.col("tf")
            + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    contrib_u6 = F.floor((idf * tfnorm) * F.lit(1000000.0) + F.lit(0.5)).cast(
        "bigint"
    )
    scored = (
        tfq.join(F.broadcast(qterms), "term")
        .join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .groupBy("q_id", "doc_id")
        .agg(F.sum(contrib_u6).cast("bigint").alias("score_u6"))
    )
    rn = Window.partitionBy("q_id").orderBy(
        F.col("score_u6").desc(), F.col("doc_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(rn).cast("bigint"))
        .filter(F.col("rn") <= BM25_TOP_K)
        .select("q_id", "doc_id", "score_u6", "rn")
    )


#: training context-window length for sequence packing (tokens)
PACK_CTX = 512


@register(
    "p_sequence_pack",
    category="pipeline",
    bench=True,
    oracle=f"""
WITH t AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
  FROM documents
),
c AS (
  SELECT doc_id, source, n_tok,
         CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                                        ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND 1 PRECEDING), 0) AS BIGINT) AS tok_before
  FROM t
)
SELECT doc_id, source, CAST(u.w AS BIGINT) AS window_id,
       CAST(greatest(tok_before, u.w * {PACK_CTX}) - tok_before AS BIGINT) AS seg_start,
       CAST(least(tok_before + n_tok, (u.w + 1) * {PACK_CTX}) - tok_before AS BIGINT) AS seg_end
FROM c, unnest(range(tok_before // {PACK_CTX},
                     (tok_before + n_tok - 1) // {PACK_CTX} + 1)) AS u(w)
""",
)
def p_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence PACKING for a pretraining dataloader: within each
    source, documents are concatenated in doc_id order and cut into
    fixed {PACK_CTX}-token context windows; a document that straddles a
    boundary emits one SEGMENT per window it touches, with the
    [seg_start, seg_end) token span to take from that doc. This is the
    step past p_token_shards (which only assigns whole docs to
    shards) — the output is directly materializable into dense training
    batches with zero cross-window waste. Plan shape: the same single
    prefix-sum window shuffle as sharding, then a MAP-ONLY
    explode(sequence(first_window, last_window)) — a doc adds one row
    per spanned window, so output volume is Σ tokens / {PACK_CTX} + one
    row per doc, linear at 100 TB. Deterministic: token order is
    (source, doc_id), no RNG."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        "source",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tok"),
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    c = t.withColumn(
        "tok_before", F.coalesce(F.sum("n_tok").over(w), F.lit(0)).cast("bigint")
    )
    first_w = F.floor(F.col("tok_before") / PACK_CTX)
    last_w = F.floor((F.col("tok_before") + F.col("n_tok") - 1) / PACK_CTX)
    return (
        c.select(
            "doc_id",
            "source",
            "tok_before",
            "n_tok",
            F.explode(F.sequence(first_w, last_w)).alias("window_id"),
        )
        .select(
            "doc_id",
            "source",
            F.col("window_id").cast("bigint"),
            (
                F.greatest(F.col("tok_before"), F.col("window_id") * PACK_CTX)
                - F.col("tok_before")
            )
            .cast("bigint")
            .alias("seg_start"),
            (
                F.least(
                    F.col("tok_before") + F.col("n_tok"),
                    (F.col("window_id") + 1) * PACK_CTX,
                )
                - F.col("tok_before")
            )
            .cast("bigint")
            .alias("seg_end"),
        )
    )


@register(
    "p_quantize_embeddings",
    category="pipeline",
    oracle="""
WITH m AS (
  SELECT vec_id, label, embedding,
         CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS max_abs
  FROM embeddings
),
q AS (
  SELECT vec_id, label, max_abs,
         CASE WHEN max_abs > 0 THEN
           list_transform(embedding,
                          x -> CAST(floor(CAST(x AS DOUBLE) * (127.0 / max_abs) + 0.5)
                                    AS BIGINT))
         ELSE list_transform(embedding, x -> CAST(0 AS BIGINT)) END AS qv
  FROM m
)
SELECT vec_id, label, max_abs,
       CAST(list_sum(qv) AS BIGINT) AS q_sum,
       CAST(list_max(qv) AS BIGINT) AS q_max,
       array_to_string(qv, '|') AS q_csv
FROM q
""",
)
def p_quantize_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization (the 4× footprint cut ANN
    indexes take before sharding): per-vector scale 127/max|x|, values
    mapped by floor(x·scale + 0.5) — floor(+0.5) instead of round()
    because the engines disagree on round-half semantics while floor is
    IEEE-exact in both. float→double widening is exact, so the quantized
    ints match DuckDB bit-for-bit. The int vector is emitted as a '|'
    string (driver-harness-hashable; arrays crash its canonicalizer —
    ADVICE r1). Map-only."""
    e = load_table(spark, sf_dir, "embeddings")
    m = e.select(
        "vec_id",
        "label",
        "embedding",
        F.array_max(F.transform(F.col("embedding"), lambda x: F.abs(x)))
        .cast("double")
        .alias("max_abs"),
    )
    scale = F.lit(127.0) / F.col("max_abs")
    qv = F.when(
        F.col("max_abs") > 0,
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)).cast("bigint"),
        ),
    ).otherwise(
        F.transform(F.col("embedding"), lambda x: F.lit(0).cast("bigint"))
    )
    q = m.withColumn("qv", qv)
    return q.select(
        "vec_id",
        "label",
        "max_abs",
        F.aggregate("qv", F.lit(0).cast("bigint"), lambda a, x: a + x).alias("q_sum"),
        F.array_max("qv").alias("q_max"),
        F.concat_ws("|", F.transform("qv", lambda x: x.cast("string"))).alias("q_csv"),
    )


#: PII patterns — conservative ASCII subset that means the same thing to
#: Java regex (Spark) and RE2 (DuckDB): no lookaround, no unicode props.
EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PHONE_RE = r"\b555-\d{4}\b"

#: deterministic synthetic PII (the fixture corpus carries none): the
#: same expression in both engines, so redaction is oracle-checkable
_PII_SPARK = (
    "concat(substring(text, 1, 40), ' contact user', doc_id, "
    "'@mail.example.com or call 555-', lpad(cast(pmod(doc_id, 10000) as string), 4, '0'), "
    "' from 10.', pmod(doc_id, 200), '.0.', pmod(doc_id, 250))"
)
_PII_SQL = (
    "concat(substring(text, 1, 40), ' contact user', doc_id, "
    "'@mail.example.com or call 555-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'), "
    "' from 10.', doc_id % 200, '.0.', doc_id % 250)"
)


@register(
    "p_pii_redact",
    category="pipeline",
    oracle=f"""
WITH s AS (SELECT doc_id, {_PII_SQL} AS raw FROM documents),
r AS (
  SELECT doc_id, raw,
         regexp_replace(
           regexp_replace(
             regexp_replace(raw, '{EMAIL_RE}', '<EMAIL>', 'g'),
             '{IP_RE}', '<IP>', 'g'),
           '{PHONE_RE}', '<PHONE>', 'g') AS redacted,
         len(regexp_extract_all(raw, '{EMAIL_RE}')) AS n_emails,
         len(regexp_extract_all(raw, '{IP_RE}')) AS n_ips,
         len(regexp_extract_all(raw, '{PHONE_RE}')) AS n_phones
  FROM s
)
SELECT doc_id, redacted, n_emails, n_ips, n_phones FROM r
""",
)
def p_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass (email / IPv4 / phone → typed placeholders)
    with per-document match counts — the compliance scrub every corpus
    goes through before training. Pure regexp_replace / regexp_extract_all
    projections: map-only, whole-stage-codegen, zero shuffle; at 100 TB
    this runs at parquet-scan speed. The fixture corpus carries no real
    PII, so a deterministic synthetic tail (same expression in both
    engines) is appended first — the redaction logic itself is what the
    oracle verifies. Redaction order (email → IP → phone) matters: the
    email/IP patterns both contain digit runs a looser phone pattern
    could claim."""
    d = load_table(spark, sf_dir, "documents")
    raw = F.expr(_PII_SPARK)
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(raw, EMAIL_RE, "<EMAIL>"), IP_RE, "<IP>"
        ),
        PHONE_RE,
        "<PHONE>",
    )
    return d.select(
        "doc_id",
        red.alias("redacted"),
        F.size(F.regexp_extract_all(raw, F.lit(EMAIL_RE), F.lit(0))).alias("n_emails"),
        F.size(F.regexp_extract_all(raw, F.lit(IP_RE), F.lit(0))).alias("n_ips"),
        F.size(F.regexp_extract_all(raw, F.lit(PHONE_RE), F.lit(0))).alias("n_phones"),
    )


#: domain-mixture weights: sources keep this fraction of their docs.
#: CASE-expressible so both engines agree without a weights table.
_MIX_SPARK = (
    "CASE WHEN source IN ('src0','src1','src2','src3') THEN 1.0 "
    "WHEN source LIKE 'src1%' THEN 0.25 ELSE 0.5 END"
)


@register(
    "p_domain_mix",
    category="pipeline",
    oracle=f"""
WITH w AS (
  SELECT doc_id, source,
         CAST(CASE WHEN source IN ('src0','src1','src2','src3') THEN 1.0
              WHEN source LIKE 'src1%' THEN 0.25 ELSE 0.5 END AS DOUBLE) AS weight,
         {_sql_hash_bucket("concat('mix', doc_id)", 10000)} AS bucket
  FROM documents
)
SELECT doc_id, source, weight FROM w WHERE bucket < weight * 10000
""",
)
def p_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted domain-mixture sampling: each source keeps a configured
    fraction of its documents (up-/down-weighting domains is how every
    pretraining mix is tuned). The keep decision hashes the DOC KEY
    against the weight threshold — deterministic per document, stable
    under repartition, no RNG state — so mixes are reproducible and
    incremental reruns keep the same docs. Map-only filter; the salt
    ('mix') decorrelates these buckets from p_hash_split's so the mix
    doesn't systematically favor one split. ``weight`` is emitted as
    DOUBLE on both sides: the CASE-over-literals otherwise types it
    DECIMAL(3,2), and decimal cells stringify differently under the
    driver hash (r03 mismatch — every other output column in the
    registry is double/bigint/string for this reason)."""
    d = load_table(spark, sf_dir, "documents")
    bucket = _hash_bucket(F.concat(F.lit("mix"), F.col("doc_id").cast("string")), 10000)
    weight = F.expr(_MIX_SPARK).cast("double")
    return (
        d.select("doc_id", "source", weight.alias("weight"), bucket.alias("__b"))
        .filter(F.col("__b") < F.col("weight") * 10000)
        .drop("__b")
    )


#: posting-list block: doc-id range per (term, block) group. This — not
#: a df filter — is what bounds collect state: no group ever holds more
#: than POSTING_BLOCK ids even for a stopword term at corpus scale.
POSTING_BLOCK = 128


@register(
    "p_inverted_index",
    category="pipeline",
    oracle=f"""
WITH t AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
)
SELECT term,
       CAST(floor(doc_id / {POSTING_BLOCK}) AS BIGINT) AS block,
       count(*) AS n_docs,
       array_to_string(list_sort(list(doc_id)), '|') AS postings
FROM t GROUP BY 1, 2
""",
)
def p_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index build with RANGE-BLOCKED posting lists: term →
    sorted doc ids, segmented into fixed doc-id ranges of
    {POSTING_BLOCK} (the Lucene-segment shape). Blocking by range —
    rather than collecting one list per term — is the scale property:
    per-group collect state is capped at {POSTING_BLOCK} ids even for a
    stopword that appears in every document of a 100 TB corpus, and
    because blocks partition the id space, a reader reconstructs the
    full ordered posting list by concatenating blocks in block order
    (no re-sort). ONE shuffle: term-occurrence dedup rides inside the
    aggregation as ``collect_set`` state (a separate ``.distinct()``
    would add a second exchange on (doc_id, term) — and the set state is
    just as block-capped); postings emitted as a '|' string
    (driver-hashable, ADVICE r1)."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    return (
        t.groupBy(
            "term",
            F.floor(F.col("doc_id") / POSTING_BLOCK).cast("bigint").alias("block"),
        )
        .agg(F.sort_array(F.collect_set("doc_id")).alias("__ids"))
        .select(
            "term",
            "block",
            F.size("__ids").alias("n_docs"),
            F.concat_ws(
                "|", F.transform("__ids", lambda x: x.cast("string"))
            ).alias("postings"),
        )
    )


@register(
    "p_vocab_encode",
    category="pipeline",
    oracle="""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
tok AS (
  SELECT doc_id, t.i - 1 AS pos, ws[t.i] AS term
  FROM w, LATERAL unnest(generate_series(1, len(ws))) AS t(i)
),
vocab AS (
  SELECT term, count(*) AS cnt,
         row_number() OVER (ORDER BY count(*) DESC, term) AS token_id
  FROM tok GROUP BY term
)
SELECT doc_id, count(*) AS n_tokens,
       array_to_string(list(v.token_id ORDER BY tok.pos), '|') AS ids
FROM tok JOIN vocab v USING (term)
GROUP BY doc_id
""",
)
def p_vocab_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary build + corpus encoding: rank terms by frequency into
    a dense token-id table (id 1 = most frequent; ties break
    lexicographically, so the vocab is reproducible), then re-emit every
    document as its token-id sequence — the tokenize-and-bin step in
    front of training. The global row_number runs on the VOCAB, not the
    corpus: term counts partial-aggregate map-side, and the ranked vocab
    (vocabulary-sized, ~10⁵-10⁶ rows in practice) is the single-
    partition window + broadcast-join side, while the corpus side stays
    a map pass + one doc-keyed collect. Sequence order is restored from
    posexplode positions, not collection order (which Spark does not
    guarantee)."""
    d = load_table(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("pos", "term")
    )
    vocab = (
        tok.groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "token_id",
            F.row_number().over(
                Window.orderBy(F.col("cnt").desc(), F.col("term"))
            ),
        )
    )
    enc = tok.join(F.broadcast(vocab.select("term", "token_id")), "term")
    return (
        enc.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("pos", "token_id"))).alias("__seq"))
        .select(
            "doc_id",
            F.size("__seq").alias("n_tokens"),
            F.concat_ws(
                "|", F.transform("__seq", lambda s: s.token_id.cast("string"))
            ).alias("ids"),
        )
    )


#: decontamination geometry: 5-word shingles; benchmark = every 7th doc
#: (fixture-tuned so planted near-dups straddle the corpus/benchmark
#: split and the contaminated set is non-empty at every sf)
DECON_NGRAM = 5
DECON_BENCH_MOD = 7


@register(
    "p_decontaminate",
    category="pipeline",
    oracle=f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
g AS (SELECT doc_id,
             list_distinct({_sql_ngrams('w', DECON_NGRAM)}) AS grams
      FROM w),
bench AS (
  SELECT DISTINCT gram, bench_id
  FROM (SELECT doc_id AS bench_id, unnest(grams) AS gram
        FROM g WHERE doc_id % {DECON_BENCH_MOD} = 0)
),
corpus AS (SELECT doc_id, unnest(grams) AS gram FROM g),
hits AS (
  SELECT c.doc_id, CAST(COUNT(DISTINCT c.gram) AS BIGINT) AS n_hit_grams
  FROM corpus c JOIN bench b ON c.gram = b.gram AND c.doc_id <> b.bench_id
  GROUP BY c.doc_id
)
SELECT g.doc_id,
       COALESCE(h.n_hit_grams, 0) AS n_hit_grams,
       COALESCE(h.n_hit_grams, 0) > 0 AS contaminated
FROM g LEFT JOIN hits h ON g.doc_id = h.doc_id
""",
)
def p_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the eval-integrity pass every
    training corpus needs: flag documents sharing any exact word
     5-gram with a held-out benchmark set (here a deterministic 1/7
    slice of the corpus standing in for the eval suite). Shape at
    100 TB: the benchmark side is tiny and FIXED-size (eval suites
    don't grow with the corpus), so its distinct shingles broadcast —
    the corpus side explodes its shingles map-only, probes the
    broadcast hash table, and only matching (doc, gram) pairs reach
    the one real shuffle (the per-doc distinct-hit count). No
    corpus-vs-corpus self-join anywhere — that's l2/p_simhash_pairs'
    problem; contamination is corpus-vs-constant. Self-matches are
    excluded on bench doc id so benchmark members are judged only
    against OTHER docs' shingles (a benchmark doc flagged here means
    the corpus carries a copy of it — exactly what decontamination
    must catch). The broadcast is pre-aggregated UNIQUE PER GRAM
    (holder count + single-holder id) rather than per (gram, bench_id):
    same probe semantics, smaller hash table, and a gram held by k
    bench docs no longer fans each corpus row out k ways before the
    distinct-count shuffle (the overlap-score discipline, r10)."""
    d = load_table(spark, sf_dir, "documents")
    g = d.select(
        "doc_id", F.array_distinct(_rx_ngrams(F.col("text"), DECON_NGRAM)).alias("grams")
    )
    bench = (
        g.filter(F.col("doc_id") % DECON_BENCH_MOD == 0)
        .select(F.col("doc_id").alias("bench_id"), F.explode("grams").alias("gram"))
        .groupBy("gram")
        .agg(F.count("*").alias("n_bench"), F.min("bench_id").alias("b_min"))
    )
    corpus = g.select("doc_id", F.explode("grams").alias("gram"))
    is_hit = (F.col("n_bench") >= 2) | (F.col("b_min") != F.col("doc_id"))
    hits = (
        corpus.join(F.broadcast(bench), "gram")
        .filter(is_hit)
        .groupBy("doc_id")
        .agg(F.count_distinct("gram").alias("n_hit_grams"))
    )
    return (
        d.select("doc_id")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_hit_grams", F.lit(0)).alias("n_hit_grams"),
            (F.coalesce("n_hit_grams", F.lit(0)) > 0).alias("contaminated"),
        )
    )


@register(
    "p_corpus_clean",
    category="pipeline",
    bench=True,
    oracle=f"""
WITH u AS (
  SELECT doc_id, text, lang, n_chars FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text, lang, n_chars FROM documents
),
q AS (
  SELECT doc_id, text, lang, n_chars FROM u
  WHERE lang IN ('en', 'de') AND n_chars BETWEEN 100 AND 400
    AND length(text) >= 50
),
h AS (
  SELECT doc_id, text, lang, n_chars,
         sha256(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS text_sha
  FROM q
),
d AS (
  SELECT doc_id, text, lang, n_chars FROM h
  QUALIFY row_number() OVER (PARTITION BY text_sha ORDER BY doc_id) = 1
),
dw AS (SELECT doc_id, lang, n_chars, string_split(text, ' ') AS w FROM d),
dg AS (SELECT doc_id, lang, n_chars, CAST(len(w) AS BIGINT) AS n_tokens,
              list_distinct({_sql_ngrams('w', DECON_NGRAM)}) AS grams
       FROM dw),
bw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
       WHERE doc_id % {DECON_BENCH_MOD} = 0),
bench AS (
  SELECT DISTINCT gram, bench_id
  FROM (SELECT doc_id AS bench_id, unnest(list_distinct({_sql_ngrams('w', DECON_NGRAM)})) AS gram
        FROM bw)
),
contaminated AS (
  SELECT DISTINCT c.doc_id
  FROM (SELECT doc_id, unnest(grams) AS gram FROM dg) c
  JOIN bench b ON c.gram = b.gram AND c.doc_id <> b.bench_id
)
SELECT g.doc_id, g.lang, g.n_chars, g.n_tokens
FROM dg g ANTI JOIN contaminated x ON g.doc_id = x.doc_id
""",
)
def p_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship end-to-end corpus-cleaning pipeline: quality gate →
    exact dedup → benchmark decontamination → token accounting, the
    minimal real sequence a training-data run executes before
    tokenization. Composes the registered single-op queries (l7's
    pushed-down predicates, l1's hash dedup, p_decontaminate's
    broadcast n-gram probe) end-to-end so the COMPOSITION itself is
    oracle-checked, not just the stages.

    Scale shape at 100 TB: the quality predicates reach the parquet
    scan; dedup is one hash-shuffle on the 32-byte digest (never full
    text); the benchmark side of decontamination is fixed-size so its
    distinct 5-grams broadcast, and each doc's (doc, gram) rows probe
    them in the same pass that keeps the doc, then one group-by on the
    doc counts its hits; token counting is map-only arithmetic on the
    already-split words. Net: one scan of the corpus, two bounded
    shuffles, zero corpus-vs-corpus joins. The fixture corpus
    is unioned with an id-offset copy (l1's trick) so the dedup stage
    provably removes rows at every sf."""
    d0 = load_table(spark, sf_dir, "documents")
    # offset copy via map-side explode — a self-union re-scans the
    # parquet once per branch (r10 plan sweep; l1's fix shared)
    u = d0.select(
        F.explode(
            F.array(F.col("doc_id"), F.col("doc_id") + 1_000_000)
        ).alias("doc_id"),
        "text",
        "lang",
        "n_chars",
    )
    q = u.filter(
        F.col("lang").isin("en", "de")
        & F.col("n_chars").between(100, 400)
        & (F.length("text") >= 50)
    )
    from ..operators.dedup import exact_dedup_normalized

    d = exact_dedup_normalized(q, "text", "doc_id").select(
        "doc_id", "text", "lang", "n_chars"
    )
    # The regex n-gram pass is CPU-dense per byte, so size-based
    # partitioning (one parquet split at fixture scale; AQE's 64 MB
    # advisory after the dedup shuffle) runs it on far too few tasks.
    # Round-robin repartition before the gram stages restores
    # parallelism; on a real cluster the scan already has thousands of
    # splits and this exchange is noise next to the compute it spreads.
    par = spark.sparkContext.defaultParallelism
    d = d.repartition(par)
    dg = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
        F.array_distinct(_rx_ngrams(F.col("text"), DECON_NGRAM)).alias("grams"),
    )
    bench = (
        d0.filter(F.col("doc_id") % DECON_BENCH_MOD == 0)
        .repartition(par)
        .select(
            F.col("doc_id").alias("bench_id"),
            F.explode(
                F.array_distinct(_rx_ngrams(F.col("text"), DECON_NGRAM))
            ).alias("gram"),
        )
        .distinct()
    )
    # Contamination is decided in the pass that keeps the doc: each
    # doc's grams (explode_outer keeps gram-less docs as one NULL row)
    # left-join the broadcast bench grams, and a doc survives with zero
    # hits. An anti-join against a separate `contaminated` table would
    # read `dg` twice, re-running the gate, dedup and n-gram pass.
    keep = ["doc_id", "lang", "n_chars", "n_tokens"]
    corpus_grams = dg.select(*keep, F.explode_outer("grams").alias("gram"))
    return (
        corpus_grams.join(
            F.broadcast(bench),
            (corpus_grams["gram"] == bench["gram"])
            & (corpus_grams["doc_id"] != bench["bench_id"]),
            "left",
        )
        .groupBy(*keep)
        .agg(F.count("bench_id").alias("hits"))
        .filter(F.col("hits") == 0)
        .select(*keep)
    )


# ---------------------------------------------------------------------------
# Multi-epoch mixing schedule — the p_domain_mix weights, per epoch.
# ---------------------------------------------------------------------------

#: (epoch, high-resource weight, low-resource weight): the standard
#: anneal — later epochs down-weight the bulk domains and re-expose the
#: rare ones (weights are per-source KEEP fractions, hash-thresholded)
_MIX_EPOCHS = ((0, 0.9, 0.3), (1, 0.6, 0.6), (2, 0.3, 0.9))


def _epoch_sql(epoch: int, w_hi: float, w_lo: float) -> str:
    return f"""
SELECT {epoch} AS epoch, doc_id, source,
       CAST(CASE WHEN source IN ('src0','src1','src2','src3')
                 THEN {w_hi} ELSE {w_lo} END AS DOUBLE) AS weight
FROM (
  SELECT doc_id, source,
         {{bucket}} AS bucket
  FROM documents
)
WHERE bucket < CASE WHEN source IN ('src0','src1','src2','src3')
                    THEN {w_hi} ELSE {w_lo} END * 10000"""


@register(
    "p_mix_schedule",
    category="pipeline",
    oracle=" UNION ALL ".join(
        _epoch_sql(e, hi, lo).format(
            bucket=_sql_hash_bucket(f"concat('epoch{e}-', doc_id)", 10000)
        )
        for e, hi, lo in _MIX_EPOCHS
    ),
)
def p_mix_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-epoch dataset mixing SCHEDULE — p_domain_mix per training
    epoch with annealed weights: epoch 0 leans on the high-resource
    sources (0.9 vs 0.3 keep), epoch 2 inverts (0.3 vs 0.9), the
    standard recipe for re-exposing rare domains late in training.
    Membership is hash-thresholded per (epoch, doc) — the epoch salt
    makes epochs INDEPENDENT samples (a doc kept in epoch 0 carries no
    information about epoch 2), deterministic, repartition-stable, and
    resumable, none of which an RNG gives. Map-only, ONE scan: the
    epoch schedule is a literal array exploded per row (a union of
    per-epoch filters re-executed the documents scan once per epoch —
    the p_item_cf/l1 self-union lesson, fixed r10); the schedule table
    (epoch, doc_id, source, weight) is exactly what a training-data
    loader consumes."""
    d = load_table(spark, sf_dir, "documents")
    hi = F.col("source").isin("src0", "src1", "src2", "src3")
    epochs = F.array(
        *[
            F.struct(
                F.lit(e).alias("epoch"),
                F.lit(w_hi).alias("w_hi"),
                F.lit(w_lo).alias("w_lo"),
            )
            for e, w_hi, w_lo in _MIX_EPOCHS
        ]
    )
    weight = F.when(hi, F.col("ep.w_hi")).otherwise(F.col("ep.w_lo")).cast("double")
    bucket = _hash_bucket(
        F.concat(
            F.lit("epoch"),
            F.col("ep.epoch").cast("string"),
            F.lit("-"),
            F.col("doc_id").cast("string"),
        ),
        10000,
    )
    return (
        d.select("doc_id", "source", F.explode(epochs).alias("ep"))
        .select(
            F.col("ep.epoch").alias("epoch"),
            "doc_id",
            "source",
            weight.alias("weight"),
            bucket.alias("__b"),
        )
        .filter(F.col("__b") < F.col("weight") * 10000)
        .drop("__b")
    )


@register(
    "p_contamination_overlap_score",
    category="pipeline",
    oracle=f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
g AS (SELECT doc_id,
             list_distinct({_sql_ngrams('w', DECON_NGRAM)}) AS grams
      FROM w),
bench AS (
  SELECT DISTINCT gram, bench_id
  FROM (SELECT doc_id AS bench_id, unnest(grams) AS gram
        FROM g WHERE doc_id % {DECON_BENCH_MOD} = 0)
),
corpus AS (SELECT doc_id, unnest(grams) AS gram FROM g),
hits AS (
  SELECT c.doc_id, CAST(COUNT(DISTINCT c.gram) AS BIGINT) AS n_hit
  FROM corpus c JOIN bench b ON c.gram = b.gram AND c.doc_id <> b.bench_id
  GROUP BY c.doc_id
)
SELECT g.doc_id,
       CAST(len(grams) AS BIGINT) AS n_grams,
       COALESCE(h.n_hit, 0) AS n_hit,
       CASE WHEN len(grams) = 0 THEN 0.0
            ELSE CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / len(grams) END
         AS overlap_score
FROM g LEFT JOIN hits h ON g.doc_id = h.doc_id
""",
)
def p_contamination_overlap_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded benchmark-contamination SCORE — p_decontaminate's boolean
    flag upgraded to the fraction of a document's distinct 5-grams that
    appear in the held-out benchmark slice, which is what a real
    decontamination policy thresholds on (drop at high overlap,
    down-weight at partial, keep incidental collisions). Same
    corpus-vs-constant shape: the benchmark shingle set broadcasts, the
    corpus explodes map-only and probes it. The denominator rides the
    SAME explode: grams is already array_distinct, so the per-doc
    exploded row count IS len(grams) — computing n_grams from a second
    g branch re-ran the full-corpus tokenization per plan branch
    (measured, scripts/scan_triage.py r10). To keep that count exact
    the bench side is pre-aggregated UNIQUE PER GRAM (n_bench, min
    bench_id) before the left probe — a per-bench_id bench table would
    multiply corpus rows — and the self-match exclusion becomes
    "some OTHER bench doc holds it": n_bench ≥ 2, or the single holder
    isn't this doc. Zero-gram docs (shorter than the n-gram window)
    are reinstated by a doc_id-only join back to the scan, which reads
    no text. Score is one exact int/int double division."""
    d = load_table(spark, sf_dir, "documents")
    g = d.select(
        "doc_id",
        F.array_distinct(_rx_ngrams(F.col("text"), DECON_NGRAM)).alias("grams"),
    )
    bench = (
        g.filter(F.col("doc_id") % DECON_BENCH_MOD == 0)
        .select(F.col("doc_id").alias("bench_id"), F.explode("grams").alias("gram"))
        .groupBy("gram")
        .agg(
            F.count("*").alias("n_bench"),
            F.min("bench_id").alias("b_min"),
        )
    )
    corpus = g.select("doc_id", F.explode("grams").alias("gram"))
    is_hit = F.col("n_bench").isNotNull() & (
        (F.col("n_bench") >= 2) | (F.col("b_min") != F.col("doc_id"))
    )
    scored = (
        corpus.join(F.broadcast(bench), "gram", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.count(F.when(is_hit, True)).alias("n_hit"),
        )
    )
    n_hit = F.coalesce("n_hit", F.lit(0))
    n_grams = F.coalesce("n_grams", F.lit(0))
    return (
        d.select("doc_id")
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            n_grams.cast("bigint").alias("n_grams"),
            n_hit.cast("bigint").alias("n_hit"),
            F.when(n_grams == 0, F.lit(0.0))
            .otherwise(n_hit.cast("double") / n_grams)
            .alias("overlap_score"),
        )
    )


# ---------------------------------------------------------------------------
# p_rag_context_pack (registered round 8; twin pre-verified in
# tests/test_r7_candidates_b.py — retired at registration; its
# nontriviality guards live on in tests/test_registered_guards.py and
# the record in ROADMAP's r8 summary).
# ---------------------------------------------------------------------------

_RAG_BUDGET = 160  # context-window tokens per query (fixture-scaled)

_RAG_PACK_SQL = f"""
WITH ret AS MATERIALIZED ({_BM25_SQL}),
toks AS (
  SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents
),
packed AS (
  SELECT r.q_id, r.rn, r.doc_id, t.n_tokens,
         CAST(sum(t.n_tokens) OVER (
           PARTITION BY r.q_id ORDER BY r.rn
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS BIGINT) AS cum_tokens
  FROM ret r JOIN toks t ON t.doc_id = r.doc_id
)
SELECT q_id, rn, doc_id, n_tokens, cum_tokens
FROM packed WHERE cum_tokens <= {_RAG_BUDGET}
"""


@register(
    "p_rag_context_pack",
    category="pipeline",
    oracle=_RAG_PACK_SQL,
)
def p_rag_context_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG context packing: greedy rank-order token-budget packing of
    the registered BM25 retrieval — keep each query's results in rank
    order while the running token total fits the context budget, the
    assembly step every retrieval-augmented pipeline runs between
    ranking and the prompt. The twin embeds the verified p_bm25_topk
    oracle verbatim (_BM25_SQL), so ranking + packing verify as one
    composition.

    Scale: one equi-join of the (queries × k)-bounded ranking against
    per-doc token counts, then a cumulative-sum window keyed by q_id —
    the shuffle carries ranked rows only, never the corpus; token
    counts push down to a two-column scan of documents. Budget and cut
    are integers (engine-exact). Fixture-nontriviality (the budget
    actually truncates some query AND some query packs >1 doc) pinned
    by tests/test_registered_guards.py."""
    ret = p_bm25_topk(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
    )
    w = (
        Window.partitionBy("q_id")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        ret.join(toks, "doc_id")
        .withColumn("cum_tokens", F.sum("n_tokens").over(w))
        .filter(F.col("cum_tokens") <= _RAG_BUDGET)
        .select("q_id", "rn", "doc_id", "n_tokens", "cum_tokens")
    )


_DOCSTATS_SQL = """
WITH d AS (
  SELECT source, lang,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM documents
)
SELECT source, lang,
       count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS tokens_total,
       min(n_tokens) AS tokens_min,
       CAST(median(n_tokens) AS DOUBLE) AS tokens_p50,
       max(n_tokens) AS tokens_max,
       CAST(sum(n_chars) AS BIGINT) AS chars_total
FROM d GROUP BY 1, 2
"""


@register(
    "p_docstats_profile",
    category="pipeline",
    oracle=_DOCSTATS_SQL,
)
def p_docstats_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus DATASHEET: per (source, lang) slice — doc counts, token
    totals, and the exact token-count five-number-ish summary
    (min/p50/max) every dataset card reports (datasheets for datasets;
    the first table a curation run prints). Token counts are exact
    integers; the in-group median interpolates two integers, which is
    exact in binary on both engines (no decimal trick needed — the
    a24 lesson applies only to SUMS of many doubles). One groupBy
    shuffle keyed by the slice; percentile is an in-group aggregate,
    never a global sort."""
    d = load_table(spark, sf_dir, "documents").select(
        "source",
        "lang",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    return d.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("tokens_total"),
        F.min("n_tokens").alias("tokens_min"),
        F.expr("percentile(n_tokens, 0.5)").alias("tokens_p50"),
        F.max("n_tokens").alias("tokens_max"),
        F.sum("n_chars").alias("chars_total"),
    )


# ---------------------------------------------------------------------------
# p_query_expansion: RM3-style pseudo-relevance feedback (registered r11)
# ---------------------------------------------------------------------------

_QE_FB_DOCS = BM25_TOP_K  # pseudo-relevant depth = BM25's k
_QE_TERMS = 3  # expansion terms per query

_QE_SQL = f"""
WITH ret AS MATERIALIZED ({_BM25_SQL}),
t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (SELECT doc_id, term, CAST(count(*) AS DOUBLE) AS tf FROM t GROUP BY 1, 2),
dfc AS (SELECT term, CAST(count(DISTINCT doc_id) AS DOUBLE) AS df FROM t GROUP BY term),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
qterms AS (
  SELECT DISTINCT doc_id AS q_id, term FROM t WHERE doc_id < {BM25_N_QUERIES}
),
scored AS (
  SELECT r.q_id, tf.term,
         CAST(SUM(CAST(FLOOR(tf.tf * ln(n.n_docs / dfc.df) * 1000000.0 + 0.5)
                       AS BIGINT)) AS BIGINT) AS weight_u6
  FROM ret r
  JOIN tf ON tf.doc_id = r.doc_id
  JOIN dfc ON dfc.term = tf.term
  CROSS JOIN n
  WHERE NOT EXISTS (SELECT 1 FROM qterms q
                    WHERE q.q_id = r.q_id AND q.term = tf.term)
  GROUP BY 1, 2
)
SELECT q_id, term, weight_u6, rn FROM (
  SELECT q_id, term, weight_u6,
         CAST(row_number() OVER (PARTITION BY q_id
                                 ORDER BY weight_u6 DESC, term)
              AS BIGINT) AS rn
  FROM scored
) WHERE rn <= {_QE_TERMS}
"""


@register(
    "p_query_expansion",
    category="pipeline",
    oracle=_QE_SQL,
)
def p_query_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pseudo-relevance-feedback query expansion (RM3 family, public
    IR literature): for each BM25 query, take its top-{_QE_FB_DOCS}
    retrieved docs as pseudo-relevant, score every term of those docs
    by Σ tf·ln(N/df) over the feedback set, drop terms already in the
    query, and emit the top-{_QE_TERMS} expansion terms — the missing
    arrow of the retrieval stack (rank → EXPAND → fuse → rerank →
    pack). Weights follow the r9 floor-micro-unit discipline: each
    tf·idf contribution maps to FLOOR(t·1e6 + 0.5) BIGINT before the
    exact integer sum, so no cross-engine fp surface survives into the
    ranking. Scale: the feedback set is (queries × k) docs — their tf
    rows semi-join-prune the corpus tf table exactly like BM25's query
    terms, and the df table is PRUNED TO THE FEEDBACK VOCABULARY by a
    broadcast semi-join before its aggregation (r11 verdict item: the
    first registered form force-broadcast the FULL-vocabulary df table,
    which at web-corpus scale runs to billions of terms and OOMs where
    a shuffle would have worked — after the prune, both broadcast sides
    are feedback-bounded: ≤ queries × k docs × terms/doc, never
    corpus-vocabulary-sized); df/N stay corpus aggregates shared with
    l6 (the prune drops only terms the inner join would drop anyway, so
    the result is hash-identical). The bounded feedback-tf table is
    CHECKPOINTED (qe.fbt, audited ledger) because two branches consume
    it (term scoring + the vocabulary prune) and its upstream embeds
    the whole BM25 ranking — re-executing that per branch is the
    self-union trap (p_item_cf's r10 lesson). Rank ties break on the
    term string. 10×-swept at authoring (5.3→21.6 s — the BM25
    corpus-explode law), re-swept at registration
    (git show 0b946b4:scripts/scale10x_r11.py) and after this
    rework (git show 0b946b4:scripts/scale10x_r12.py). The
    documents scan is POOLED (swap_persist): four consumers (tf, df,
    query terms, N) would otherwise each re-execute it per plan
    branch — the explode stays un-materialized, re-run map-only from
    the cached scan per consumer (caught at registration by
    tests/test_scan_reexec.py: 6 live scans pre-pool)."""
    from ..audit import audited_checkpoint
    from ..operators.cachepool import swap_persist

    d = swap_persist(
        "qe.docs", load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    t = d.select("doc_id", F.explode(F.split("text", " ")).alias("term"))
    tf = t.groupBy("doc_id", "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    n = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))

    fb = p_bm25_topk(spark, sf_dir).select("q_id", "doc_id")
    fbt = audited_checkpoint("qe.fbt", fb.join(tf, "doc_id"))
    fb_terms = fbt.select("term").distinct()
    dfc = (
        t.join(F.broadcast(fb_terms), "term", "left_semi")
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("double").alias("df"))
    )
    qterms = (
        t.filter(F.col("doc_id") < BM25_N_QUERIES)
        .select(F.col("doc_id").alias("q_id"), "term")
        .distinct()
    )
    contrib_u6 = F.floor(
        F.col("tf") * F.log(F.col("n_docs") / F.col("df")) * F.lit(1000000.0)
        + F.lit(0.5)
    ).cast("bigint")
    scored = (
        fbt.join(F.broadcast(dfc), "term")
        .crossJoin(F.broadcast(n))
        .groupBy("q_id", "term")
        .agg(F.sum(contrib_u6).cast("bigint").alias("weight_u6"))
        .join(qterms, ["q_id", "term"], "left_anti")
    )
    rk = Window.partitionBy("q_id").orderBy(
        F.col("weight_u6").desc(), F.col("term")
    )
    return (
        scored.withColumn("rn", F.row_number().over(rk).cast("bigint"))
        .filter(F.col("rn") <= _QE_TERMS)
        .select("q_id", "term", "weight_u6", "rn")
    )
