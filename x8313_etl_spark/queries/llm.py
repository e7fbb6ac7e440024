"""LLM-data-pipeline operators (SURVEY.md §2.10 L1-L9).

Exact + near dedup, cosine similarity / top-k search, token stats,
tf-idf, quality filtering, doc⋈vector join, per-label centroids.
Everything is JVM Column expressions (no Python UDFs); vector math and
sums use the decimal-determinism policy (functions/numeric.py) so every
query here hash-matches its DuckDB twin exactly.

Scale notes per query are in the docstrings: the near-dup pipeline is
O(candidates) via LSH banding (operators/minhash.py); similarity search
has a brute-force oracle form here and a bucketed ANN scale path in
queries/pipeline_q.py.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.numeric import davg, sql_davg
from ..functions.vector import sql_cosine
from ..io import load_table
from ..operators.dedup import exact_dedup_normalized
from ..operators.minhash import near_dup_pairs
from ..registry import register

# ---------------------------------------------------------------------------
# Shared DuckDB CTE snippets (kept adjacent to the Spark forms so the two
# sides can never drift; constants mirror operators/minhash.py).
# ---------------------------------------------------------------------------

_SQL_SHINGLE_CTES = """
w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
shv AS (SELECT doc_id,
        CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(
             generate_series(1, len(w) - 2),
             i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        ELSE CAST([] AS VARCHAR[]) END AS sh
        FROM w),
hs AS (SELECT doc_id, sh,
       list_transform(sh, s ->
         CAST(CONCAT('0x', substr(md5(s), 1, 15)) AS BIGINT) % 2147483647) AS h
       FROM shv),
sig AS (SELECT doc_id, sh,
        list_transform(generate_series(0, 31), i ->
          list_min(list_transform(h, x ->
            (((i * 2654435761 + 1) % 2147483647) * x
             + ((i * 40503 + 17) % 2147483647)) % 2147483647))) AS sig
        FROM hs)
"""


@register(
    "l1_exact_dedup",
    category="llm",
    bench=True,
    oracle="""
WITH u AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents
),
h AS (
  SELECT doc_id,
         sha256(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS text_sha
  FROM u
)
SELECT doc_id, text_sha FROM h
QUALIFY row_number() OVER (PARTITION BY text_sha ORDER BY doc_id) = 1
""",
)
def l1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L1: exact dedup on sha256(normalized text), keeping min doc_id.

    Fixture texts are all unique, so the corpus is unioned with an
    id-offset copy of itself to guarantee duplicates — the dedup then
    provably keeps exactly the original ids. Single hash-shuffle on the
    digest; at 100 TB this never compares full texts.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # the offset copy comes from a map-side explode, not a self-union —
    # a union re-scans the parquet once per branch (r10 plan sweep)
    u = d.select(
        F.explode(
            F.array(F.col("doc_id"), F.col("doc_id") + 1_000_000)
        ).alias("doc_id"),
        "text",
    )
    return exact_dedup_normalized(u, "text", "doc_id").select("doc_id", "text_sha")


@register(
    "l2_minhash_signature",
    category="llm",
    oracle=f"""
WITH {_SQL_SHINGLE_CTES}
SELECT doc_id, array_to_string(sig, '|') AS sig FROM sig WHERE doc_id < 100
""",
)
def l2_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2a: 32-permutation MinHash signature per document — deterministic
    universal hashing over md5-derived shingle ids, bit-identical across
    engines (operators/minhash.py has the constants). The signature is
    serialized '|'-joined (array result columns crash the grading
    harness); integer→string formatting is identical across engines."""
    from ..operators.minhash import shingle_stage

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return shingle_stage(d, "doc_id", "text").select(
        "doc_id",
        F.concat_ws(
            "|", F.transform(F.col("sig"), lambda x: x.cast("string"))
        ).alias("sig"),
    )


@register(
    "l2_near_dup_pairs",
    category="llm",
    bench=True,
    oracle=f"""
WITH {_SQL_SHINGLE_CTES}
SELECT doc_a, doc_b, jaccard FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           / len(list_distinct(a.sh || b.sh)) AS jaccard,
         len(list_filter(generate_series(0, 7), bi ->
             list_slice(a.sig, bi*4 + 1, bi*4 + 4)
               = list_slice(b.sig, bi*4 + 1, bi*4 + 4))) AS n_band_hits
  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
)
WHERE n_band_hits > 0 AND jaccard >= 0.3
""",
)
def l2_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2b: full near-dup pipeline — shingle → minhash → 8×4 LSH bands →
    band-bucket self-join → exact-Jaccard verify at τ=0.3.

    The oracle brute-forces all pairs and applies the same band-match
    predicate, so LSH recall is not a correctness variable: both sides
    emit exactly the band-colliding pairs with true Jaccard ≥ τ. Spark
    side is O(candidates): the only O(n²) risk is a hot band bucket
    (see operators/minhash.py scale notes).
    """
    d = load_table(spark, sf_dir, "documents")
    return near_dup_pairs(d)


@register(
    "l2c_ngram_jaccard",
    category="llm",
    oracle="""
WITH g AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, len(text) - 2),
                                      i -> substr(text, i, 3))) AS grams
  FROM documents WHERE doc_id < 300 AND len(text) >= 3
)
SELECT doc_a, doc_b, jaccard FROM (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
           / (len(a.grams) + len(b.grams)
              - len(list_intersect(a.grams, b.grams))) AS jaccard
  FROM g a JOIN g b ON a.doc_id < b.doc_id
)
WHERE jaccard >= 0.4
""",
)
def l2c_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2c: character-trigram Jaccard near-dup — the n-gram flavor of the
    dedup family (word-shingle MinHash is l2, bit-sketch is p_simhash).

    Spark side is the INVERTED-INDEX algorithm, not all-pairs: explode
    distinct grams to a posting list, self-join postings on the gram
    (pairs materialize only for docs sharing a gram, grouped into
    |A∩B| counts), then |A∪B| = |A|+|B|-|A∩B| — exact Jaccard with
    shuffle bounded by Σ df(gram)² instead of n². The DuckDB twin
    brute-forces all pairs, so index recall is part of what's verified.

    Scale caveat mirrors the LSH band joins: a stop-gram shared by most
    docs is a hot posting (df² pairs). Production composes the same
    guards — drop top-df grams (prefix filtering keeps exactness above a
    threshold) or fall back to l2's banded MinHash.

    The gram table is POOLED (swap_persist): it feeds both posting-join
    sides AND both size joins, and without the persist the trigram
    tokenization re-executed once per branch (measured 4 live scans,
    scripts/scan_triage.py r10).
    """
    from ..operators.cachepool import swap_persist

    d = load_table(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 300) & (F.length("text") >= 3)
    )
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length("text") - 2),
            lambda i: F.col("text").substr(i, F.lit(3)),
        )
    )
    g = swap_persist("l2c.grams", d.select("doc_id", grams.alias("grams")))
    sizes = g.select("doc_id", F.size("grams").alias("n"))
    post = g.select("doc_id", F.explode("grams").alias("gram"))
    common = (
        post.alias("a")
        .join(
            post.alias("b"),
            on=[
                F.col("a.gram") == F.col("b.gram"),
                F.col("a.doc_id") < F.col("b.doc_id"),
            ],
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    jac = F.col("common").cast("double") / (
        F.col("na") + F.col("nb") - F.col("common")
    )
    return (
        common.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")), "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.4)
    )


@register(
    "l3_cosine_pairs",
    category="llm",
    oracle=f"""
SELECT a.vec_id AS probe_id, b.vec_id AS vec_id,
       {sql_cosine('a.embedding', 'b.embedding')} AS cos_sim
FROM embeddings a JOIN embeddings b ON b.vec_id != a.vec_id
WHERE a.vec_id < 8
""",
)
def l3_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L3: pairwise cosine similarity, probe set × corpus — pure
    zip_with/aggregate expressions (decimal-exact dot products), no UDF.
    The probe side is broadcast: at scale this is a map-only pass over
    the corpus (no shuffle). Norms are computed ONCE PER VECTOR before
    the join (not per pair): cos = dot/(norm_a·norm_b)."""
    from ..functions.vector import dot, norm

    e = load_table(spark, sf_dir, "embeddings").withColumn(
        "vnorm", norm(F.col("embedding"))
    )
    probes = (
        e.filter(F.col("vec_id") < 8)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("embedding").alias("pvec"),
            F.col("vnorm").alias("pnorm"),
        )
    )
    return (
        e.join(F.broadcast(probes), F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "vec_id",
            (
                dot(F.col("pvec"), F.col("embedding"))
                / (F.col("pnorm") * F.col("vnorm"))
            ).alias("cos_sim"),
        )
    )


@register(
    "l4_topk_cosine",
    category="llm",
    tags=("baseline",),
    oracle=f"""
SELECT probe_id, vec_id, cos_sim, CAST(rn AS INTEGER) AS rn FROM (
  SELECT a.vec_id AS probe_id, b.vec_id AS vec_id,
         {sql_cosine('a.embedding', 'b.embedding')} AS cos_sim,
         row_number() OVER (
           PARTITION BY a.vec_id
           ORDER BY {sql_cosine('a.embedding', 'b.embedding')} DESC, b.vec_id
         ) AS rn
  FROM embeddings a JOIN embeddings b ON b.vec_id != a.vec_id
  WHERE a.vec_id % 25 = 0
)
WHERE rn <= 5
""",
)
def l4_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L4: exact top-5 nearest neighbors per probe (cosine) via the
    Arrow-batched probe scan (operators/annscan.py — one corpus pass,
    probe matrix in the closure, dimension-sequential numpy folds that
    stay bit-identical to the SQL twin). Window top-k runs with
    WindowGroupLimit pushdown. This query is the ORACLE BASELINE for
    exact recall: its probe set grows with the corpus (vec_id % 25), so
    total work is quadratic. The registered primary for scale is
    sim_ivf_topk (bucketed candidates, bounded probe budget) in
    queries/similarity_q.py; sim_lsh_neardup is the banded near-dup
    sibling."""
    from ..operators.annscan import cosine_probe_topk

    e = load_table(spark, sf_dir, "embeddings")
    probes = e.filter(F.col("vec_id") % 25 == 0)
    return cosine_probe_topk(e, probes, k=5).select(
        "probe_id", "vec_id", "cos_sim", "rn"
    )


@register(
    "l5_token_stats",
    category="llm",
    oracle="""
WITH t AS (SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents),
c AS (SELECT lang, word, count(*) AS cnt FROM t GROUP BY lang, word)
SELECT lang, word, cnt FROM c
QUALIFY row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, word) <= 10
""",
)
def l5_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L5: tokenize → per-(lang, word) counts → top-10 terms per lang
    (count desc, word asc tiebreak). explode+groupBy partial-aggregates
    map-side; the window top-k uses WindowGroupLimit."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    c = (
        d.select("lang", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("cnt").desc(), F.col("word"))
    return (
        c.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 10)
        .drop("__rn")
    )


@register(
    "l6_tfidf",
    bench=True,
    category="llm",
    oracle="""
WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
dfc AS (SELECT term, count(DISTINCT doc_id) AS df FROM t GROUP BY term),
n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents)
SELECT tf.doc_id, tf.term, tf.tf, dfc.df,
       CAST(FLOOR(CAST(tf.tf AS DOUBLE) * ln(n.n_docs / dfc.df) * 1000000.0 + 0.5)
            AS BIGINT) AS tfidf_u6
FROM tf JOIN dfc USING (term) CROSS JOIN n
WHERE tf.doc_id < 50
""",
)
def l6_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L6: tf-idf as a pure agg/join composition (no ML-lib dependency):
    tf per (doc, term), df per term, idf = ln(N/df). The df table is
    broadcast (vocabulary ≪ corpus); N comes from an in-plan scalar agg
    (never a driver collect). Hardened round 9 alongside p_bm25_topk
    (the same latent hazard class): the weight is emitted as integer
    micro-units FLOOR(tf·idf·1e6 + 0.5) — IEEE-identical across engines
    for an identical double — instead of a double→DECIMAL(25,6) cast,
    which Spark performs via the shortest-repr string and DuckDB via
    the exact binary expansion (they can disagree AT a half-grid
    boundary even on the same value; the r8 p_rag_context_pack red).

    Plan shape (reworked r10): df used to come from a SECOND
    scan+explode branch (t.distinct().groupBy(term)) — true
    re-execution, no ReusedExchange. Since tf holds exactly one row
    per (doc, term), df IS the per-term row count of tf: a term-keyed
    window over the one aggregated table. One scan+explode and two
    exchanges replace two scans+explodes and three."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    # repartition before the tokenize: single-file scan = 1 partition,
    # so the explode + map-side partial tf aggregate otherwise run on
    # one core (r13; the p_bm25_topk/corpus idiom)
    t = d.repartition(spark.sparkContext.defaultParallelism).select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    )
    tf = t.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    tfdf = tf.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("term"))
    )
    n = d.agg(F.count(F.lit(1)).cast("double").alias("n_docs"))
    return (
        tfdf.filter(F.col("doc_id") < 50)
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.floor(
                F.col("tf").cast("double")
                * F.log(F.col("n_docs") / F.col("df"))
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            .cast("bigint")
            .alias("tfidf_u6"),
        )
    )


@register(
    "l7_quality_filter",
    category="llm",
    oracle="""
SELECT doc_id, lang, source, n_chars, CAST(length(text) AS BIGINT) AS text_len
FROM documents
WHERE lang IN ('en', 'de') AND n_chars BETWEEN 100 AND 400
  AND length(text) >= 50
""",
)
def l7_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L7: language + length quality gate — plain pushed-down predicates
    (lang/n_chars reach the parquet scan as PushedFilters)."""
    d = load_table(spark, sf_dir, "documents")
    return d.filter(
        F.col("lang").isin("en", "de")
        & F.col("n_chars").between(100, 400)
        & (F.length("text") >= 50)
    ).select(
        "doc_id", "lang", "source", "n_chars", F.length("text").cast("bigint").alias("text_len")
    )


@register(
    "l8_doc_vec_join",
    category="llm",
    oracle="""
SELECT d.doc_id, d.lang, d.n_chars, e.label,
       CAST(len(e.embedding) AS INTEGER) AS dim, e.embedding[1] AS e0
FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
""",
)
def l8_doc_vec_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L8: multimodal column join — text metadata ⋈ embedding vectors on
    the shared id. Dim side is whichever is smaller; here embeddings
    broadcast-ready, but an equi-join lets AQE pick."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    return d.join(e, d.doc_id == e.vec_id).select(
        "doc_id",
        "lang",
        "n_chars",
        "label",
        F.size("embedding").alias("dim"),
        F.element_at("embedding", 1).alias("e0"),
    )


@register(
    "l9_label_centroids",
    category="llm",
    oracle=f"""
WITH x AS (
  SELECT label,
         CAST(generate_subscripts(embedding, 1) - 1 AS INTEGER) AS dim,
         CAST(unnest(embedding) AS DOUBLE) AS val
  FROM embeddings
)
SELECT label, dim, {sql_davg('val')} AS centroid, count(*) AS n_vecs
FROM x GROUP BY label, dim
""",
)
def l9_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L9: per-label centroid, one row per (label, dimension) — explode
    to (label, dim, val) then decimal-deterministic mean. Shuffles
    n_vecs×64 skinny rows once; at 100 TB you'd pre-aggregate per
    partition (map-side partial agg does exactly that for free)."""
    e = load_table(spark, sf_dir, "embeddings")
    x = e.select("label", F.posexplode("embedding").alias("dim", "val"))
    return x.groupBy("label", "dim").agg(
        davg(F.col("val").cast("double")).alias("centroid"),
        F.count(F.lit(1)).alias("n_vecs"),
    )


# ---------------------------------------------------------------------------
# L11: exact set-similarity join (registered round 7; twin pre-verified
# in tests/test_r7_candidates.py before registration).
# ---------------------------------------------------------------------------

_SJ_INTER = "len(list_intersect(a.toks, b.toks))"
_SJ_UNI = f"(len(a.toks) + len(b.toks) - {_SJ_INTER})"

_SETJOIN_SQL = f"""
WITH s AS (
  SELECT doc_id,
         list_distinct(list_transform(
           generate_series(1, greatest(len(w) - 2, 0)),
           i -> w[i] || ' ' || w[i + 1] || ' ' || w[i + 2])) AS toks
  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST({_SJ_INTER} AS BIGINT) AS inter,
       CAST({_SJ_UNI} AS BIGINT) AS uni,
       CAST({_SJ_INTER} AS DOUBLE) / {_SJ_UNI} AS jaccard
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE {_SJ_UNI} > 0 AND {_SJ_INTER} * 2 >= 1 * {_SJ_UNI}
"""


@register(
    "l11_setjoin_exact",
    category="llm",
    oracle=_SETJOIN_SQL,
)
def l11_setjoin_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L11: EXACT set-similarity join at Jaccard ≥ 1/2 over 3-shingle
    sets — AllPairs/PPJoin-style PREFIX FILTERING (Bayardo et al. /
    Xiao et al., public): order tokens rarest-first globally; two sets
    with Jaccard ≥ t MUST collide on one of each set's first
    ⌊(1−t/(1+t))·|s|⌋+1 tokens, so candidates come from an equi-join on
    prefix tokens (Σ prefix-bucket² pair work), never an all-pairs
    scan. Verification is integer cross-multiplication
    (2·inter ≥ 1·uni — no fp threshold).

    The twin is DELIBERATELY the brute-force all-pairs form (the
    sim_neardup_exact precedent): prefix filtering must be INVISIBLE in
    the answer, so the naive join IS the oracle and the filter is
    verified as an algebraic identity. Complements the dedup ladder:
    MinHash/LSH (l2) is the probabilistic scale path; this is the exact
    form with a guaranteed-complete candidate set.

    Scale note (measured, PERF.md): identical-set INTERNING is
    load-bearing — exact-copy clusters otherwise pair quadratically
    (un-interned 16.9s → 1195s on the 10× exact-copy replica; interned
    18.9s → 23.6s for the same 250,600 pairs). Operator:
    operators/setjoin.py (property-tested against brute force)."""
    from ..operators.setjoin import similarity_join

    docs = load_table(spark, sf_dir, "documents")
    return similarity_join(docs, 1, 2, shingle_k=3, ledger_key="l11")
