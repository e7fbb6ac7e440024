"""Exact substring-span dedup — the distributed re-expression of the
suffix-array "ExactSubstr" operator from Lee et al., *Deduplicating
Training Data Makes Language Models Better* (ACL 2022, public paper).

The paper builds one giant suffix array over the concatenated corpus and
reports every substring of >= K tokens that occurs twice. A suffix array
is a single sequential data structure — exactly what a 1000-executor
cluster cannot build over 100 TB. The distributed identity this operator
rests on:

    a token span of length >= K is duplicated
        <=>  every (equivalently: at least one) length-K window inside it
             is a duplicated K-gram,

so corpus-wide duplicated-span detection decomposes into

    1. per-doc K-gram extraction        (map-only, codegen regex pass)
    2. K-gram occurrence counting       (one shuffle on the gram key,
                                         map-side partial combine)
    3. membership of each position's    (semi join on the gram key; AQE
       gram in the duplicated set        broadcasts when the dup set is
                                         small, which it is on clean
                                         corpora)
    4. per-doc interval merge of the    (per-doc window, gaps-and-islands
       marked [pos, pos+K) windows       — the w15 idiom)

and the union of merged intervals is EXACTLY the set of maximal
duplicated spans the suffix array would report (window i and window j
of the same span overlap whenever |i-j| <= K, so the merge loses
nothing; conversely every merged island is covered by duplicated
K-grams end to end). No stage ever holds more than one doc's positions
in a window partition, and the only corpus-wide state is the duplicated
gram set — Sigma block^2 never appears.

Key choice: grams join on the K-token STRING (tokens joined with a
space), not a 64-bit hash. A hash key would shave shuffle bytes but
makes the answer collision-dependent and engine-dependent (Spark
xxhash64 vs any oracle's hash disagree); the string key is exact,
engine-neutral, and the gram column is dropped before the window stage
so the per-doc state is (pos) only. A production run at 100 TB could
key on a hash after the oracle gate: same plan, 8-byte keys, and a
2^-64 per-pair collision risk documented here rather than hidden.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

SPAN_COLS = ("doc_id", "span_start", "span_end", "n_dup_grams")


from ..functions.text import gram_pattern  # one shared regex definition


def position_grams(docs: DataFrame, k: int) -> DataFrame:
    """(doc_id, pos, gram): every word K-gram of each (doc_id, text) doc
    with its 0-based token start.

    One word-boundary-anchored lookahead regex pass (the shingles_rx
    idiom — codegen, no higher-order transform), posexploded so ``pos``
    is the token index of the gram's first word. Assumes the corpus
    contract of single-space tokenization (every oracle twin pins the
    same split semantics)."""
    grams = F.regexp_extract_all(F.col("text"), F.lit(gram_pattern(k)), F.lit(1))
    return docs.select("doc_id", F.posexplode(grams).alias("pos", "gram"))


def duplicated_grams(
    pos_grams: DataFrame, *, min_occurrences: int = 2
) -> DataFrame:
    """Grams occurring >= min_occurrences times corpus-wide (positions,
    not docs: a gram repeated twice INSIDE one doc is duplicated text
    just as much as one shared across docs — the suffix-array semantics).
    One shuffle on the gram key; the count aggregate partial-combines
    map-side, and the count-1 long tail (the overwhelming majority on
    any non-degenerate corpus) never survives the filter."""
    return (
        pos_grams.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("occurrences"))
        .filter(F.col("occurrences") >= F.lit(min_occurrences))
    )


def merge_marked_windows(marked: DataFrame, k: int) -> DataFrame:
    """Gaps-and-islands over (doc_id, pos): windows [pos, pos+k) merge
    while consecutive marked positions are <= k apart (overlapping or
    exactly abutting). All intervals share length k and arrive sorted,
    so the running max-end is just lag(pos)+k — the break predicate is
    ``pos - lag(pos) > k`` and the island id a running sum of breaks.
    Per-doc window partitions: no doc's marks ever cross an executor."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    brk = F.when(
        F.col("pos") - F.lag("pos").over(w) > F.lit(k), F.lit(1)
    ).otherwise(F.lit(0))
    return (
        marked.withColumn("island", F.sum(brk).over(w))
        .groupBy("doc_id", "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k)).alias("span_end"),
            F.count(F.lit(1)).alias("n_dup_grams"),
        )
        .select(*SPAN_COLS)
    )


def duplicated_spans(
    docs: DataFrame,
    k: int,
    *,
    min_occurrences: int = 2,
) -> DataFrame:
    """Maximal duplicated token spans per doc: (doc_id, span_start,
    span_end, n_dup_grams), span bounds in token indices, end exclusive.
    Exactly the spans a corpus suffix array reports for "substring of
    >= k tokens occurring >= min_occurrences times"."""
    pg = position_grams(docs, k)
    dup = duplicated_grams(pg, min_occurrences=min_occurrences)
    marked = pg.join(dup.select("gram"), "gram", "left_semi").select(
        "doc_id", "pos"
    )
    return merge_marked_windows(marked, k)


def contaminated_spans(docs: DataFrame, probes: DataFrame, k: int) -> DataFrame:
    """Span-level decontamination marker: maximal token spans of
    ``docs`` covered by k-grams that occur ANYWHERE in the ``probes``
    corpus (the benchmark / eval set; both sides carry ``text``). The
    doc-level posture (p_decontaminate) throws away a whole document
    over one shared n-gram; the span posture — what large pretraining
    pipelines actually ship — localizes the overlap so just the
    contaminated text can be excised.

    Same growth law as ``duplicated_spans`` minus the corpus-wide
    count: the probe gram set is DISTINCT k-grams of the benchmark
    (tiny next to the corpus — benchmarks are MBs against TBs), so the
    semi join broadcasts under AQE and the corpus side never shuffles
    at all; the only wide stage is the per-doc interval-merge window.
    ``n_dup_grams`` counts the marked windows inside each span."""
    pg = position_grams(docs, k)
    probe_grams = (
        probes.select(
            F.explode(
                F.regexp_extract_all(F.col("text"), F.lit(gram_pattern(k)), F.lit(1))
            ).alias("gram")
        )
        .distinct()
    )
    marked = pg.join(probe_grams, "gram", "left_semi").select("doc_id", "pos")
    return merge_marked_windows(marked, k)
