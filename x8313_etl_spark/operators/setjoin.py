"""Exact set-similarity join via prefix filtering — the AllPairs /
SSJoin family (Bayardo et al. WWW'07, Chaudhuri et al. ICDE'06, public
papers): every pair of documents whose token-set Jaccard meets a
threshold, EXACTLY, without the all-pairs product.

The repo's near-dup stack is approximate by construction (MinHash
banding, SimHash pigeonhole). This operator is the exact counterpart,
and the reason it scales is the PREFIX FILTER theorem: fix one global
token order (here: document frequency ascending, token ascending — the
rarest-first order that makes prefixes selective); for a set r define

    prefix(r) = the first |r| − ceil(t·|r|) + 1 tokens of r

in that order. If J(r, s) ≥ t then |r∩s| ≥ t·|r| (the union is at
least |r|), so r and s MUST share a token inside BOTH prefixes —
a pair sharing none is provably below threshold and is never even
generated. Candidate volume is Σ over tokens of (prefix-df)², and the
global order concentrates prefixes on RARE tokens, which is exactly
where df is small. Common tokens (huge df) fall outside prefixes and
generate nothing — the failure mode that makes the naive inverted
index Σ df² blow up on stopwords.

Plan shape: one df aggregate (token → df, broadcastable vocabulary),
one map-side sort of each doc's tokens by (df, token), one exploded
self-equi-join on PREFIX tokens only, distinct pair consolidation, and
one verify join that compares exact integer overlap against the
threshold by cross-multiplication — no floating point decides
membership, so the answer is bit-reproducible on any engine (the
tolerance-0 oracle discipline; a twin is the brute-force pair join
with the same integer predicate).

Positional and length upgrades (PPJoin's position filter, length
bounds |s| ≥ t·|r|) tighten candidates further without changing the
answer; documented, not implemented — the prefix filter alone already
removes the stopword quadratic.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

PAIR_COLS = ("doc_a", "doc_b", "inter", "uni", "jaccard")


def token_sets(docs: DataFrame, *, shingle_k: int | None = None) -> DataFrame:
    """(doc_id, toks): DISTINCT tokens of each (doc_id, text) doc,
    df-rank-sorted ascending (rarest first), plus n = |toks|. The sort
    key is (df, token) — a TOTAL order, so every engine and every run
    produces the identical prefix.

    ``shingle_k`` switches the set universe from single words to
    k-word shingles (functions/text.py shingles_rx). On a
    small-vocabulary corpus word sets saturate — at sf0.01 the word
    universe is ~30 tokens and 74% of ALL pairs clear Jaccard 0.5,
    so the join is degenerate no matter how good the filter is;
    3-shingles live in a ~vocab³ space where only planted near-dups
    survive (measured: 25 pairs of 125k). Pick the universe that
    makes similarity MEAN something for the corpus."""
    if shingle_k is not None:
        from ..functions.text import shingles_rx

        tok_arr = shingles_rx(F.col("text"), shingle_k)
    else:
        tok_arr = F.array_distinct(F.split(F.col("text"), " "))
    t = docs.select("doc_id", F.explode(tok_arr).alias("tok")).filter(
        F.col("tok") != ""
    )
    df_tab = t.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    return (
        t.join(F.broadcast(df_tab), "tok")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("df", "tok"))),
                lambda s: s["tok"],
            ).alias("toks")
        )
        .withColumn("n", F.size("toks"))
    )


def prefix_length(n: F.Column, t_num: int, t_den: int) -> F.Column:
    """|r| − ceil(t·|r|) + 1; ceil via (a + b − 1) // b. The division
    is double-typed but its operands are small exact integers (n is a
    doc's distinct-token count), so floor() is exact."""
    ceil_tn = F.floor((n * F.lit(t_num) + F.lit(t_den - 1)) / F.lit(t_den))
    return (n - ceil_tn + F.lit(1)).cast("int")


def prefix_candidates(
    sets: DataFrame, t_num: int, t_den: int
) -> DataFrame:
    """(doc_a, doc_b) distinct candidate pairs: both docs carry a
    common token inside their own prefixes. Sound (never drops a
    true pair — the prefix-filter theorem) and the ONLY stage whose
    volume depends on data skew: a token's contribution is its
    prefix-df squared, concentrated on rare tokens by the global
    order."""
    pref = sets.select(
        "doc_id",
        F.explode(
            F.slice(F.col("toks"), 1, prefix_length(F.col("n"), t_num, t_den))
        ).alias("tok"),
    )
    a = pref.select(F.col("doc_id").alias("doc_a"), "tok")
    b = pref.select(F.col("doc_id").alias("doc_b"), "tok")
    return (
        a.join(b, "tok")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )


def similarity_join(
    docs: DataFrame,
    t_num: int,
    t_den: int,
    *,
    shingle_k: int | None = None,
    ledger_key: str = "setjoin",
) -> DataFrame:
    """All pairs of (doc_id, text) docs with Jaccard ≥ t_num/t_den over
    distinct token sets:
    (doc_a, doc_b, inter, uni, jaccard). Membership is decided by the
    integer cross-multiplication ``inter·t_den ≥ t_num·uni`` — exact,
    engine-independent; the double-typed ``jaccard`` column is derived
    output (one division of exact integers), never a filter input.

    The threshold must satisfy 0 < t ≤ 1: the prefix-filter theorem is
    vacuous at t = 0 (disjoint pairs qualify but share no prefix token
    — they would be silently missing), and t > 1 drives prefix_length
    negative (a runtime slice error, not an empty answer)."""
    if not 0 < t_num <= t_den:
        raise ValueError(f"threshold must be in (0, 1]: {t_num}/{t_den}")
    sets = token_sets(docs, shingle_k=shingle_k)
    # INTERN identical token sets before any pairing (the r6 ER
    # lesson, re-learned here by measurement: on an exact-copy 10x
    # replica the un-interned join went 16.9s -> 1195s, ~71x — every
    # copy multiplies its shingles' prefix-df and candidate volume
    # follows Σ prefix-df². Grouping identical sets makes the
    # quadratic stages run on DISTINCT sets (flat under duplication);
    # the answer is then EXPANDED — within-group identity pairs plus
    # cross-group member products — which is output-bound work by
    # definition. The brute-force row-level twin hash-matches, so the
    # interning is verified as an algebraic identity, not assumed.
    # Contract note: a group with millions of exact copies makes the
    # IDENTITY-PAIR OUTPUT itself quadratic — real pipelines run l1
    # exact dedup first precisely so similarity never enumerates
    # identity pairs; this operator keeps them because the exact
    # all-pairs semantics says so.
    groups = sets.filter(F.col("n") > 0).groupBy("toks", "n").agg(
        F.min("doc_id").alias("gid"),
        F.sort_array(F.collect_list("doc_id")).alias("members"),
    )
    # `groups` feeds SEVEN plan branches (dsets→cand/sa/sb, ma, mb,
    # within) and nothing downstream shrinks it — without
    # materialization every branch re-derived the whole shingle +
    # df-rank + collect_list chain (14 corpus scans measured in the r10
    # plan sweep; 2 after). Checkpoint through the audited ledger.
    from ..audit import audited_checkpoint

    groups = audited_checkpoint(f"{ledger_key}.groups", groups)
    dsets = groups.select(F.col("gid").alias("doc_id"), "toks", "n")
    cand = prefix_candidates(dsets, t_num, t_den)
    sa = dsets.select(
        F.col("doc_id").alias("doc_a"), F.col("toks").alias("ta"),
        F.col("n").alias("na"),
    )
    sb = dsets.select(
        F.col("doc_id").alias("doc_b"), F.col("toks").alias("tb"),
        F.col("n").alias("nb"),
    )
    inter = F.size(F.array_intersect("ta", "tb"))
    qual = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            F.col("doc_a").alias("gid_a"),
            F.col("doc_b").alias("gid_b"),
            inter.alias("inter"),
            (F.col("na") + F.col("nb") - inter).alias("uni"),
        )
        .filter(F.col("inter") * F.lit(t_den) >= F.lit(t_num) * F.col("uni"))
    )
    ma = groups.select(F.col("gid").alias("gid_a"), F.col("members").alias("ma"))
    mb = groups.select(F.col("gid").alias("gid_b"), F.col("members").alias("mb"))
    cross = (
        qual.join(ma, "gid_a")
        .join(mb, "gid_b")
        .select(
            F.explode("ma").alias("x"), "mb", "inter", "uni"
        )
        .select("x", F.explode("mb").alias("y"), "inter", "uni")
        .select(
            F.least("x", "y").alias("doc_a"),
            F.greatest("x", "y").alias("doc_b"),
            "inter",
            "uni",
        )
    )
    # identity pairs always qualify (J = 1 and t ≤ 1 is validated at
    # entry — no per-row constant guard needed)
    within = (
        groups.filter(F.size("members") >= 2)
        .select("n", F.col("members").alias("ms"), F.explode("members").alias("x"))
        .select("n", "x", F.explode("ms").alias("y"))
        .filter(F.col("x") < F.col("y"))
        .select(
            F.col("x").alias("doc_a"), F.col("y").alias("doc_b"),
            F.col("n").alias("inter"), F.col("n").alias("uni"),
        )
    )
    return cross.unionByName(within).select(
        "doc_a",
        "doc_b",
        F.col("inter").cast("bigint").alias("inter"),
        F.col("uni").cast("bigint").alias("uni"),
        (F.col("inter").cast("double") / F.col("uni")).alias("jaccard"),
    )
