"""Unigram-LM tokenizer training + encoding — the second major
subword-tokenizer family (Kudo 2018, *Subword Regularization*, public
paper; the SentencePiece unigram model) alongside the repo's BPE loop
(p_bpe_train / p_bpe_encode).

Training is Viterbi (hard) EM, the deterministic variant:

    seed:  every substring of every distinct word up to MAX_PIECE_LEN,
           weighted by corpus word frequency; top seed_size by
           (freq desc, piece asc) plus ALL single characters
    round: E — segment each distinct word by min-cost Viterbi DP under
               the current integer piece costs
           M — piece counts := Σ word_freq × occurrences in the Viterbi
               segmentation; costs := −ln(count/total) in integer
               micro-nats; prune to vocab_size by (count desc, piece
               asc), single characters exempt (the SentencePiece
               coverage rule)

Scale shape (100 TB): the corpus NEVER iterates. Everything distributed
runs over the interned distinct-word table (the r6 ER lesson: intern
first — distinct words are orders of magnitude smaller than the token
stream), which is built once and persisted by the caller. Per round the
cluster does ONE map-only segmentation pass (an Arrow-batched pandas
UDF — per-word DP over vocabulary substrings is genuinely imperative,
the documented UDF criterion) and ONE groupBy-sum bounded by
vocab_size; the loop state — the (piece, cost) vocabulary — is
vocab_size rows, collected to the driver each round and shipped back as
a broadcast, the same bounded driver hop a broadcast join performs
(annscan.py contract). No lineage growth: each round's input is the
static word table, so no checkpointing is needed.

Determinism: costs are integers (micro-nats); the Viterbi tie-break is
lexicographic on (cost, piece_count, pieces), so the same corpus gives
the same vocabulary and the same segmentation on any cluster, any
round, any engine. Floating point appears only on the driver when
quantizing −ln(p) — one platform, one rounding.
"""

from __future__ import annotations

import math

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.functions import pandas_udf

MAX_PIECE_LEN = 8
#: Viterbi-EM rounds; the last one prunes to the target vocabulary
EM_ROUNDS = 4
COST_SCALE = 1_000_000  # micro-nats


def distinct_words(docs: DataFrame) -> DataFrame:
    """(word, freq): the interned dictionary of ``docs.text``. The ONLY
    pass over the full corpus; everything downstream is
    dictionary-sized."""
    return (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
    )


def seed_vocab(
    words: DataFrame,
    seed_size: int,
    max_piece_len: int = MAX_PIECE_LEN,
) -> DataFrame:
    """(piece, count): frequency-weighted substring candidates — the
    top seed_size substrings by (count desc, piece asc) UNIONed with
    every single character (coverage guarantee; chars bypass the
    top-N). Substring explosion is declarative (nested transform →
    flatten) and map-only; per word it emits O(len × max_piece_len)
    rows, bounded and tiny next to any corpus scan."""
    subs = F.flatten(
        F.transform(
            F.sequence(F.lit(1), F.lit(max_piece_len)),
            lambda L: F.when(
                F.length("word") >= L,
                F.transform(
                    F.sequence(F.lit(1), F.length("word") - L + 1),
                    lambda i: F.substring(F.col("word"), i, L),
                ),
            ).otherwise(F.array().cast("array<string>")),
        )
    )
    counted = (
        words.select(F.explode(subs).alias("piece"), "freq")
        .groupBy("piece")
        .agg(F.sum("freq").alias("count"))
    )
    top = (
        counted.filter(F.length("piece") > 1)
        .orderBy(F.col("count").desc(), "piece")
        .limit(seed_size)
    )
    chars = counted.filter(F.length("piece") == 1)
    return top.unionByName(chars)


def _costs_from_counts(counts: dict[str, int]) -> dict[str, int]:
    total = sum(counts.values())
    return {
        p: round(-math.log(c / total) * COST_SCALE) for p, c in counts.items()
    }


def viterbi_path(
    word: str, costs: dict[str, int], max_piece_len: int = MAX_PIECE_LEN
) -> tuple[str, ...]:
    """Min-cost segmentation of one word; ties broken by fewer pieces,
    then lexicographically smallest piece tuple — a total order, so the
    result is unique. Unsegmentable words (characters outside the
    vocabulary) come back whole as a single unknown piece."""
    n = len(word)
    dp: list[tuple[int, int, tuple[str, ...]] | None] = [None] * (n + 1)
    dp[0] = (0, 0, ())
    for i in range(1, n + 1):
        best = None
        for j in range(max(0, i - max_piece_len), i):
            prev = dp[j]
            if prev is None:
                continue
            c = costs.get(word[j:i])
            if c is None:
                continue
            cand = (prev[0] + c, prev[1] + 1, prev[2] + (word[j:i],))
            if best is None or cand < best:
                best = cand
        dp[i] = best
    final = dp[n]
    return final[2] if final is not None else (word,)


def segment_words(
    words: DataFrame,
    costs: dict[str, int],
    max_piece_len: int = MAX_PIECE_LEN,
) -> DataFrame:
    """words + ``pieces array<string>``: the distributed E-step. The
    vocabulary rides to executors as a Spark broadcast (vocab_size
    entries, NOT corpus-sized); the DP is an Arrow-batched pandas UDF —
    one Python call per batch, a per-row integer DP inside."""
    bc = words.sparkSession.sparkContext.broadcast(costs)

    @pandas_udf("array<string>")
    def seg(col: pd.Series) -> pd.Series:
        c = bc.value
        return col.map(lambda w: list(viterbi_path(w, c, max_piece_len)))

    return words.withColumn("pieces", seg(F.col("word")))


def train_unigram(
    words: DataFrame,
    vocab_size: int,
    max_piece_len: int = MAX_PIECE_LEN,
) -> tuple[dict[str, int], dict[str, int]]:
    """Viterbi-EM over the interned word table; returns (counts,
    costs), each vocab-sized. The per-round Spark work is one
    segmentation pass + one groupBy bounded by the current vocabulary;
    the vocabulary itself lives on the driver between rounds (bounded
    by 4 × vocab_size — the annscan bounded-collect contract).

    Pruning is GRADUAL (the SentencePiece schedule): EM starts on the
    full 4 × vocab_size seed and each round keeps 0.75× the survivors,
    landing on vocab_size at the final round. Pruning the seed up front
    instead converges to a fragment vocabulary: raw substring frequency
    overweights short infixes ("er" occurring inside half the dictionary
    out-counts any whole word), so the words EM would have promoted are
    gone before the first E-step ever scores them — measured on the
    sf0.01 fixture, up-front pruning segments "table" as (ta,b,l,e)
    while the gradual schedule keeps whole words as single pieces."""
    counts = {
        r["piece"]: int(r["count"])
        for r in seed_vocab(words, vocab_size * 4, max_piece_len).collect()
    }
    for r in range(EM_ROUNDS):
        costs = _costs_from_counts(counts)
        seg = segment_words(words, costs, max_piece_len)
        new = (
            seg.select(F.explode("pieces").alias("piece"), "freq")
            .groupBy("piece")
            .agg(F.sum("freq").alias("count"))
            .collect()
        )
        observed = {row["piece"]: int(row["count"]) for row in new}
        # Single chars stay alive even when unused this round (count
        # floor 1) so later rounds can still fall back to them.
        for p in list(counts):
            if len(p) == 1 and p not in observed:
                observed[p] = 1
        target = (
            vocab_size
            if r == EM_ROUNDS - 1
            else max(vocab_size, int(len(counts) * 0.75))
        )
        counts = _prune(observed, target)
    return counts, _costs_from_counts(counts)


def _prune(counts: dict[str, int], vocab_size: int) -> dict[str, int]:
    chars = {p: c for p, c in counts.items() if len(p) == 1}
    multi = sorted(
        ((p, c) for p, c in counts.items() if len(p) > 1),
        key=lambda pc: (-pc[1], pc[0]),
    )
    keep = dict(multi[: max(0, vocab_size - len(chars))])
    keep.update(chars)
    return keep


def encode_corpus(
    docs: DataFrame,
    costs: dict[str, int],
    *,
    max_piece_len: int = MAX_PIECE_LEN,
) -> DataFrame:
    """(doc_id, pieces): whole-doc subword stream of each (doc_id, text)
    doc under a trained vocabulary. Segments the DISTINCT words only,
    then rebuilds each doc by joining the dictionary back to the
    exploded token stream and reassembling in position order — corpus
    text is never pushed through Python."""
    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "word")
    ).filter(F.col("word") != "")
    dic = segment_words(
        toks.select("word").distinct().withColumn("freq", F.lit(1)),
        costs,
        max_piece_len,
    ).select("word", "pieces")
    agg = (
        toks.join(dic, "word")
        .groupBy("doc_id")
        .agg(
            F.flatten(
                F.array_sort(
                    F.collect_list(F.struct("pos", "pieces"))
                ).pieces
            ).alias("pieces")
        )
    )
    # left join back to the full id set: a doc with empty /
    # whitespace-only text must come back with an EMPTY pieces array,
    # not vanish from the output.
    ids = docs.select("doc_id")
    return ids.join(agg, "doc_id", "left").select(
        "doc_id",
        F.coalesce("pieces", F.array().cast("array<string>")).alias("pieces"),
    )
