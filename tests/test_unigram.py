"""Tests for operators/unigram.py: the Viterbi DP against brute-force
segmentation enumeration, training recovery of planted pieces,
round-over-round cost monotonicity, char-coverage pruning, and
determinism of the full loop."""

from __future__ import annotations

from itertools import combinations

from hypothesis import given, settings, strategies as st

from x8313_etl_spark.operators.unigram import (
    _costs_from_counts,
    distinct_words,
    encode_corpus,
    seed_vocab,
    segment_words,
    train_unigram,
    viterbi_path,
)

_SETTINGS = dict(max_examples=15, deadline=None)

_word = st.text(alphabet="abc", min_size=1, max_size=7)


def _brute_best(word, costs):
    n = len(word)
    best = None
    for k in range(n):  # k cut points
        for cuts in combinations(range(1, n), k):
            bounds = [0, *cuts, n]
            pieces = tuple(
                word[bounds[i] : bounds[i + 1]] for i in range(len(bounds) - 1)
            )
            if any(p not in costs for p in pieces):
                continue
            cand = (sum(costs[p] for p in pieces), len(pieces), pieces)
            if best is None or cand < best:
                best = cand
    return best[2] if best else (word,)


@settings(**_SETTINGS)
@given(
    word=_word,
    data=st.data(),
)
def test_viterbi_matches_bruteforce(word, data):
    # Random vocab: all single chars plus random substrings, random
    # integer costs.
    subs = sorted(
        {word[i:j] for i in range(len(word)) for j in range(i + 1, len(word) + 1)}
    )
    vocab = [s for s in subs if len(s) == 1] + data.draw(
        st.lists(st.sampled_from(subs), max_size=6)
    )
    costs = {
        p: data.draw(st.integers(min_value=1, max_value=50), label=f"cost {p}")
        for p in set(vocab)
    }
    assert viterbi_path(word, costs) == _brute_best(word, costs)


def test_viterbi_tie_breaks_are_total():
    costs = {"a": 10, "b": 10, "ab": 20, "ba": 20}
    # "ab" as one piece beats ("a","b") on piece count at equal cost.
    assert viterbi_path("ab", costs) == ("ab",)
    # Unknown char: whole word comes back as one unknown piece.
    assert viterbi_path("axb", costs) == ("axb",)


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )


def test_training_recovers_planted_pieces(spark):
    # Words are concatenations of the planted pieces; training must
    # surface them and segment by them.
    texts = [
        "abcd abef cdef abcd",
        "cdab efab abcd cdcd",
        "efef abab cdef abcd",
    ] * 3
    words = distinct_words(_docs(spark, texts)).persist()
    counts, costs = train_unigram(words, vocab_size=9, max_piece_len=3)
    for planted in ("ab", "cd", "ef"):
        assert planted in counts, counts
    assert viterbi_path("abcd", costs) == ("ab", "cd")
    words.unpersist()


def test_round_costs_monotone_nonincreasing(spark):
    texts = ["abcab cabab ababc", "cabca abcbc ababa"] * 2
    words = distinct_words(_docs(spark, texts)).persist()
    wf = {r.word: r.freq for r in words.collect()}

    def corpus_cost(costs):
        return sum(
            f * sum(costs.get(p, 10**9) for p in viterbi_path(w, costs, 3))
            for w, f in wf.items()
        )

    seed = {
        r["piece"]: int(r["count"])
        for r in seed_vocab(words, 40, 3).collect()
    }
    prev = None
    from x8313_etl_spark.operators.unigram import _prune

    counts = _prune(seed, 12)
    for _ in range(3):
        costs = _costs_from_counts(counts)
        seg = segment_words(words, costs, 3)
        import pyspark.sql.functions as F

        counts = {
            r["piece"]: int(r["count"])
            for r in seg.select(F.explode("pieces").alias("piece"), "freq")
            .groupBy("piece")
            .agg(F.sum("freq").alias("count"))
            .collect()
        }
        for ch in set("".join(wf)):
            counts.setdefault(ch, 1)
        cur = corpus_cost(costs)
        if prev is not None:
            # Viterbi-EM monotonicity, with micro-nat quantization slack.
            assert cur <= prev * (1 + 1e-6) + len(wf)
        prev = cur
    words.unpersist()


def test_single_chars_survive_aggressive_pruning(spark):
    texts = ["ab ab ab cd cd"]
    words = distinct_words(_docs(spark, texts)).persist()
    counts, costs = train_unigram(words, vocab_size=1, max_piece_len=2)
    for ch in "abcd":
        assert ch in counts
    words.unpersist()


def test_training_is_deterministic(spark):
    texts = ["abcd cdab abab", "efcd abef cdcd"]
    words = distinct_words(_docs(spark, texts)).persist()
    a = train_unigram(words, vocab_size=8, max_piece_len=3)
    b = train_unigram(words, vocab_size=8, max_piece_len=3)
    assert a == b
    words.unpersist()


def test_encode_corpus_reassembles_in_order(spark):
    texts = ["abcd ab", "cdcd abcd"]
    docs = _docs(spark, texts)
    words = distinct_words(docs).persist()
    _, costs = train_unigram(words, vocab_size=9, max_piece_len=2)
    got = {r.doc_id: r.pieces for r in encode_corpus(docs, costs, max_piece_len=2).collect()}
    for i, t in enumerate(texts):
        expect = [
            p for w in t.split(" ") for p in viterbi_path(w, costs, 2)
        ]
        assert got[i] == expect, (i, t, got[i], expect)
    words.unpersist()


def test_fixture_vocab_learns_whole_words(spark, sf_dir):
    # The measured artifact behind the gradual-prune schedule: on the
    # real fixture corpus, whole words must come out as single pieces
    # (up-front seed pruning regressed this to char fragments).
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    words = distinct_words(docs).persist()
    counts, costs = train_unigram(words, vocab_size=64)
    for word in ("table", "customer", "window"):
        assert viterbi_path(word, costs) == (word,), (word, counts)
    words.unpersist()


def test_encode_preserves_empty_docs(spark):
    docs = _docs(spark, ["ab ab", ""])
    words = distinct_words(docs).persist()
    _, costs = train_unigram(words, vocab_size=4, max_piece_len=2)
    got = {r.doc_id: r.pieces for r in encode_corpus(docs, costs, max_piece_len=2).collect()}
    assert set(got) == {0, 1}
    assert got[1] == []
    words.unpersist()
