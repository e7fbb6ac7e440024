"""Property tests for operators/substrdedup.py: the distributed
duplicated-span detector must match a brute-force suffix-scan reference
(every K-window counted, intervals merged by hand) on random small-
alphabet corpora."""

from __future__ import annotations

from collections import Counter

from hypothesis import given, settings, strategies as st

from x8313_etl_spark.operators.substrdedup import duplicated_spans

_SETTINGS = dict(max_examples=8, deadline=None)

# Tiny alphabet so duplicated K-grams actually occur in small corpora.
_doc = st.lists(st.sampled_from(["a", "b", "c"]), min_size=0, max_size=12)
_corpus = st.lists(_doc, min_size=1, max_size=6)


def _ref_spans(docs: list[list[str]], k: int, min_occ: int = 2):
    cnt: Counter = Counter()
    pos_grams = []
    for d, toks in enumerate(docs):
        for p in range(len(toks) - k + 1):
            g = tuple(toks[p : p + k])
            pos_grams.append((d, p, g))
            cnt[g] += 1
    marked: dict[int, list[int]] = {}
    for d, p, g in pos_grams:
        if cnt[g] >= min_occ:
            marked.setdefault(d, []).append(p)
    spans = []
    for d, ps in sorted(marked.items()):
        ps.sort()
        start, prev, n = ps[0], ps[0], 1
        for p in ps[1:]:
            if p - prev > k:
                spans.append((d, start, prev + k, n))
                start, n = p, 0
            prev = p
            n += 1
        spans.append((d, start, prev + k, n))
    return sorted(spans)


def _corpus_df(spark, docs):
    return spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id bigint, text string",
    )


@settings(**_SETTINGS)
@given(docs=_corpus, k=st.sampled_from([2, 3]))
def test_spans_match_bruteforce(spark, docs, k):
    got = sorted(
        (r.doc_id, r.span_start, r.span_end, r.n_dup_grams)
        for r in duplicated_spans(_corpus_df(spark, docs), k).collect()
    )
    assert got == _ref_spans(docs, k)


def test_min_occurrences_three(spark):
    # "a b" occurs 3x, "b c" only 2x: with min_occurrences=3 only the
    # "a b" windows survive.
    docs = [["a", "b", "c"], ["a", "b", "c"], ["a", "b", "x"]]
    got = sorted(
        (r.doc_id, r.span_start, r.span_end)
        for r in duplicated_spans(
            _corpus_df(spark, docs), 2, min_occurrences=3
        ).collect()
    )
    assert got == [(0, 0, 2), (1, 0, 2), (2, 0, 2)]


def test_intra_doc_repetition_counts(spark):
    # The duplicated 2-gram lives twice INSIDE one doc; suffix-array
    # semantics say that's duplicated text even with no cross-doc twin.
    docs = [["a", "b", "z", "a", "b"], ["c", "c", "c", "c"]]
    got = sorted(
        (r.doc_id, r.span_start, r.span_end)
        for r in duplicated_spans(_corpus_df(spark, docs), 2).collect()
    )
    # doc0: windows at 0 and 3 (gap 3 > k=2 -> two islands);
    # doc1: "c c" at 0,1,2 -> one island covering the whole doc.
    assert got == [(0, 0, 2), (0, 3, 5), (1, 0, 4)]


@settings(**_SETTINGS)
@given(docs=_corpus, probes=_corpus, k=st.sampled_from([2, 3]))
def test_contaminated_spans_match_bruteforce(spark, docs, probes, k):
    from x8313_etl_spark.operators.substrdedup import contaminated_spans

    probe_grams = {
        tuple(toks[p : p + k])
        for toks in probes
        for p in range(len(toks) - k + 1)
    }
    marked: dict[int, list[int]] = {}
    for d, toks in enumerate(docs):
        for p in range(len(toks) - k + 1):
            if tuple(toks[p : p + k]) in probe_grams:
                marked.setdefault(d, []).append(p)
    ref = []
    for d, ps in sorted(marked.items()):
        start, prev, n = ps[0], ps[0], 1
        for p in ps[1:]:
            if p - prev > k:
                ref.append((d, start, prev + k, n))
                start, n = p, 0
            prev = p
            n += 1
        ref.append((d, start, prev + k, n))
    got = sorted(
        (r.doc_id, r.span_start, r.span_end, r.n_dup_grams)
        for r in contaminated_spans(
            _corpus_df(spark, docs), _corpus_df(spark, probes), k
        ).collect()
    )
    assert got == sorted(ref)
