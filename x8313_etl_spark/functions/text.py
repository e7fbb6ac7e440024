"""Text-analysis expression helpers (SURVEY.md §2.10 L1/L5-L7 + pipeline ops).

All Column expressions (no UDFs): tokenization, shingling, quality
metrics, a marker-word language-ID score, a rolling-hash
fingerprint, and SimHash. Each has a documented DuckDB-SQL twin shape
used by the oracle queries in queries/llm.py / queries/pipeline_q.py.

DESIGN RULE — word-array helpers take a MATERIALIZED ``array<string>``
column, not the raw text: Catalyst inlines expression trees into
higher-order-function lambdas, so a ``split(text)`` passed through
lambdas gets re-evaluated per element access (O(words²) per doc —
measured 10-20× slowdowns; see operators/minhash.py). Callers stage
``tokens(text)`` with one ``withColumn`` and pass that attribute.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column

#: tiny per-language marker vocabularies for the heuristic language ID.
#: (Fixture texts share one vocabulary, so on fixtures this exercises the
#: machinery, not real discrimination — by design the operator is the
#: same one you'd run with real marker lists.)
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "de": ("der", "und", "table", "hash"),
    "en": ("the", "fast", "slow", "key"),
    "es": ("el", "los", "data", "row"),
    "fr": ("le", "les", "query", "merge"),
    "zh": ("de5", "shi4", "spark", "batch"),
}

#: BPE-ish tokenizer regex: word runs or single non-space punctuation.
#: Java regex and DuckDB's RE2 agree on this class syntax.
BPE_TOKEN_RE = r"\w+|[^\w\s]"


def tokens(c: Column) -> Column:
    """Whitespace tokens. SQL twin: string_split(x, ' ') (fixture texts
    are single-spaced; use string_split_regex for general input)."""
    return F.split(c, " ")


def gram_pattern(k: int) -> str:
    """THE word-k-gram regex (one definition, shared by every caller —
    shingles_rx, corpus_q n-grams, operators/substrdedup): a
    word-boundary-anchored lookahead whose group 1 captures each
    overlapping k-word window of a single-spaced string."""
    return "(?:^|(?<= ))(?=((?:[^ ]+ ){" + str(k - 1) + "}[^ ]+))"


def shingles_rx(text: Column, k: int = 3) -> Column:
    """Distinct k-gram shingles straight off the raw string: one
    word-boundary-anchored lookahead regex pass (overlapping grams all
    match), then array_distinct — first-occurrence order, the same
    grams as joining each k-word window of ``tokens(text)`` on
    single-spaced text. ~10-16x faster than a higher-order
    ``transform`` over the token array, which is interpreted
    row-at-a-time (HOFs don't enter whole-stage codegen) while
    regexp_extract_all stays inside codegen."""
    return F.array_distinct(
        F.regexp_extract_all(text, F.lit(gram_pattern(k)), F.lit(1))
    )


def char_ratio(c: Column, pattern: str) -> Column:
    """Fraction of characters matching regex class ``pattern``.

    SQL twin: (length(x) - length(regexp_replace(x, pat, '', 'g')))
              / length(x)
    """
    stripped = F.regexp_replace(c, pattern, "")
    return (F.length(c) - F.length(stripped)).cast("double") / F.length(c)


def mean_word_len(w: Column) -> Column:
    """Integer char total / integer count → one exact double division."""
    total = F.aggregate(w, F.lit(0), lambda acc, x: acc + F.length(x))
    return total.cast("double") / F.size(w)


def stopword_ratio(w: Column, stopwords: tuple[str, ...]) -> Column:
    hits = F.size(F.filter(w, lambda x: x.isin(*stopwords)))
    return hits.cast("double") / F.size(w)


def marker_hits(w: Column, markers: tuple[str, ...]) -> Column:
    """How many tokens are in the marker list (language-ID score)."""
    return F.size(F.filter(w, lambda x: x.isin(*markers)))


# ---------------------------------------------------------------------------
# Hash-based fingerprints. Word hash = first 15 md5 hex digits → bigint,
# mod 2^31-1 — chosen because both engines derive the identical integer
# (Spark conv(); DuckDB '0x'||hex cast). xxhash64 would be cheaper at
# scale but has no DuckDB twin; swap in production.
# ---------------------------------------------------------------------------

_FP_MOD = 2_147_483_647  # 2^31 - 1; keeps acc*31 + h < 2^36 (int64-safe)
_FP_BASE = 31
SIMHASH_BITS = 31


def word_hashes(w: Column) -> Column:
    """array<string> → array<bigint> of 31-bit md5-derived hashes."""
    return F.transform(
        w,
        lambda x: F.pmod(
            F.conv(F.substring(F.md5(x), 1, 15), 16, 10).cast("bigint"),
            F.lit(_FP_MOD),
        ),
    )


def fingerprint(h: Column) -> Column:
    """Order-sensitive rolling hash over word hashes: fold of
    acc = (acc*31 + h_i) mod (2^31-1).

    SQL twin: sql_fingerprint() — list_reduce over the same hashes.
    """
    return F.aggregate(
        h,
        F.lit(0).cast("bigint"),
        lambda acc, x: F.pmod(acc * _FP_BASE + x, F.lit(_FP_MOD)),
    )


def simhash(h: Column) -> Column:
    """SimHash over a word-hash array → bigint with ``SIMHASH_BITS`` bits.

    Per bit j: count tokens with bit j set minus tokens with it clear;
    result bit j = 1 iff the count is positive (ties → 0, both engines).
    Folded over tokens with a bits-wide accumulator (same perf rationale
    as minhash_signature). Empty token arrays yield 0.
    """
    masks = F.array(*[F.lit(1 << j).cast("bigint") for j in range(SIMHASH_BITS)])
    counts = F.aggregate(
        h,
        F.transform(masks, lambda m: F.lit(0)),
        lambda acc, x: F.zip_with(
            acc,
            F.transform(masks, lambda m: F.when(x.bitwiseAND(m) > 0, 1).otherwise(-1)),
            lambda a, b: a + b,
        ),
    )
    return F.aggregate(
        F.zip_with(
            counts,
            masks,
            lambda c, m: F.when(c > 0, m).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


# --- DuckDB twins (kept adjacent so the two sides can never drift) ---------

SQL_WORD_HASHES = (
    "list_transform({w}, x -> "
    "CAST(CONCAT('0x', substr(md5(x), 1, 15)) AS BIGINT) % 2147483647)"
)


def sql_word_hashes(w: str) -> str:
    return SQL_WORD_HASHES.format(w=w)


def sql_fingerprint(h: str) -> str:
    """DuckDB twin of ``fingerprint`` (seeded with 0 via list_prepend
    because list_reduce has no init parameter). ``h`` is a SQL
    expression for the word-hash list."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), {h}), "
        f"(acc, x) -> (acc * 31 + x) % 2147483647)"
    )


def sql_simhash(h: str) -> str:
    """DuckDB twin of ``simhash``: same masks, same fold, same tie rule."""
    top = SIMHASH_BITS - 1
    masks = f"list_transform(generate_series(0, {top}), j -> (CAST(1 AS BIGINT) << j))"
    zeros = f"list_transform(generate_series(0, {top}), j -> 0)"
    bitsof = (
        f"list_transform({masks}, m -> CASE WHEN (x & m) > 0 THEN 1 ELSE -1 END)"
    )
    counts = (
        f"list_reduce(list_prepend({zeros}, list_transform({h}, x -> {bitsof})), "
        f"(acc, bl) -> list_transform(list_zip(acc, bl), p -> p[1] + p[2]))"
    )
    # the outer CAST matters: DuckDB's list_sum over BIGINT yields
    # HUGEINT, which pandas materializes as float64 — an int64-vs-float64
    # column would defeat a strict dtype-sensitive value hash even though
    # every value is equal
    return (
        f"CAST(COALESCE(list_sum(list_transform(list_zip({counts}, {masks}), "
        f"p -> CASE WHEN p[1] > 0 THEN p[2] ELSE CAST(0 AS BIGINT) END)), 0) AS BIGINT)"
    )
