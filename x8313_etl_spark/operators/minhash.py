"""MinHash + LSH near-duplicate detection (SURVEY.md §2.10 L2).

Classic shingle → minhash → band-bucket → candidate-join pipeline
(the production sketch path is the integer-exact Arrow kernel in
``signature_from_shingles`` over ``shingle_table`` — with the
higher-order-function fold kept as the cross-checked reference form):

1. k-word shingles per doc (functions/text.py `shingles_rx`).
2. Each shingle hashed to a 31-bit integer via md5 (cross-engine
   reproducible — see functions/text.py `fingerprint` for the trick).
3. ``N_HASHES`` universal-hash permutations ``(A_i * h + B_i) mod P``;
   the signature is the per-permutation minimum.
4. Signatures are split into ``BANDS`` bands of ``ROWS_PER_BAND``; docs
   sharing any band key become candidate pairs (one exploded
   shuffle-join on the band key — O(candidates), never O(n²)).
5. Candidates are verified with exact shingle-set Jaccard and filtered
   at the caller's threshold.

Steps 4 and 5 are shared by every arrival shape of the dedup family:
``band_table`` and ``jaccard_verify`` here, the hot-bucket guard in
operators/bandjoin.py, and the top-1 verdict in operators/increment.py
(the batch-vs-index probe and the streaming sink in
operators/ingestdedup.py both call it).

Scale notes (100 TB): the only shuffles are (a) the band-key self-join,
whose fan-in is bounded by band-bucket sizes — a bucket with B docs
yields B² candidates, so it runs through
``operators/bandjoin.guarded_band_self_join`` with a live
``max_bucket_size`` cap — and (b) the verify join, bounded by the
candidate count. Signature computation is map-only (no exchange).
All hash arithmetic is fixed-constant and deterministic:
the same corpus gives the same pairs on any cluster size.

Determinism: every constant (P, A_i, B_i) is a pure function of the
permutation index so the DuckDB oracle can regenerate the identical
signature with no side-channel (queries/llm.py embeds the twin SQL).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..functions.text import shingles_rx
from .bandjoin import DEFAULT_MAX_BUCKET_SIZE, guarded_band_self_join

#: Mersenne prime 2^31-1. h < P and A_i < P keep A_i*h < 2^62 (int64-safe).
MINHASH_P = 2_147_483_647
N_HASHES = 32
BANDS = 8
ROWS_PER_BAND = 4
assert BANDS * ROWS_PER_BAND == N_HASHES

_SHINGLE_K = 3
#: exact shingle Jaccard a verified near-dup pair reaches
NEAR_DUP_THRESHOLD = 0.3


def shingle_hashes(sh: Column) -> Column:
    """Shingle array → array of 31-bit integer hashes.

    Hash = first 15 md5 hex digits as bigint, mod P — both engines can
    compute it bit-identically (Spark conv(); DuckDB '0x'||hex cast).
    """
    return F.transform(
        sh,
        lambda s: F.pmod(
            F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("bigint"),
            F.lit(MINHASH_P),
        ),
    )


def shingle_stage(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, sh, sig) with each intermediate MATERIALIZED as its own
    projection column. Catalyst inlines expression trees into
    higher-order lambdas, so composing these as one nested expression
    re-evaluates split() per element_at and md5 per permutation (32×) —
    staging through column attributes computes each exactly once per row.

    This is the HOF-fold reference form;
    ``signature_from_shingles(shingle_table(...))`` is the production
    sketch path (identical signatures).
    """
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            shingles_rx(F.col(text_col), _SHINGLE_K).alias("sh"),
        )
        .withColumn("h", shingle_hashes(F.col("sh")))
        .select("doc_id", "sh", minhash_signature(F.col("h")).alias("sig"))
    )


#: permutation constants, materialized as Python ints so the native
#: sketch path can inline them as literals (same derivation as
#: _perm_a/_perm_b, asserted equal in tests/test_minhash_unit.py)
PERM_A = [(i * 2_654_435_761 + 1) % MINHASH_P for i in range(N_HASHES)]
PERM_B = [(i * 40_503 + 17) % MINHASH_P for i in range(N_HASHES)]


def shingle_table(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, sh): distinct shingle arrays, shingle-less docs dropped."""
    return docs.select(
        F.col(id_col).alias("doc_id"),
        shingles_rx(F.col(text_col), _SHINGLE_K).alias("sh"),
    ).filter(F.size("sh") > 0)


def signature_from_shingles(sh: DataFrame) -> DataFrame:
    """(doc_id, sig) from an EXISTING ``shingle_table`` output — reads
    the already-computed shingle arrays instead of re-running the regex
    shingling over raw text. Every near-dup pipeline needs BOTH tables
    (band on sig, verify on sh); callers that persist sh and derive sig
    from it run the CPU-dense regex pass once per corpus instead of
    once per table (r13 optimization round — guide §2.2).

    REWORKED r14 (optimization round 2, guide §4): one Arrow-batched
    numpy pass replaces the explode → md5 → 32 ``min(perm_i(h))``
    aggregate pipeline. Measured at sf0.1 local[32] (cold, noop sink):
    the explode+md5 hash itself is ~0.38 s but the 32-wide aggregate
    machinery pushed the signature pass to ~1.0 s — the aggregation,
    not the hashing, was the cost. The kernel consumes the JVM-computed
    shingle ARRAYS (no Python re-implementation of the shingling regex
    exists to drift) and computes per doc entirely in int64: md5 per
    UNIQUE shingle in the batch, then the 32 permutations
    ``(A_i·h + B_i) mod P`` (h < P and A_i < P keep products < 2⁶² —
    int64-exact, same bound the module header documents) and a
    per-doc segment-min (``np.minimum.reduceat``). Every value is an
    exact integer, so numpy reproduces the JVM/DuckDB bigints
    bit-for-bit — asserted against the ``shingle_stage`` HOF fold on
    every fixture doc in tests/test_minhash_unit.py. Rows with empty
    shingle arrays
    are dropped exactly as exploding an empty array emits no rows
    (``shingle_table`` already filters them; the kernel re-filters
    defensively for callers that pass their own shingle arrays).

    Scale shape: map-only — the old groupBy exchange is gone; no
    shuffle at any corpus size. Per-task state is the batch's shingle
    vocabulary, bounded by the Arrow batch size."""
    import numpy as np

    pa_ = np.array(PERM_A, dtype=np.int64)[None, :]
    pb_ = np.array(PERM_B, dtype=np.int64)[None, :]

    def go(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            arrs = pdf["sh"].to_numpy()
            lens = np.fromiter(
                (len(a) for a in arrs), dtype=np.int64, count=len(arrs)
            )
            keep = lens > 0
            n = int(keep.sum())
            if n == 0:
                yield pd.DataFrame(
                    {"doc_id": np.array([], dtype=np.int64), "sig": []}
                )
                continue
            karrs = arrs[keep]
            klens = lens[keep]
            sh_all = np.concatenate(
                [np.asarray(a, dtype=object) for a in karrs]
            )
            uniq, inv = np.unique(sh_all, return_inverse=True)
            hu = np.fromiter(
                (
                    int(hashlib.md5(s.encode("utf-8")).hexdigest()[:15], 16)
                    % MINHASH_P
                    for s in uniq
                ),
                dtype=np.int64,
                count=len(uniq),
            )
            h0 = hu[inv]
            perms = (h0[:, None] * pa_ + pb_) % MINHASH_P
            bounds = np.zeros(n, dtype=np.int64)
            np.cumsum(klens[:-1], out=bounds[1:])
            mins = np.minimum.reduceat(perms, bounds, axis=0)
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy()[keep],
                    "sig": list(mins),
                }
            )

    return sh.select("doc_id", "sh").mapInPandas(
        go, "doc_id long, sig array<bigint>"
    )


def _perm_a(i: Column) -> Column:
    return F.pmod(i * F.lit(2_654_435_761) + 1, F.lit(MINHASH_P))


def _perm_b(i: Column) -> Column:
    return F.pmod(i * F.lit(40_503) + 17, F.lit(MINHASH_P))


def minhash_signature(hashes: Column) -> Column:
    """array<bigint> signature: sig[i] = min over shingles of perm_i(h).

    Computed as a FOLD over shingles with an N_HASHES-wide accumulator
    (element-wise least), not as a transform-per-permutation: Catalyst
    inlines referenced columns into lambda bodies, so the per-permutation
    form re-evaluates the md5 shingle hashing N_HASHES times (measured
    10× slower). The fold touches each hash exactly once.

    Empty shingle arrays yield an all-null signature (matches the
    DuckDB twin's list_min([]) = NULL semantics).
    """
    idx = F.sequence(F.lit(0), F.lit(N_HASHES - 1))
    init = F.array_repeat(F.lit(MINHASH_P).cast("bigint"), N_HASHES)
    folded = F.aggregate(
        hashes,
        init,
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                idx, lambda i: F.pmod(_perm_a(i) * h + _perm_b(i), F.lit(MINHASH_P))
            ),
            lambda a, b: F.least(a, b),
        ),
    )
    return F.when(F.size(hashes) > 0, folded).otherwise(
        F.transform(idx, lambda i: F.lit(None).cast("bigint"))
    )


def band_keys(sig: Column) -> Column:
    """array<string>: one join key per band — the band's signature slice."""
    rows = ROWS_PER_BAND
    return F.transform(
        F.sequence(F.lit(0), F.lit(BANDS - 1)),
        lambda b: F.concat_ws(
            "-", F.transform(F.slice(sig, b * rows + 1, rows), lambda x: x.cast("string"))
        ),
    )


def band_table(sig: DataFrame, out_id: str) -> DataFrame:
    """(out_id, band, key): one row per (doc, band) of a (doc_id, sig)
    table — the exploded form every band join and hot-bucket guard
    reads."""
    return sig.select(
        F.col("doc_id").alias(out_id),
        F.posexplode(band_keys(F.col("sig"))).alias("band", "key"),
    )


def jaccard_verify(
    cand: DataFrame,
    sh_a: DataFrame,
    sh_b: DataFrame,
    a: str,
    b: str,
    threshold: float,
) -> DataFrame:
    """(a, b, jaccard) for the candidate pairs ``cand`` (columns ``a``,
    ``b``) whose exact shingle-set Jaccard is ≥ ``threshold``. ``sh_a``
    and ``sh_b`` are (doc_id, sh) tables holding the a- and b-side docs;
    both are non-empty per row (``shingle_table`` drops empty arrays),
    so the division never reads 0/0."""
    jac = (
        F.size(F.array_intersect(F.col("sa"), F.col("sb"))).cast("double")
        / F.size(F.array_distinct(F.concat(F.col("sa"), F.col("sb"))))
    )
    return (
        cand.join(sh_a.select(F.col("doc_id").alias(a), F.col("sh").alias("sa")), a)
        .join(sh_b.select(F.col("doc_id").alias(b), F.col("sh").alias("sb")), b)
        .select(a, b, jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def near_dup_pairs(
    docs: DataFrame,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
) -> DataFrame:
    """LSH candidates + exact-Jaccard verify of ``docs`` (doc_id, text) →
    (doc_a, doc_b, jaccard).

    Emits each qualifying pair once (doc_a < doc_b).
    ``NEAR_DUP_THRESHOLD`` is on the EXACT shingle Jaccard of candidates;
    banding only bounds which pairs get verified.

    ``max_bucket_size`` caps band buckets (operators/bandjoin.py): a
    degenerate bucket of B docs otherwise emits B² candidates. The
    default cap is live in the registered query — it cannot trigger on
    a corpus without a 5000-strong near-identical cluster, so the
    DuckDB twin's exact band predicate still holds on any test corpus,
    while a real boilerplate-heavy crawl gets the bound. ``None``
    disables the guard (exact band semantics unconditionally). Rows
    confined to over-cap buckets lose their pairs (bounded work,
    reduced recall); ``bandjoin.hot_buckets`` lists those buckets.

    The sketch feeds four plan branches (both sides of the band join,
    both sides of the verify join), so the sh and banded tables go
    through the keyed swap-pool and each is computed once (measured
    2.7× end-to-end). At 100 TB, checkpoint those stages to parquet
    instead — same idea, spill-proof and resumable.
    """
    # Shingling/hashing is CPU-dense per byte — spread it across the
    # cluster even when the input is a single small split (see
    # queries/corpus_q.py for the same pattern + measurements).
    docs = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    # shingle_table emits no row for shingle-less docs (< k words) —
    # they cannot be near-dups under this metric, and their all-null
    # signatures would otherwise collapse every band key to "" and
    # cross-match (and the verify Jaccard would divide 0/0, an ANSI
    # error). Matches the SQL twin's NULL-comparison semantics.
    #
    # Through the keyed swap-pool, not raw persist: raw persists here
    # are never released (the returned plan still references them), so
    # every invocation leaked cache entries for the session lifetime,
    # and they bypassed the materialization ledger (found via the r10
    # re-execution gate's ambient-cache flake). One live table per key;
    # repeat invocations on the same corpus reuse them, a new corpus
    # swaps them out.
    from .cachepool import swap_persist

    # sig derives from the PERSISTED sh (r13 optimization round): the
    # regex shingling pass — the CPU-dense half of the sketch — runs
    # once while sh materializes, and the signature kernel reads the
    # cached arrays (measured on the l2 path, see OPTIMIZATION_r13.md).
    # sig's one consumer is the pooled `banded`, so sig is not pooled.
    sh = swap_persist("minhash.sh", shingle_table(docs, "doc_id", "text"))
    # `banded` has two or more consumers (the band join's two sides,
    # plus the guard's size agg): persist the slim (id, band, key)
    # table so signatures and keys are computed once.
    banded = swap_persist(
        "minhash.banded", band_table(signature_from_shingles(sh), "doc_id")
    )
    cand = guarded_band_self_join(
        banded, "doc_id", ("band", "key"), max_bucket_size=max_bucket_size
    )
    return jaccard_verify(cand, sh, sh, "doc_a", "doc_b", NEAR_DUP_THRESHOLD)
