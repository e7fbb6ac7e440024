"""MinHash + LSH near-duplicate detection (SURVEY.md §2.10 L2).

Classic shingle → minhash → band-bucket → candidate-join pipeline
(the production sketch path is the integer-exact Arrow kernel in
``signature_from_shingles`` — see ``signature_table`` — with the
higher-order-function fold kept as the cross-checked reference form):

1. k-word shingles per doc (functions/text.py `shingles`).
2. Each shingle hashed to a 31-bit integer via md5 (cross-engine
   reproducible — see functions/text.py `fingerprint` for the trick).
3. ``N_HASHES`` universal-hash permutations ``(A_i * h + B_i) mod P``;
   the signature is the per-permutation minimum.
4. Signatures are split into ``BANDS`` bands of ``ROWS_PER_BAND``; docs
   sharing any band key become candidate pairs (one exploded
   shuffle-join on the band key — O(candidates), never O(n²)).
5. Candidates are verified with exact shingle-set Jaccard and filtered
   at the caller's threshold.

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


def shingle_stage(
    docs: DataFrame, id_col: str, text_col: str, k: int = _SHINGLE_K
) -> DataFrame:
    """(doc_id, sh, sig) with each intermediate MATERIALIZED as its own
    projection column. Catalyst inlines expression trees into
    higher-order lambdas, so composing these as one nested expression
    re-evaluates split() per element_at and md5 per permutation (32×) —
    staging through column attributes computes each exactly once per row.

    This is the HOF-fold reference form; ``signature_table`` below is
    the production sketch path (identical signatures).
    """
    return (
        docs.select(
            F.col(id_col).alias("doc_id"), shingles_rx(F.col(text_col), k).alias("sh")
        )
        .withColumn("h", shingle_hashes(F.col("sh")))
        .select("doc_id", "sh", minhash_signature(F.col("h")).alias("sig"))
    )


#: permutation constants, materialized as Python ints so the native
#: sketch path can inline them as literals (same derivation as
#: _perm_a/_perm_b, asserted equal in tests/test_minhash_unit.py)
PERM_A = [(i * 2_654_435_761 + 1) % MINHASH_P for i in range(N_HASHES)]
PERM_B = [(i * 40_503 + 17) % MINHASH_P for i in range(N_HASHES)]


def shingle_table(
    docs: DataFrame, id_col: str, text_col: str, k: int = _SHINGLE_K
) -> DataFrame:
    """(doc_id, sh): distinct shingle arrays, shingle-less docs dropped."""
    return docs.select(
        F.col(id_col).alias("doc_id"), shingles_rx(F.col(text_col), k).alias("sh")
    ).filter(F.size("sh") > 0)


def signature_table(
    docs: DataFrame, id_col: str, text_col: str, k: int = _SHINGLE_K
) -> DataFrame:
    """(doc_id, sig): ``shingle_table`` then the ``signature_from_shingles``
    numpy kernel (map-only, no exchange at all — see its docstring).
    Docs with < k words produce no rows (same semantics as filtering
    empty shingle arrays). Bit-identical to the ``shingle_stage`` HOF
    fold (``minhash_signature``), the reference form it is asserted
    against in tests/test_minhash_unit.py."""
    return signature_from_shingles(shingle_table(docs, id_col, text_col, k))


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
    bit-for-bit — asserted against ``signature_table`` on every fixture
    doc in tests/test_minhash_unit.py. Rows with empty shingle arrays
    are dropped exactly as exploding an empty array emits no rows
    (``shingle_table`` already filters them; the kernel re-filters
    defensively so both entry points agree).

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


def minhash_signature(hashes: Column, n_hashes: int = N_HASHES) -> Column:
    """array<bigint> signature: sig[i] = min over shingles of perm_i(h).

    Computed as a FOLD over shingles with an n_hashes-wide accumulator
    (element-wise least), not as a transform-per-permutation: Catalyst
    inlines referenced columns into lambda bodies, so the per-permutation
    form re-evaluates the md5 shingle hashing n_hashes times (measured
    10× slower). The fold touches each hash exactly once.

    Empty shingle arrays yield an all-null signature (matches the
    DuckDB twin's list_min([]) = NULL semantics).
    """
    idx = F.sequence(F.lit(0), F.lit(n_hashes - 1))
    init = F.array_repeat(F.lit(MINHASH_P).cast("bigint"), n_hashes)
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


def band_keys(sig: Column, bands: int = BANDS, rows: int = ROWS_PER_BAND) -> Column:
    """array<string>: one join key per band — the band's signature slice."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.concat_ws(
            "-", F.transform(F.slice(sig, b * rows + 1, rows), lambda x: x.cast("string"))
        ),
    )


def near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.3,
    k: int = _SHINGLE_K,
    cache: bool = True,
    max_bucket_size: int | None = DEFAULT_MAX_BUCKET_SIZE,
    log_dropped: bool = False,
    on_hot: str = "drop",
) -> DataFrame:
    """LSH candidates + exact-Jaccard verify → (doc_a, doc_b, jaccard).

    Emits each qualifying pair once (doc_a < doc_b). ``threshold`` is on
    the EXACT shingle Jaccard of candidates; banding only bounds which
    pairs get verified.

    ``max_bucket_size`` caps band buckets (operators/bandjoin.py): a
    degenerate bucket of B docs otherwise emits B² candidates. The
    default cap is live in the registered query — it cannot trigger on
    a corpus without a 5000-strong near-identical cluster, so the
    DuckDB twin's exact band predicate still holds on any test corpus,
    while a real boilerplate-heavy crawl gets the bound. ``None``
    disables the guard (exact band semantics unconditionally).

    ``on_hot`` picks what happens to buckets over the cap: ``"drop"``
    (bounded work, reduced recall — the default) or ``"salt"``
    (recall-complete: hot buckets are block-paired through
    ``salted_band_self_join``, spreading their B² candidates over
    parallel tasks instead of one straggler; full recall IS B² work,
    so this bounds latency, not volume).

    The sketch feeds four plan branches (both sides of the band join,
    both sides of the verify join); ``cache`` persists the sig and sh
    tables so each is computed once (measured 2.7× end-to-end). At
    100 TB, checkpoint those stages to parquet instead — same idea,
    spill-proof and resumable.
    """
    # Shingling/hashing is CPU-dense per byte — spread it across the
    # cluster even when the input is a single small split (see
    # queries/corpus_q.py for the same pattern + measurements).
    docs = docs.repartition(docs.sparkSession.sparkContext.defaultParallelism)
    # signature_table emits no row for shingle-less docs (< k words) —
    # they cannot be near-dups under this metric, and their all-null
    # signatures would otherwise collapse every band key to "" and
    # cross-match (and the verify Jaccard would divide 0/0, an ANSI
    # error). Matches the SQL twin's NULL-comparison semantics.
    sh = shingle_table(docs, id_col, text_col, k)
    if cache:
        # Through the keyed swap-pool, not raw persist: raw persists
        # here are never released (the returned plan still references
        # them), so every invocation leaked cache entries for the
        # session lifetime, and they bypassed the materialization
        # ledger (found via the r10 re-execution gate's ambient-cache
        # flake). One live table per key; repeat invocations on the
        # same corpus reuse them, a new corpus swaps them out.
        #
        # sig derives from the PERSISTED sh (r13 optimization round):
        # the regex shingling pass — the CPU-dense half of the sketch —
        # runs once while sh materializes, and the signature aggregate
        # reads the cached arrays, instead of each table re-shingling
        # the corpus from text (bit-identical signatures; measured on
        # the l2 path, see OPTIMIZATION_r13.md).
        from .cachepool import swap_persist

        sh = swap_persist("minhash.sh", sh)
        sigs = swap_persist("minhash.sigs", signature_from_shingles(sh))
    else:
        sigs = signature_table(docs, id_col, text_col, k)

    banded = sigs.select(
        "doc_id",
        F.posexplode(band_keys(F.col("sig"))).alias("band", "key"),
    )
    if cache and max_bucket_size is not None:
        # The guard adds a third consumer of `banded` (the size agg, on
        # top of the join's two sides). Persist the slim exploded table
        # — (id, band, key) only, bands× rows but narrow — so band keys
        # are computed once and the guard's extra pass reads cached rows.
        from .cachepool import swap_persist

        banded = swap_persist("minhash.banded", banded)
    if on_hot not in ("drop", "salt"):
        raise ValueError(f"on_hot must be 'drop' or 'salt', got {on_hot!r}")
    if on_hot == "salt" and max_bucket_size is not None:
        from .bandjoin import salted_band_self_join

        cand = salted_band_self_join(
            banded,
            "doc_id",
            ("band", "key"),
            max_bucket_size=max_bucket_size,
        )
    else:
        cand = guarded_band_self_join(
            banded,
            "doc_id",
            ("band", "key"),
            max_bucket_size=max_bucket_size,
            log_dropped=log_dropped,
            log_label="minhash-lsh",
        )

    jac = (
        F.size(F.array_intersect(F.col("sa"), F.col("sb"))).cast("double")
        / F.size(F.array_distinct(F.concat(F.col("sa"), F.col("sb"))))
    )
    return (
        cand.join(sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sa")), "doc_a")
        .join(sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sb")), "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def band_candidate_prob(s: float, bands: int, rows: int) -> float:
    """P(candidate | true Jaccard s) under the banding scheme:
    ``1 - (1 - s^rows)^bands`` — the LSH S-curve (Mining of Massive
    Datasets §3.4, public text). Driver-side math, no Spark."""
    return 1.0 - (1.0 - s**rows) ** bands


def tune_bands(
    threshold: float, n_hashes: int = N_HASHES, steps: int = 1000
) -> tuple[int, int]:
    """Pick (bands, rows) with bands*rows == n_hashes minimizing the
    S-curve's total error mass around ``threshold``: the integral of
    P(candidate) below the threshold (false-positive area, paid in
    verify-join work) plus the integral of P(miss) above it
    (false-negative area, paid in recall). Candidates are the divisor
    pairs of n_hashes, so the search space is tiny and exact; the
    integrals are midpoint sums over ``steps`` cells, deterministic for
    a given steps.

    Why it matters at 100 TB: the fixed (8, 4) default centers the
    curve at (1/8)^(1/4) ≈ 0.595. A pipeline hunting t = 0.9 near-exact
    dups with that split floods the verify join with sub-threshold
    candidates; tune_bands(0.9, 32) -> (2, 16) moves the knee to ≈ 0.96
    and the false-positive area drops by ~20x. The tuner makes that
    trade explicit instead of hard-coded."""
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0,1): {threshold}")
    best: tuple[float, int, int] | None = None
    for rows in range(1, n_hashes + 1):
        if n_hashes % rows:
            continue
        bands = n_hashes // rows
        err = 0.0
        for i in range(steps):
            s = (i + 0.5) / steps
            p = band_candidate_prob(s, bands, rows)
            err += (p if s < threshold else 1.0 - p) / steps
        if best is None or err < best[0]:
            best = (err, bands, rows)
    assert best is not None
    return best[1], best[2]
