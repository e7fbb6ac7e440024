"""Embedding-dimension covariance matrix + power-iteration top component.

The feature-statistics pair every embedding pipeline eventually needs:
the d×d covariance of the embedding dimensions (whitening, feature
drift, redundancy pruning) and its dominant eigenvector (the PCA
direction — mean-centering axis for ABTT-style embedding post-
processing, or the first projection of a dimensionality reduction).

Exactness discipline (the house integer rules):
- Values are FLOOR-quantized to integer units (``floor(x·qscale)``) —
  floor has no tie semantics, so quantization is bit-identical on any
  engine (round() half-policies differ between engines on arbitrary
  doubles).
- The covariance is reported as the INTEGER NUMERATOR
  ``n·Σ(qi·qj) − Σqi·Σqj`` plus ``n`` — no division, so cross-engine
  exact and mergeable across shards (the a17 moment-partial idea).
  That numerator grows ~n²·(max|q|)², so int64 headroom is a REAL
  bound: at qscale=1000 with unit-range embeddings it wraps around
  n ≈ 3·10⁶ rows. ``dim_comoment`` therefore fails fast (in-plan
  ``assert_true``, checked per (i,j) cell against the observed
  max|q|) instead of silently wrapping; past that bound, keep the
  per-shard PARTIAL moments (n, Σqi, Σqj, Σqiqj — each only
  ~n·max|q|²) and form the numerator after a guarded merge, or lower
  qscale.
- Power iteration runs a FIXED number of rounds with truncating
  integer division (Spark ``div`` ≡ DuckDB ``//``, both
  truncate-toward-zero on BIGINT) and L∞ normalization, so the whole
  iteration is integer-exact and a chained-CTE twin can replay it.

Scale shape: the pair expansion happens IN-ROW (flatten/transform over
the vector, d(d+1)/2 structs per row) — a map-only pass; the only
shuffle is the final d² -group aggregate, which partial-combines
map-side to at most d(d+1)/2 rows per task regardless of corpus size.
The iteration then runs on a d×d table — driver-scale data, cluster-
exact arithmetic. CPU note: the in-row expansion is interpreted HOF
work (~d²/2 per row); for a throughput-bound corpus sweep the same
integer outer products vectorize in an Arrow ``mapInPandas`` batch
(operators/annscan.py discipline) with identical results.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from ..audit import audited_checkpoint

DEFAULT_QSCALE = 1_000
#: power iteration: fixed rounds, the ~scale the iterate is normalized
#: to, and the truncating divisor that pre-shrinks matrix entries
POWER_ROUNDS = 4
POWER_SCALE = 1_000_000
POWER_CDIV = 1_000


def quantized_vec(vec, qscale: int = DEFAULT_QSCALE):
    """array<bigint>: floor(x·qscale) per element (tie-free)."""
    return F.transform(
        vec, lambda x: F.floor(x.cast("double") * qscale).cast("bigint")
    )


def dim_comoment(
    emb: DataFrame,
    dim: int = 64,
    qscale: int = DEFAULT_QSCALE,
) -> DataFrame:
    """(i, j, n, cov_num) over ``emb.embedding`` for 1 ≤ i ≤ j ≤ dim, with
    ``cov_num = n·Σ(qi·qj) − Σqi·Σqj`` in quantized integer units
    (divide by n·(n−1)·qscale² for the sample covariance — left to the
    caller precisely so the table stays integer-exact and mergeable).

    Overflow guard: |cov_num| ≤ 2·n²·max|qi|·max|qj|, and every
    intermediate (n·Σqq, Σqi·Σqj) is bounded by half that — so each
    cell asserts ``2·n²·max|qi|·max|qj| ≤ 2⁶²`` (double arithmetic, a
    2× safety margin under int64) and RAISES on violation rather than
    silently wrapping (module docstring). The guard uses the OBSERVED
    per-cell maxima, not the worst case, so well-scaled data keeps the
    full documented headroom."""
    q = quantized_vec(F.col("embedding"), qscale)
    idx = F.sequence(F.lit(1), F.lit(dim))
    pairs = F.flatten(
        F.transform(
            idx,
            lambda i: F.transform(
                F.sequence(i, F.lit(dim)),
                lambda j: F.struct(
                    i.cast("int").alias("i"),
                    j.cast("int").alias("j"),
                    (
                        F.element_at(F.col("__q"), i.cast("int"))
                        * F.element_at(F.col("__q"), j.cast("int"))
                    ).alias("qq"),
                    F.element_at(F.col("__q"), i.cast("int")).alias("qi"),
                    F.element_at(F.col("__q"), j.cast("int")).alias("qj"),
                ),
            ),
        )
    )
    ex = (
        emb.select(q.alias("__q"))
        .select(F.explode(pairs).alias("p"))
        .select("p.i", "p.j", "p.qq", "p.qi", "p.qj")
    )
    agg = ex.groupBy("i", "j").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qq").alias("sqq"),
        F.sum("qi").alias("sqi"),
        F.sum("qj").alias("sqj"),
        F.max(F.abs(F.col("qi"))).alias("mqi"),
        F.max(F.abs(F.col("qj"))).alias("mqj"),
    )
    n_d = F.col("n").cast("double")
    headroom_ok = (
        F.lit(2.0) * n_d * n_d * F.col("mqi").cast("double")
        * F.col("mqj").cast("double")
    ) <= F.lit(float(2**62))
    guard = F.assert_true(
        headroom_ok,
        F.concat(
            F.lit("dim_comoment int64 overflow: 2*n^2*max|qi|*max|qj| > 2^62 "
                  "at cell ("),
            F.col("i").cast("string"), F.lit(","), F.col("j").cast("string"),
            F.lit(") with n="), F.col("n").cast("string"),
            F.lit(" — lower qscale or merge per-shard partial moments "
                  "(see module docstring)"),
        ),
    )
    return agg.select(
        "i",
        "j",
        "n",
        F.when(
            guard.isNull(),
            F.col("n") * F.col("sqq") - F.col("sqi") * F.col("sqj"),
        ).alias("cov_num"),
    )


def full_matrix(com: DataFrame) -> DataFrame:
    """Mirror the upper-triangular co-moment table to the full symmetric
    (i, j, c) matrix."""
    up = com.select("i", "j", F.col("cov_num").alias("c"))
    lo = com.filter(F.col("i") != F.col("j")).select(
        F.col("j").alias("i"), F.col("i").alias("j"), F.col("cov_num").alias("c")
    )
    return up.unionByName(lo)


def pca_power_topvec(
    cmat: DataFrame,
    dim: int,
    ledger_key: str = "covariance.power",
) -> DataFrame:
    """(i, v): the dominant eigenvector direction after ``POWER_ROUNDS``
    fixed power-iteration steps, L∞-normalized to ~``POWER_SCALE``
    integer units.

    ``cmat`` is the full symmetric (i, j, c) integer matrix; entries
    are pre-shrunk by truncating ``div POWER_CDIV`` so the matvec
    ``Σ_j c'·v`` stays far from int64 range (headroom documented in the
    unit test). Each round: matvec → m = max|raw| → v = raw div
    (m div POWER_SCALE + 1) — the ``+1`` keeps the divisor ≥ 1 and the
    result ~POWER_SCALE. Covariance is PSD, so the dominant eigenvalue is
    non-negative and the iteration cannot sign-flip between rounds.
    Deterministic start: v₀ = POWER_SCALE for every dimension."""
    spark = cmat.sparkSession
    cm = audited_checkpoint(
        f"{ledger_key}.cmat",
        cmat.select("i", "j", F.expr(f"c div {POWER_CDIV}").alias("c")),
    )
    v = spark.range(1, dim + 1).select(
        F.col("id").cast("int").alias("i"), F.lit(POWER_SCALE).cast("bigint").alias("v")
    )
    for _ in range(POWER_ROUNDS):
        raw = (
            cm.join(v.select(F.col("i").alias("j"), "v"), "j")
            .groupBy("i")
            .agg(F.sum(F.col("c") * F.col("v")).alias("raw"))
        )
        raw = audited_checkpoint(f"{ledger_key}.round", raw)
        m = raw.agg(F.max(F.abs(F.col("raw"))).alias("m"))
        # single-row scalar cross — the g1 per-iteration idiom
        v = raw.crossJoin(F.broadcast(m)).select(
            "i",
            F.expr(f"raw div (m div {POWER_SCALE} + 1)").alias("v"),
        )
    return v
