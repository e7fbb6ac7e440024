"""IVF-PQ approximate nearest neighbour — the composed production ANN
shape (Jégou et al., *Product Quantization for Nearest Neighbor
Search*, public paper; the FAISS ``IVFx,PQy`` index): an inverted-file
coarse quantizer restricts the search to ``nprobe`` buckets, and
product-quantized RESIDUAL codes replace raw vectors inside them.

The repo's registered queries hold the two halves separately —
sim_ivf_topk / sim_ivf_multiprobe (IVF buckets, exact cosine inside)
and sim_pq_topk (PQ codes, full scan). This operator is their
composition, which is where the 100 TB arithmetic actually lands:

    scan bandwidth  = codes in probed buckets only
                      (M bytes/vector instead of 4·D, and only
                       nprobe/K of the corpus touched)
    candidate count = Σ probed-bucket sizes  — the IVF growth law
    quantization    = on residuals v − c(v), whose variance is what
                      remains AFTER coarse assignment, so the same
                      codebook bits buy strictly more precision than
                      whole-vector PQ

Everything is deterministic and data-derived (house seeding rule): the
coarse centroids are the ``k_coarse`` lowest-id vectors; the per-block
codebooks are the residual blocks of the next ``k_code`` lowest-id
vectors (NOT the coarse seeds themselves — a coarse seed's residual is
the zero vector, which would degenerate the codebook). Same corpus →
same index → same answer on any cluster.

Plan shape: every centroid/codebook table is a broadcast (k_coarse and
M·k_code rows); the only corpus-wide stages are the assignment argmin
(map-side WindowGroupLimit, one shuffle on vec_id) and the final
ADC aggregation, whose input is candidate-volume-sized. The raw
embedding column never crosses a shuffle after encoding.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window


@dataclass(frozen=True)
class IvfPqIndex:
    m: int
    sub: int
    assign: DataFrame  # (vec_id, cent_id)
    centroids: DataFrame  # (cent_id, cvec)
    codebooks: DataFrame  # (m, code, bvec)
    codes: DataFrame  # (vec_id, cent_id, m, code)


def _d2(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _argmin_assign(
    vecs: DataFrame,
    cents: DataFrame,
    vec_col: str,
    part_cols: list[str],
    keep: list[Column],
    rank: int = 1,
) -> DataFrame:
    """Nearest-centroid(s) by L2: broadcast cross, windowed argmin
    (compiles to a map-side WindowGroupLimit — each partition keeps its
    top-``rank`` before any exchange)."""
    w = Window.partitionBy(*part_cols).orderBy("d2", "cent_id")
    return (
        vecs.crossJoin(F.broadcast(cents))
        .withColumn("d2", _d2(F.col(vec_col), F.col("cvec")))
        .withColumn("crn", F.row_number().over(w))
        .filter(F.col("crn") <= rank)
        .select(*keep)
    )


def ivfpq_index(
    vecs: DataFrame,
    *,
    k_coarse: int = 16,
    m: int = 8,
    sub: int = 8,
    k_code: int = 16,
) -> IvfPqIndex:
    """Build the index over ``vecs`` (vec_id, embedding): coarse
    assignment, per-block residual codebooks, and the
    M-byte-per-vector code table."""
    v = vecs.select("vec_id", F.col("embedding").alias("v"))
    cents = v.filter(F.col("vec_id") < k_coarse).select(
        F.col("vec_id").alias("cent_id"), F.col("v").alias("cvec")
    )
    assigned = _argmin_assign(
        v,
        cents,
        "v",
        ["vec_id"],
        [
            F.col("vec_id"),
            F.col("cent_id"),
            F.zip_with(
                "v", "cvec", lambda x, y: x.cast("double") - y.cast("double")
            ).alias("resid"),
        ],
    )
    rblocks = assigned.select(
        "vec_id",
        "cent_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(mi).alias("m"),
                        F.slice("resid", 1 + sub * mi, sub).alias("rvec"),
                    )
                    for mi in range(m)
                ]
            )
        ).alias("blk"),
    ).select("vec_id", "cent_id", F.col("blk.m").alias("m"), F.col("blk.rvec").alias("rvec"))
    codebooks = rblocks.filter(
        (F.col("vec_id") >= k_coarse) & (F.col("vec_id") < k_coarse + k_code)
    ).select(
        "m",
        (F.col("vec_id") - F.lit(k_coarse)).alias("code"),
        F.col("rvec").alias("bvec"),
    )
    cw = Window.partitionBy("vec_id", "m").orderBy("d2", "code")
    codes = (
        rblocks.join(F.broadcast(codebooks), "m")
        .withColumn("d2", _d2(F.col("rvec"), F.col("bvec")))
        .withColumn("crn", F.row_number().over(cw))
        .filter(F.col("crn") == 1)
        .select("vec_id", "cent_id", "m", "code")
    )
    return IvfPqIndex(
        m=m,
        sub=sub,
        assign=assigned.select("vec_id", "cent_id"),
        centroids=cents,
        codebooks=codebooks,
        codes=codes,
    )


def ivfpq_search(
    index: IvfPqIndex,
    queries: DataFrame,
    *,
    nprobe: int = 4,
    topk: int = 5,
    exclude_self: bool = False,
) -> DataFrame:
    """(probe_id, vec_id, adc_d2, rn ≤ topk): asymmetric-distance top-k
    of ``queries`` (probe_id, embedding) over the probed buckets. The
    per-query work is one distance table (nprobe · M · k_code entries —
    broadcast-sized) and one aggregation over its bucket candidates; raw
    vectors never participate.

    The ADC total is an m-ORDERED fixed add chain over per-block
    conditional aggregates (the sim_pq_topk fold discipline), NOT a
    plain sum over shuffle-ordered rows — double addition is
    non-associative, and a registered query's oracle twin can only
    reproduce the exact IEEE sequence if the fold order is pinned on
    both engines. ``exclude_self`` drops vec_id == probe_id BEFORE
    ranking (the corpus-probe convention where probes are corpus
    members).

    The distance table is broadcast, which assumes the BOUNDED-PROBE
    contract (the l10_knn_ivf fixed-budget posture): it is probes ×
    nprobe × M × k_code rows — linear in the probe count, NOT
    constant — so an unbounded probe set needs the plain shuffle join
    on (cent_id, m, code) instead of an over-limit broadcast."""
    q = queries.select("probe_id", F.col("embedding").alias("qv"))
    probed = _argmin_assign(
        q,
        index.centroids,
        "qv",
        ["probe_id"],
        [
            F.col("probe_id"),
            F.col("cent_id"),
            F.zip_with(
                "qv", "cvec", lambda x, y: x.cast("double") - y.cast("double")
            ).alias("qres"),
        ],
        rank=nprobe,
    )
    qblocks = probed.select(
        "probe_id",
        "cent_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(mi).alias("m"),
                        F.slice("qres", 1 + index.sub * mi, index.sub).alias("qvec"),
                    )
                    for mi in range(index.m)
                ]
            )
        ).alias("blk"),
    ).select(
        "probe_id", "cent_id", F.col("blk.m").alias("m"), F.col("blk.qvec").alias("qvec")
    )
    dtable = (
        qblocks.join(F.broadcast(index.codebooks), "m")
        .select(
            "probe_id",
            "cent_id",
            "m",
            "code",
            _d2(F.col("qvec"), F.col("bvec")).alias("d2m"),
        )
    )
    w = Window.partitionBy("probe_id").orderBy("adc_d2", "vec_id")
    cand = index.codes.join(F.broadcast(dtable), ["cent_id", "m", "code"])
    if exclude_self:
        cand = cand.filter(F.col("vec_id") != F.col("probe_id"))
    blocks_sum = cand.groupBy("probe_id", "vec_id").agg(
        *[
            F.sum(F.when(F.col("m") == mi, F.col("d2m"))).alias(f"__d{mi}")
            for mi in range(index.m)
        ]
    )
    total = F.col("__d0")
    for mi in range(1, index.m):
        total = total + F.col(f"__d{mi}")
    return (
        blocks_sum.select("probe_id", "vec_id", total.alias("adc_d2"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= topk)
        .select("probe_id", "vec_id", "adc_d2", "rn")
    )
