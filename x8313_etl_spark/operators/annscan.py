"""Probe-set cosine scan — the fast exact-search path for similarity
queries (SURVEY.md §2.10 L3/L4).

Shape: a bounded probe set (collected once — the same driver hop a
broadcast join performs, documented as the operator's contract) rides
into a ``mapInPandas`` closure as a numpy matrix; the corpus streams
through in Arrow batches and each batch scores against ALL probes with
vectorized numpy. One pass over the corpus, no join, no shuffle until
the (row, probe) scores come out.

Determinism: the accumulation loops run SEQUENTIALLY over dimensions
(vectorized across rows), which is bit-identical to the JVM
``aggregate`` fold and the DuckDB ``list_reduce`` twin — verified 0
mismatches over the fixture corpus. numpy elementwise *, +, sqrt and
the final division are the same IEEE doubles both engines produce.
(Plain ``np.dot``/BLAS would NOT be: it reorders the accumulation.)

Scale: 4× faster than the expression fold at fixture scale and the gap
widens with corpus size (interpreted HOF lambdas pay per element;
this pays per Arrow batch). Probe count is the closure size — keep it
≤ ~10⁴ vectors; beyond that, switch to the bucketed paths
(sim_ivf_topk / sim_lsh_neardup in queries/similarity_q.py).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window


def _seq_norms(mat):
    """Row norms with dimension-sequential accumulation (fold order)."""
    import numpy as np

    acc = np.zeros(len(mat))
    for d in range(mat.shape[1]):
        acc = acc + mat[:, d] * mat[:, d]
    return np.sqrt(acc)


def cosine_probe_scan(corpus: DataFrame, probes: DataFrame) -> DataFrame:
    """(vec_id, probe_id, cos_sim) for every corpus×probe pair with
    vec_id != probe_id; both sides carry (vec_id, embedding).

    ``probes`` must be bounded (it is collected into the task closure);
    ``corpus`` streams. cos = seq-dot / (seq-norm · seq-norm).
    """
    import numpy as np

    prows = probes.select("vec_id", "embedding").collect()
    pids = np.array([r[0] for r in prows], dtype=np.int64)
    pmat = np.vstack([np.asarray(r[1], dtype=np.float64) for r in prows])
    pnorms = _seq_norms(pmat)

    def scan(batches):
        import pandas as pd

        for pdf in batches:
            mb = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            acc = np.zeros((len(mb), len(pmat)))
            for d in range(mb.shape[1]):
                acc = acc + np.outer(mb[:, d], pmat[:, d])
            vnorms = _seq_norms(mb)
            cos = acc / np.outer(vnorms, pnorms)
            b, p = cos.shape
            yield pd.DataFrame(
                {
                    "vec_id": np.repeat(pdf["vec_id"].to_numpy(), p),
                    "probe_id": np.tile(pids, b),
                    "cos_sim": cos.ravel(),
                }
            )

    return (
        corpus.select("vec_id", "embedding")
        .mapInPandas(scan, "vec_id long, probe_id long, cos_sim double")
        .filter(F.col("vec_id") != F.col("probe_id"))
    )


def cosine_probe_topk(corpus: DataFrame, probes: DataFrame, k: int) -> DataFrame:
    """Exact top-k per probe: scan + rank window (cos desc, id asc
    tiebreak) — WindowGroupLimit keeps the shuffle at k rows per probe
    per input partition."""
    scored = cosine_probe_scan(corpus, probes)
    w = Window.partitionBy("probe_id").orderBy(
        F.col("cos_sim").desc(), F.col("vec_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )


def hyperplane_sketch(corpus: DataFrame, planes: list[list[float]]) -> DataFrame:
    """(vec_id, sk bigint, vnorm double) per (vec_id, embedding) row:
    bit j of sk = 1 iff the dimension-sequential dot with plane j is
    > 0. Same numpy fold discipline as cosine_probe_scan, so the sketch
    bits (and the norms reused by the verify stage) are bit-identical
    to the expression/SQL forms."""
    import numpy as np

    pm = np.asarray(planes, dtype=np.float64)  # J x D
    weights = (1 << np.arange(len(pm), dtype=np.int64))

    def scan(batches):
        import pandas as pd

        for pdf in batches:
            mb = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            acc = np.zeros((len(mb), len(pm)))
            for d in range(mb.shape[1]):
                acc = acc + np.outer(mb[:, d], pm[:, d])
            sk = ((acc > 0).astype(np.int64) * weights).sum(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "sk": sk,
                    "vnorm": _seq_norms(mb),
                }
            )

    return corpus.select("vec_id", "embedding").mapInPandas(
        scan, "vec_id long, sk bigint, vnorm double"
    )
