"""Multi-key entity-resolution blocking — the recall upgrade of
p_er_blocked_match (r7 registration candidate, ROADMAP.md).

A single blocking key embodies ONE corruption model (the registered
query's first-token + length-band key assumes exactly one trailing
character dropped); real dirty feeds mix corruption modes, and the
production answer (Splink/dedupe's blocking-rule lists) is a UNION of
cheap candidate generators, deduped, then scored once:

    candidates = dedup( ∪_k block_k(dirty, catalog) )
    matches    = best_match(candidates)

Each generator here is an equi-join (never a cross join), so candidate
volume stays Σ block² per key; the union adds recall at additive cost
and the dedup guarantees the scorer sees each (dirty, candidate) name
pair once no matter how many keys proposed it.

Frames: ``dnames`` carries distinct ``dirty_name`` (the interned probe
side — see the registered query's docstring for why interning, not
row-level scoring); ``cnames`` carries distinct ``p_name`` with its
min-key representative ``cand_id``.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

PAIR_COLS = ("dirty_name", "p_name", "cand_id")


def band_block_pairs(dnames: DataFrame, cnames: DataFrame) -> DataFrame:
    """First-token equality + a catalog second token exactly one
    character longer — the drop-one-trailing-character corruption
    model."""
    d = dnames.select(
        "dirty_name",
        F.element_at(F.split("dirty_name", " "), 1).alias("b1"),
        F.length(F.element_at(F.split("dirty_name", " "), 2)).alias("b2"),
    )
    c = cnames.select(
        "p_name",
        "cand_id",
        F.element_at(F.split("p_name", " "), 1).alias("cb1"),
        F.length(F.element_at(F.split("p_name", " "), 2)).alias("cb2"),
    )
    return d.join(
        c, (d.b1 == c.cb1) & (c.cb2 == d.b2 + F.lit(1))
    ).select(*PAIR_COLS)


def qgram_block_pairs(dnames: DataFrame, cnames: DataFrame) -> DataFrame:
    """Shared character-3-gram blocking: a candidate pair exists iff the
    two names share at least one q-gram (q = 3) —
    corruption-model-agnostic (recovers length shifts, infix edits) at
    the cost of bigger blocks. Names are PADDED with q−1 boundary
    markers on each side (the standard positional-q-gram trick): without
    padding, a dirty name shorter than q characters produces only
    sub-length grams that can never equal a full-length gram from the
    catalog, so exactly the most-corrupted probes would silently get
    zero candidates; padded, a 2-char remnant still shares its
    '##a'-style edge grams with its source name. The
    explode→equi-join→distinct shape is the l2c inverted-index pattern;
    hot grams are the usual cap-or-salt mega-bucket story."""
    q = 3
    pad = "#" * (q - 1)

    def grams(col: str, out: str) -> F.Column:
        padded = F.concat(F.lit(pad), F.col(col), F.lit(pad))
        n = F.length(padded) - (q - 1)
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n),
                lambda i: padded.substr(i, F.lit(q)),
            )
        ).alias(out)

    d = dnames.select(
        "dirty_name", F.explode(grams("dirty_name", "g")).alias("gram")
    )
    c = cnames.select(
        "p_name", "cand_id", F.explode(grams("p_name", "g")).alias("gram")
    )
    return (
        d.join(c, "gram")
        .select(*PAIR_COLS)
        .dropDuplicates(list(PAIR_COLS[:2]))
    )


def multikey_candidates(*pair_frames: DataFrame) -> DataFrame:
    """Union the per-key candidate sets, dedup per (dirty, candidate)
    name pair so the scorer runs once per pair regardless of how many
    blocking keys proposed it."""
    out = pair_frames[0]
    for f in pair_frames[1:]:
        out = out.unionByName(f)
    return out.dropDuplicates(list(PAIR_COLS[:2]))


def best_match(pairs: DataFrame, max_score: int | None = None) -> DataFrame:
    """Levenshtein-score the candidate pairs; keep the top-1 per dirty
    name by (score, cand_id) — the registered query's pinned tiebreak.
    ``max_score`` optionally drops matches worse than the threshold
    (an unmatchable dirty name then yields no row, which is the honest
    record-linkage outcome)."""
    w = Window.partitionBy("dirty_name").orderBy("score", "cand_id")
    scored = pairs.select(
        "dirty_name",
        "cand_id",
        F.col("p_name").alias("matched_name"),
        F.levenshtein("dirty_name", "p_name").alias("score"),
    )
    if max_score is not None:
        scored = scored.filter(F.col("score") <= max_score)
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
