"""Skew-mitigation joins (task brief: "salting for skew"; SURVEY.md §4).

AQE's skew-join split handles most cases at runtime; explicit salting
is the deterministic fallback for joins AQE can't split (e.g. when the
skewed side must build the hash table, or on engines/configs without
AQE). For ``how`` in ('inner', 'left') the transform is
result-identical to the plain join — only the physical key distribution
changes — so the DuckDB twin is simply the unsalted join. Other join
types are rejected: an unmatched SMALL-side row is replicated once per
salt by the explode, so 'right'/'full' would emit N_SALTS null-padded
duplicates of it; supporting them would need a post-join dedup that
costs more than the salting saves.

Mechanics: the big (skewed) side gets a uniform salt in [0, S); the
small side is replicated S× with every salt value; the join key becomes
(key, salt). A key with N rows now spreads over S reducers instead of
one. Cost: S× replication of the small side — keep S modest (8-32) and
the small side genuinely small.

Salt derivation must be DETERMINISTIC here (oracle!): we hash a unique
column of the big side (pmod(xxhash64(id), S)) instead of rand(). In
production rand() is fine — the result is join-key-invariant either
way.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

_SALT = "__x8313_salt"
#: salt values S: a hot key spreads over this many shuffle partitions
N_SALTS = 16


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str,
    salt_by: str,
    how: str = "inner",
) -> DataFrame:
    """Join ``big`` ⋈ ``small`` on column ``on`` with the big side's
    hot keys spread over ``N_SALTS`` shuffle partitions.

    ``salt_by`` is any well-distributed column of ``big`` (a unique id)
    used to derive the deterministic salt. Only 'inner' and 'left' are
    result-identical to the unsalted join (module docstring); others
    raise rather than silently duplicate unmatched small-side rows.
    """
    if how not in ("inner", "left"):
        raise ValueError(
            f"salted_join supports how='inner'|'left', got {how!r}: the "
            "small side is replicated N_SALTS times, so outer variants "
            "would duplicate its unmatched rows"
        )
    salted_big = big.withColumn(
        _SALT, F.pmod(F.xxhash64(F.col(salt_by)), F.lit(N_SALTS)).cast("int")
    )
    salts = F.explode(F.sequence(F.lit(0), F.lit(N_SALTS - 1))).alias(_SALT)
    salted_small = small.select("*", salts)
    joined = salted_big.join(salted_small, on=[on, _SALT], how=how)
    return joined.drop(_SALT)
