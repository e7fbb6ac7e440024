"""Skew-mitigation joins (task brief: "salting for skew"; SURVEY.md §4).

AQE's skew-join split handles most cases at runtime; explicit salting
is the deterministic fallback for joins AQE can't split (e.g. when the
skewed side must build the hash table, or on engines/configs without
AQE). The join is INNER, which makes the transform result-identical to
the plain join — only the physical key distribution changes — so the
DuckDB twin is simply the unsalted join. (An outer join would not be:
the small side is replicated once per salt, so its unmatched rows
would come back N_SALTS times.)

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
) -> DataFrame:
    """Inner join ``big`` ⋈ ``small`` on column ``on`` with the big
    side's hot keys spread over ``N_SALTS`` shuffle partitions.

    ``salt_by`` is any well-distributed column of ``big`` (a unique id)
    used to derive the deterministic salt.
    """
    salted_big = big.withColumn(
        _SALT, F.pmod(F.xxhash64(F.col(salt_by)), F.lit(N_SALTS)).cast("int")
    )
    salts = F.explode(F.sequence(F.lit(0), F.lit(N_SALTS - 1))).alias(_SALT)
    salted_small = small.select("*", salts)
    joined = salted_big.join(salted_small, on=[on, _SALT])
    return joined.drop(_SALT)
