"""Skew mitigation utilities.

The reference's only skew tool is a random salt repartition before
row-path writes (K:1152-1159, D:2114-2121); this engine has no row-path
write to salt. For skewed JOIN keys at 100 TB this module adds the
standard salt-replicate join: the skewed (big) side gets
a random salt in [0, n); the small side is replicated n times with every
salt value; the join key becomes (key, salt). A hot key's rows then
spread over n shuffle partitions instead of hammering one reducer.

AQE's skew-join splitting (enabled in session.SCALE_CONF) handles most
cases at runtime; explicit salting remains for the pathological keys AQE
can't split (e.g. a single key bigger than an executor) and for
deterministic layout before partitioned writes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"


def salted_join(
    big: DataFrame,
    small: DataFrame,
    keys: list[str],
    num_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with salt-replication on the small side.

    Equivalent to ``big.join(small, keys, how)`` for inner/left joins;
    the small side is replicated ``num_salts`` times (size * n — keep it
    the genuinely-small side), the big side salted uniformly at random.
    """
    if how not in ("inner", "left", "left_outer"):
        raise ValueError(f"salted_join supports inner/left joins, got {how!r}")
    salted_big = big.withColumn(
        SALT_COL, (F.rand(seed=42) * num_salts).cast("int"))
    salts = F.explode(F.sequence(F.lit(0), F.lit(num_salts - 1))).alias(SALT_COL)
    replicated = small.select("*", salts)
    return (
        salted_big.join(replicated, [*keys, SALT_COL], how)
        .drop(SALT_COL)
    )
