"""Skew-mitigation join helpers.

AQE's skew-join splitting (enabled in session.build_session) is the first
line of defense and needs no code.  Salting is the explicit fallback for
the cases AQE can't fix — e.g. a shuffled join where one key holds >>1
partition of rows and the other side is too big to broadcast: replicate
the small side ``salt_n`` times and scatter the big side's hot keys across
the replicas, turning one straggler partition into ``salt_n`` even ones.

Correctness: the salt column is derived (pmod of xxhash64 over the big
side's rows), joined as an extra equi-key against the exploded replica id,
then dropped — the join result is row-for-row identical to the unsalted
join (tests/test_skew.py proves it on fixtures).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: list[str],
    how: str = "inner",
    salt_n: int = 8,
    big_salt_col: str | None = None,
) -> DataFrame:
    """Equi-join ``big ⋈ small`` on ``on``, salted ``salt_n`` ways.

    ``big_salt_col``: column whose hash scatters the big side (defaults to
    all of big's columns — any per-row value works; the scatter only needs
    to be uniform within each hot key).
    """
    if salt_n < 1:
        raise ValueError(f"salt_n must be >= 1, got {salt_n}")
    if how not in ("inner", "left", "leftouter", "left_outer", "left_semi", "left_anti"):
        # right/full would null-extend each small replica once per salt
        raise ValueError(f"salted_join preserves only big-side joins, got {how!r}")
    salt_src = (
        [F.col(big_salt_col)] if big_salt_col else [F.col(c) for c in big.columns]
    )
    big_s = big.withColumn("_salt", F.pmod(F.xxhash64(*salt_src), F.lit(salt_n)))
    small_s = small.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(salt_n)]))
    )
    out = big_s.join(small_s, [*on, "_salt"], how)
    return out.drop("_salt")
