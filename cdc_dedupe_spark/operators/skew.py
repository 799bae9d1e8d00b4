"""Skew-mitigation join strategies.

AQE's skew-join splitting (on by default, session.py) handles most hot-key
skew at runtime by splitting oversized shuffle partitions. Salting is the
explicit, planner-independent fallback for the pathological case — a
handful of keys carrying a large share of a 100 TB fact table — and for
engines/paths where AQE cannot help (e.g. streaming joins, bucketed
pre-shuffles). Semantics are identical to a plain equi-join; only the
physical key distribution changes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

SALT_COL = "__salt"


def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: str | list[str],
    how: str = "inner",
    salt: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Equi-join where ``big``'s join keys are skewed: ``big`` rows get a
    uniform random salt in [0, salt), ``small`` is replicated ``salt``
    times (explode of a sequence — a narrow, cheap expansion as long as
    ``small`` is the dimension side), and the join key becomes
    (keys..., salt). Each hot key's rows now spread over ``salt`` shuffle
    partitions instead of one straggler task.

    Cost model: shuffle volume of ``small`` grows x salt; ``big`` (the
    expensive side) still shuffles once. Pick salt ~ (hot-key share x
    total partitions). For 'inner'/'left' joins the salt never changes
    the logical result — every (key, salt) pair of ``big`` finds exactly
    the one replicated ``small`` row with that salt."""
    if how not in ("inner", "left"):
        raise ValueError(f"salted_join supports inner/left, got {how!r}")
    keys = [on] if isinstance(on, str) else list(on)

    big_salted = big.withColumn(SALT_COL, F.pmod(F.floor(F.rand(seed) * salt), F.lit(salt)))
    small_salted = small.withColumn(
        SALT_COL, F.explode(F.sequence(F.lit(0), F.lit(salt - 1)))
    )
    out = big_salted.join(small_salted, keys + [SALT_COL], how)
    return out.drop(SALT_COL)

