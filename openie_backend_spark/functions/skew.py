"""Explicit skew handling: salted joins.

The reference salts short (hot) argNorm keys with a random 0-99 prefix
before its type-attach join (``TypeAttacher.scala:20,25``). Spark's
AQE skew-join splitting (enabled in ``session.py``) usually makes this
unnecessary, but joins AQE cannot split still want explicit salt at
10^12 scale (e.g. a broadcast side that just exceeded the threshold
and fell back to shuffle with a monster key).

Salts are deterministic (hash of a disambiguator column), never
``rand()`` — reruns reproduce (SURVEY §4 custom-work item 3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    buckets: int = 32,
    how: str = "left",
    salt_source: str | None = None,
) -> DataFrame:
    """Equi-join where the LEFT side is large and skewed on ``key`` and
    the RIGHT side is small-ish: the left side gets a deterministic
    salt in [0, buckets), the right side is exploded ``buckets``-fold,
    and the join runs on (key, salt) — a hot key spreads over
    ``buckets`` reducers instead of one.

    ``salt_source``: column whose hash spreads rows of the same key
    (defaults to the whole-row disambiguation via
    monotonically_increasing_id — deterministic given a deterministic
    input order, e.g. a sorted checkpoint).
    """
    src = F.col(salt_source) if salt_source else F.monotonically_increasing_id()
    l_salted = left.withColumn("_salt", F.pmod(F.hash(src), F.lit(buckets)))
    r_exploded = right.withColumn(
        "_salt", F.explode(F.sequence(F.lit(0), F.lit(buckets - 1)))
    )
    out = l_salted.join(r_exploded, [key, "_salt"], how)
    return out.drop("_salt")
