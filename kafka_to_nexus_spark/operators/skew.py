"""Skew mitigation: salted two-phase aggregation.

A hot grouping key concentrates one reducer at 100 TB. Salting splits
each key into ``n_salts`` sub-keys for the partial phase, then combines
partials in a second (tiny) aggregation keyed by the true key. Works for
any algebraic aggregate — supply the partial and final expressions.

AQE's skew-join splitting covers joins; this covers aggregations, where
AQE cannot split a single hot group.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SALT = "_salt"


def salted_agg(
    df: DataFrame,
    keys: Sequence[str],
    partial_aggs: dict[str, Column],
    final_aggs: dict[str, Column],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase aggregation over ``keys`` with a random salt.

    ``partial_aggs``: name → aggregate over the raw rows (phase 1, keyed by
    keys + salt). ``final_aggs``: name → aggregate over the partial columns
    (phase 2, keyed by keys alone). Example::

        salted_agg(df, ["k"],
                   {"s": F.sum("v"), "c": F.count("v")},
                   {"s": F.sum("s"), "c": F.sum("c")})
    """
    salted = df.withColumn(_SALT, (F.rand(seed=0) * n_salts).cast("int"))
    partial = salted.groupBy(*keys, _SALT).agg(
        *[c.alias(n) for n, c in partial_aggs.items()]
    )
    return partial.groupBy(*keys).agg(*[c.alias(n) for n, c in final_aggs.items()])
