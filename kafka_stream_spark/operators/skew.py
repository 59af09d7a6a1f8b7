"""Skew-resilient aggregation: two-phase (salted) groupBy.

At 100 TB a handful of hot keys (one viral document source, one huge
customer) can pin a single reducer. The standard fix when AQE's runtime
skew handling isn't enough (e.g. non-join aggregations feeding a custom
aggregate): salt the key into S shards, aggregate partially per
(key, salt), then combine shards. Works for any algebraic aggregate
(sum/count/min/max — things with an associative combine).

Spark already does map-side partial aggregation for built-in aggregates,
which removes most skew pressure; this operator is for the cases where
the *reduce* state per key is itself large (collect-style or sketch
aggregates), making explicit shard-level parallelism worth one extra
shuffle stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: (partial_agg, combine_agg) pairs per supported aggregate kind
_ALGEBRAIC = {
    "sum": (F.sum, F.sum),
    "count": (F.count, F.sum),
    "min": (F.min, F.min),
    "max": (F.max, F.max),
}


def salted_agg(
    df: DataFrame,
    keys: list[str],
    aggs: dict[str, tuple[str, str]],
    n_salts: int = 16,
) -> DataFrame:
    """``aggs``: out_col → (kind, in_col) with kind in sum/count/min/max.

    Phase 1 groups by (keys..., salt) — hot keys spread over ``n_salts``
    reducers; phase 2 combines the per-salt partials (n_keys × n_salts
    rows, tiny). Result is exactly groupBy(keys).agg(...).
    """
    salted = df.withColumn(
        "__salt", (F.rand(seed=42) * n_salts).cast("int")
    )
    phase1 = salted.groupBy(*keys, "__salt").agg(
        *[
            _ALGEBRAIC[kind][0](F.col(col)).alias(out)
            for out, (kind, col) in aggs.items()
        ]
    )
    return phase1.groupBy(*keys).agg(
        *[
            _ALGEBRAIC[kind][1](F.col(out)).alias(out)
            for out, (kind, _col) in aggs.items()
        ]
    )


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 8,
) -> DataFrame:
    """Equi-join resilient to BIG-side key skew: each big row gets a
    deterministic salt in [0, n_salts); the small side is replicated
    once per salt; the join key becomes (key, salt), splitting one hot
    key's reducer into n_salts parallel ones.

    The manual fallback for when AQE skew-join can't help — e.g. the
    skewed stage feeds a window or the small side is too big to
    broadcast but small enough to replicate n_salts×. The salt comes
    from xxhash64 of the whole row (deterministic under replay, no
    ``rand()`` in the plan), and the helper strips its own plumbing so
    output columns = plain-join columns."""
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(n_salts))
    big_s = big.withColumn("__salt", salt)
    small_r = small.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
    ).withColumnRenamed(key, "__rkey")
    joined = big_s.join(
        small_r,
        (F.col(key) == F.col("__rkey")) & (big_s["__salt"] == small_r["__salt"]),
    )
    return joined.drop("__salt").drop("__rkey")
