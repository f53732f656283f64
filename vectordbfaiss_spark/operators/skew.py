"""Skew mitigation: salted aggregation.

AQE's skew-join splitting handles most runtime skew; salting is the
explicit, planner-independent fallback for pathological keys (the one
power-law key that owns 30% of a 100 TB fact table). The result stays
exact: groupBy(key, salt) partial -> groupBy(key) final. Decomposable
aggregates only (sum/count/min/max); the partial stage spreads one hot key
over ``n_salts`` reducers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def salted_sum(
    df: DataFrame,
    key: str,
    value: str,
    n_salts: int = 16,
    salt_source: str | None = None,
) -> DataFrame:
    """Exact per-key sum/count via two-stage salted aggregation.

    ``salt_source``: a column with per-row entropy (defaults to the value
    column) — hashed into [0, n_salts). Deterministic, no rand().
    """
    salt = F.pmod(F.xxhash64(F.col(salt_source or value)), F.lit(n_salts))
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(key, "_salt")
        .agg(F.sum(value).alias("_s"), F.count("*").alias("_c"))
    )
    return partial.groupBy(key).agg(
        F.sum("_s").alias(f"sum_{value}"), F.sum("_c").alias("n_rows")
    )
