"""Explicit skew handling for heavy entities (north_rule: "skew from
heavy entities is handled with salted repartitioning and AQE skew-join
splitting").

AQE splits skewed JOIN partitions automatically (session.py enables it),
but a skewed ``groupBy`` key still lands on one reducer. These helpers
implement the standard two-phase fix:

    salted partial aggregate  (key, salt) —shuffle→  final merge (key)

The salt fan-out bounds any single reducer's share of a heavy key to
1/salt_buckets of its rows; the second aggregation only sees
``salt_buckets`` partial rows per key, so it is never skewed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def with_salt(df: DataFrame, salt_buckets: int = 16, salt_col: str = "_salt") -> DataFrame:
    """Deterministic row salt (hash of the whole row's monotonic id would
    break resume; use a hash of all columns instead)."""
    return df.withColumn(
        salt_col,
        F.pmod(F.xxhash64(*[F.col(c) for c in df.columns]), F.lit(salt_buckets)),
    )


def salted_agg(
    df: DataFrame,
    keys: list[str],
    partial_exprs: list[Column],
    final_exprs: list[Column],
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase skew-safe aggregation.

    ``partial_exprs`` aggregate within (keys, salt); ``final_exprs``
    merge the partials per key and must reference the partial aliases.

    Example (mean over a skewed key)::

        salted_agg(df, ["source"],
            [F.sum("x").alias("s"), F.count("x").alias("n")],
            [(F.sum("s") / F.sum("n")).alias("mean_x"),
             F.sum("n").alias("n")])
    """
    salted = with_salt(df, salt_buckets)
    partial = salted.groupBy(*keys, "_salt").agg(*partial_exprs)
    return partial.groupBy(*keys).agg(*final_exprs)
