"""Statistical aggregates with pandas-parity corrections (SURVEY §2.6).

- ``corrected_skewness`` / ``corrected_kurtosis`` — the skew/kurtosis
  terms of the reference's standard stat block
  (``simple_features.py:794-803,884-887``:
  mean/std/min/max/count/median/skew/kurtosis), which ``vitals`` and the
  ``a1_stats_corrected`` query assemble from native Spark aggregates.
  Parity traps:

  * pandas ``std`` is ddof=1 → ``stddev_samp`` (exact match).
  * pandas ``skew``/``kurtosis`` are the bias-corrected sample G1/G2
    (Fisher); Spark's ``F.skewness``/``F.kurtosis`` are population g1/g2.
    Corrected in closed form:
      G1 = g1 * sqrt(n(n-1)) / (n-2)           (needs n >= 3)
      G2 = ((n+1)*g2 + 6) * (n-1)/((n-2)(n-3)) (needs n >= 4)
  * exact ``F.median`` (Spark 3.4+), never ``percentile_approx`` —
    parity is allclose.

- ``ols_exprs`` — closed-form per-group OLS replacing the reference's
  ``pingouin.linear_regression`` (``simple_features.py:890-903``):
  slope = covar_samp(x,y)/var_samp(x), intercept = avg(y) − slope·avg(x),
  guarded to n≥3 like the reference (``simple_features.py:892-893``).

All of this is JVM-side whole-stage-codegen — no Python in the hot path,
partial aggregation pushes map-side for free.
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F


def corrected_skewness(col: Column, n: Column) -> Column:
    """Bias-corrected sample skewness G1 from Spark's population g1."""
    g1 = F.skewness(col)
    return F.when(
        n >= 3, g1 * F.sqrt(n * (n - 1)) / (n - 2)
    ).otherwise(F.lit(None))


def corrected_kurtosis(col: Column, n: Column) -> Column:
    """Bias-corrected sample excess kurtosis G2 from Spark's g2."""
    g2 = F.kurtosis(col)
    return F.when(
        n >= 4, ((n + 1) * g2 + 6) * (n - 1) / ((n - 2) * (n - 3))
    ).otherwise(F.lit(None))


def ols_exprs(x_col: str, y_col: str, prefix: str = "") -> list[Column]:
    """Closed-form OLS slope/intercept (A10), n>=3 guard per reference."""
    x, y = F.col(x_col), F.col(y_col)
    n = F.count(F.when(x.isNotNull() & y.isNotNull(), 1))
    slope = F.covar_samp(x, y) / F.var_samp(x)
    intercept = F.avg(y) - slope * F.avg(x)
    return [
        F.when(n >= 3, slope).otherwise(F.lit(None)).alias(f"{prefix}slope"),
        F.when(n >= 3, intercept).otherwise(F.lit(None)).alias(f"{prefix}intercept"),
    ]
