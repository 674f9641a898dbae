"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship two-level aggregation (hourly median →
daily stats, the spine of the reference's ``aggregateVital``) on sf0.001.
``queries()``/``oracle_sql()`` expose every implemented operator from
SURVEY.md §2 with DuckDB oracles (see ``mhealth_spark/queries.py``).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from mhealth_spark.queries import ORACLES, QUERIES  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERIES["flagship_hourly_daily_stats"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for each query (same aliases, same rounding)."""
    return dict(ORACLES)
