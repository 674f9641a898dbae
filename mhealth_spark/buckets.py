"""Tumbling time buckets (reference "resample" semantics, SURVEY §2.5).

All reference resampling is tumbling; Spark's ``F.window`` / arithmetic
bucketing expresses each variant natively (one shuffle per groupBy,
partial aggregation map-side).

Parity notes (pandas ``resample`` edge semantics, SURVEY §7.4):

- pandas default origin=``start_day`` is epoch-aligned for whole-hour /
  whole-day frequencies → matches ``F.window``'s epoch alignment.
- bins are assigned by interval START (a sleep row starting 14:59 belongs
  to the previous 3pm-day even if most of it lies after 15:00).
- empty bins are omitted; reference aggs skip NaN bins, so this is safe
  (except coverage R6, whose denominator is computed arithmetically).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

SECONDS_PER_DAY = 86400


def hour_bucket(ts_col: str = "local_start") -> Column:
    """Epoch-aligned hourly bucket start (R1-R3)."""
    return F.date_trunc("HOUR", F.col(ts_col)).alias("hour_bucket")


def day_bucket(ts_col: str = "local_start") -> Column:
    """Midnight-aligned daily bucket (R4, origin='start_day')."""
    return F.date_trunc("DAY", F.col(ts_col)).alias("day_bucket")


def anchored_day_bucket(
    ts_col: str = "local_start", anchor_hour: int = 15
) -> Column:
    """Daily bucket anchored at ``anchor_hour`` local (R5, global origin).

    The reference's sleep "day" runs 3pm→3pm (simple_features.py:279-281):
    bucket start = the most recent ``anchor_hour``:00 at-or-before ts.
    """
    shift = F.expr(f"INTERVAL {anchor_hour} HOURS")
    return (F.date_trunc("DAY", F.col(ts_col) - shift) + shift).alias("noon_day")


def duration_hours(start_col: str = "local_start", end_col: str = "local_end") -> Column:
    """Interval duration in fractional hours (I3)."""
    return (
        (F.unix_micros(F.col(end_col).cast("timestamp"))
         - F.unix_micros(F.col(start_col).cast("timestamp"))) / 3.6e9
    )


# NB: the old coverage_percent helper was removed — it was unused, and its
# ceil(...)+1 denominator disagreed with watch_on_stats' floor(...)+1 (the
# one matching the reference's pandas date_range counting). R6 coverage
# lives in watch.watch_on_stats.
