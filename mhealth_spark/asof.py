"""Point-in-time / as-of / interval joins — the engine's flagship (SURVEY §2.3).

The reference runs a Python loop per request (``generate_features.py``
driven from notebook cell 10) and ``iterrows()`` interval joins
(``simple_features.py:380-398,562-569,845-869``). Here each becomes ONE
distributed job with explicit explosion control:

- ``point_in_time_join`` (J6): requests × bounded lookback window of
  events → grouped aggregates per request. Physical strategy: equi-join
  on ``(entity, time_bucket)`` with bucket width ≥ the lookback horizon
  — each request touches ≤ 2 buckets, so the join is a plain shuffled
  equi-join (never BroadcastNestedLoopJoin), refined by the exact range
  predicate. The leakage guard ``e.ts <= r.ts`` is part of the join
  condition itself, not a post-filter: no future row ever reaches an
  aggregate (north_rule "watermark-style leakage guard").

- ``merge_asof_last`` (J4-style as-of): last value at-or-before each
  request timestamp via the union-sort-fill trick — zero join explosion,
  reuses the (entity, ts) partition layout.

- ``interval_join`` (J2/J3): point-in-interval (semi/inner/anti —
  ``how='anti'`` is J3) via interval bucketization: periods explode to the
  buckets they cover (``F.sequence``), points map to one bucket, the
  equi-join on ``(entity, bucket)`` prunes the cross product, the exact
  range predicate refines.

At 100 TB these run shuffle-on-(entity,bucket); AQE splits skewed
buckets, and heavy entities can additionally be salted (see ``skew.py``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

DEFAULT_BUCKET_SECONDS = 86400


def _epoch(col: Column) -> Column:
    return F.unix_timestamp(col.cast("timestamp"))


def point_in_time_join(
    events: DataFrame,
    requests: DataFrame,
    agg_exprs: list[Column],
    entity_col: str = "user_id",
    event_ts: str = "ts",
    request_ts: str = "ts",
    lookback_hours: float = 24.0,
    request_keys: list[str] | None = None,
    inclusive_start: bool = False,
) -> DataFrame:
    """J6: for each request row, aggregate events in
    ``(r.ts − lookback, r.ts]`` for the same entity.

    Window bound semantics follow the reference's lookback filter
    (``simple_features.py:145-168`` via ``calcStartStop``): end-inclusive,
    start-exclusive by default. Events strictly after ``r.ts`` can never
    match — the temporal-leakage guard is structural.

    Requests may carry extra key columns (``request_keys``); the result
    has one row per request key-tuple with the given aggregates.
    """
    bucket_s = max(int(lookback_hours * 3600), 1)
    keys = request_keys or [c for c in requests.columns]

    e = events.alias("e")
    r = requests.alias("r")
    e_ts = F.col(f"e.{event_ts}")
    r_ts = F.col(f"r.{request_ts}")

    # requests cover exactly 2 buckets of width = lookback horizon
    r_exp = r.withColumn(
        "_b",
        F.explode(
            F.sequence(
                F.floor((_epoch(r_ts) - F.lit(bucket_s)) / bucket_s),
                F.floor(_epoch(r_ts) / bucket_s),
            )
        ),
    )
    e_b = e.withColumn("_b", F.floor(_epoch(e_ts) / bucket_s))

    lo = _epoch(r_ts) - F.lit(int(lookback_hours * 3600))
    range_pred = (e_ts <= r_ts) & (
        (_epoch(e_ts) >= lo) if inclusive_start else (_epoch(e_ts) > lo)
    )
    # range predicate INSIDE the left-join condition: requests with zero
    # in-window events still emit one (all-null) row; Catalyst uses the
    # two equi keys for the shuffle and applies the range as join filter.
    cond = (
        (F.col(f"r.{entity_col}") == F.col(f"e.{entity_col}"))
        & (r_exp["_b"] == e_b["_b"])
        & range_pred
    )
    joined = r_exp.join(e_b, on=cond, how="left")

    # NOTE for callers: aggregate over EVENT columns with the "e." prefix
    # (e.g. F.count(F.col("e.value"))) — null event rows from empty
    # windows are then ignored by the aggregates automatically.
    key_cols = [F.col(f"r.{k}").alias(k) for k in keys]
    return joined.groupBy(*key_cols).agg(*agg_exprs)


def horizon_label_join(
    events: DataFrame,
    requests: DataFrame,
    agg_exprs: list[Column],
    entity_col: str = "user_id",
    event_ts: str = "ts",
    request_ts: str = "ts",
    horizon_hours: float = 24.0,
    request_keys: list[str] | None = None,
) -> DataFrame:
    """Forward-horizon label join: for each request row, aggregate events
    in ``(r.ts, r.ts + horizon]`` for the same entity — the mirror of
    ``point_in_time_join`` used for LABEL generation (future outcomes over
    a bounded horizon), where the training-time features come from the
    backward join and the target comes from this one.

    Leakage semantics are inverted on purpose: an event AT the request
    timestamp is excluded (it is feature-side, visible to the backward
    join's end-inclusive window), and the horizon end is inclusive. The
    two windows therefore tile time exactly — no event is both feature
    and label for the same request.

    Physical strategy is identical to ``point_in_time_join``: equi-join on
    ``(entity, time_bucket)`` with bucket width ≥ the horizon (each
    request covers ≤ 2 forward buckets), exact range predicate inside the
    left-join condition so empty-horizon requests still emit a row.
    """
    bucket_s = max(int(horizon_hours * 3600), 1)
    keys = request_keys or [c for c in requests.columns]

    e = events.alias("e")
    r = requests.alias("r")
    e_ts = F.col(f"e.{event_ts}")
    r_ts = F.col(f"r.{request_ts}")

    r_exp = r.withColumn(
        "_b",
        F.explode(
            F.sequence(
                F.floor(_epoch(r_ts) / bucket_s),
                F.floor((_epoch(r_ts) + F.lit(bucket_s)) / bucket_s),
            )
        ),
    )
    e_b = e.withColumn("_b", F.floor(_epoch(e_ts) / bucket_s))

    hi = _epoch(r_ts) + F.lit(int(horizon_hours * 3600))
    range_pred = (e_ts > r_ts) & (_epoch(e_ts) <= hi)
    cond = (
        (F.col(f"r.{entity_col}") == F.col(f"e.{entity_col}"))
        & (r_exp["_b"] == e_b["_b"])
        & range_pred
    )
    joined = r_exp.join(e_b, on=cond, how="left")
    key_cols = [F.col(f"r.{k}").alias(k) for k in keys]
    return joined.groupBy(*key_cols).agg(*agg_exprs)


def merge_asof_last(
    left: DataFrame,
    right: DataFrame,
    on_entity: str,
    left_ts: str,
    right_ts: str,
    value_cols: list[str],
    suffix: str = "_asof",
) -> DataFrame:
    """Sorted-merge as-of: attach the latest right-side values at-or-before
    each left row's timestamp (classic as-of join, J4/J6 primitive).

    Union both sides tagged, sort within entity by (ts, side), and
    forward-fill with ``last(ignorenulls=True)`` — O(n log n) within each
    entity partition, NO join explosion, no range join. This is the
    "sorted-merge as-of" named by the north rule, expressed through
    native window functions (whole-stage codegen, spills safely).
    """
    lcols = left.columns
    l_tagged = left.select(
        F.col(on_entity).alias("_ent"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_side"),
        F.struct(*lcols).alias("_lrow"),
        *[F.lit(None).cast(right.schema[c].dataType).alias(f"_v_{c}") for c in value_cols],
    )
    r_tagged = right.select(
        F.col(on_entity).alias("_ent"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_side"),
        F.lit(None).cast(
            l_tagged.schema["_lrow"].dataType
        ).alias("_lrow"),
        *[F.col(c).alias(f"_v_{c}") for c in value_cols],
    )
    # right rows sort BEFORE left rows at equal ts → ties are inclusive
    w = (
        Window.partitionBy("_ent")
        .orderBy("_ts", "_side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = l_tagged.unionByName(r_tagged).select(
        "_ent",
        "_ts",
        "_side",
        "_lrow",
        *[
            F.last(f"_v_{c}", ignorenulls=True).over(w).alias(f"_f_{c}")
            for c in value_cols
        ],
    )
    out = filled.filter(F.col("_side") == 1).select(
        *[F.col("_lrow")[c].alias(c) for c in lcols],
        *[F.col(f"_f_{c}").alias(f"{c}{suffix}") for c in value_cols],
    )
    return out


def _bucketize_periods(
    periods: DataFrame, entity_col: str, start_col: str, end_col: str, bucket_s: int
) -> DataFrame:
    return periods.withColumn(
        "_b",
        F.explode(
            F.sequence(
                F.floor(_epoch(F.col(start_col)) / bucket_s),
                F.floor(_epoch(F.col(end_col)) / bucket_s),
            )
        ),
    )


def interval_join(
    points: DataFrame,
    periods: DataFrame,
    entity_col: str = "user_id",
    point_ts: str = "local_start",
    period_start: str = "period_start",
    period_end: str = "period_end",
    bucket_seconds: int = DEFAULT_BUCKET_SECONDS,
    how: str = "semi",
    period_cols: list[str] | None = None,
) -> DataFrame:
    """J2: keep point rows whose ts lies inside any period of the same
    entity.

    ``how='semi'`` deduplicates (each point at most once, the LEFT SEMI
    the reference implies when it dedups); ``how='inner'`` preserves the
    reference's concatenation semantics where overlapping periods emit
    duplicates (``simple_features.py:853-873``) and can carry period
    columns; ``how='anti'`` is J3 ("non-sleep rest",
    ``simple_features.py:840-852``).
    """
    p = points.alias("p").withColumn(
        "_b", F.floor(_epoch(F.col(point_ts)) / bucket_seconds)
    )
    per = _bucketize_periods(
        periods.alias("q"), entity_col, period_start, period_end, bucket_seconds
    )
    cond = (
        (F.col(f"p.{entity_col}") == F.col(f"q.{entity_col}"))
        & (p["_b"] == per["_b"])
        & (F.col(f"p.{point_ts}") >= F.col(f"q.{period_start}"))
        & (F.col(f"p.{point_ts}") <= F.col(f"q.{period_end}"))
    )
    if how == "semi":
        return p.join(per, cond, "left_semi").drop("_b")
    if how == "anti":
        return p.join(per, cond, "left_anti").drop("_b")
    if how == "inner":
        extra = [F.col(f"q.{c}") for c in (period_cols or [])]
        pcols = [F.col(f"p.{c}") for c in points.columns]
        # A period spanning several buckets matches the same point once per
        # bucket: dedup on the (point, period) pair identity. The period
        # identity is a per-ROW id attached BEFORE bucket explosion
        # (nondeterministic expr = reorder barrier, so every bucket copy
        # carries the same id) — NOT the period's start value, which would
        # collapse two distinct overlapping periods that happen to share a
        # start and the selected columns (reference concat semantics keep
        # both, simple_features.py:853-873).
        per_id = _bucketize_periods(
            periods.withColumn("_pid", F.monotonically_increasing_id()).alias("q"),
            entity_col,
            period_start,
            period_end,
            bucket_seconds,
        )
        cond_id = (
            (F.col(f"p.{entity_col}") == F.col(f"q.{entity_col}"))
            & (p["_b"] == per_id["_b"])
            & (F.col(f"p.{point_ts}") >= F.col(f"q.{period_start}"))
            & (F.col(f"p.{point_ts}") <= F.col(f"q.{period_end}"))
        )
        out = (
            p.join(per_id, cond_id, "inner")
            .select(*pcols, *extra, F.col("q._pid").alias("_pid"))
            .dropDuplicates(
                points.columns + [c for c in (period_cols or [])] + ["_pid"]
            )
            .drop("_pid")
        )
        return out
    raise ValueError(f"unknown how={how!r}")


def nearest_fill_daily(
    daily: DataFrame,
    entity_col: str = "user_id",
    date_col: str = "date",
    value_col: str = "timezone",
) -> DataFrame:
    """J4: fill missing per-day values with the NEAREST observed day's
    value (reference ``resample('1D').fillna('nearest')``,
    ``dataloader.py:202-214``).

    Dense day grid per entity via ``sequence(min,max)``, then a backward
    ``last(ignorenulls)`` and forward ``first(ignorenulls)`` pass; pick
    whichever observed day is nearer (ties → previous, matching pandas
    'nearest' which rounds half down for equal distance).
    """
    grid = (
        daily.groupBy(entity_col)
        .agg(
            F.min(date_col).alias("_d0"),
            F.max(date_col).alias("_d1"),
        )
        .select(
            entity_col,
            F.explode(F.sequence(F.col("_d0"), F.col("_d1"))).alias(date_col),
        )
    )
    dense = grid.join(daily, [entity_col, date_col], "left")
    w_back = (
        Window.partitionBy(entity_col)
        .orderBy(date_col)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_fwd = (
        Window.partitionBy(entity_col)
        .orderBy(date_col)
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_date = F.when(F.col(value_col).isNotNull(), F.col(date_col))
    prev_v = F.last(value_col, ignorenulls=True).over(w_back)
    prev_d = F.last(obs_date, ignorenulls=True).over(w_back)
    next_v = F.first(value_col, ignorenulls=True).over(w_fwd)
    next_d = F.first(obs_date, ignorenulls=True).over(w_fwd)
    dist_prev = F.datediff(F.col(date_col), prev_d)
    dist_next = F.datediff(next_d, F.col(date_col))
    filled = (
        F.when(F.col(value_col).isNotNull(), F.col(value_col))
        .when(prev_v.isNull(), next_v)
        .when(next_v.isNull(), prev_v)
        .when(dist_next < dist_prev, next_v)
        .otherwise(prev_v)
    )
    return dense.withColumn(value_col, filled)
