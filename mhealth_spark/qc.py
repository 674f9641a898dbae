"""QC masks & fills over wide feature frames (SURVEY §2.13, reference
``simple_features_daily.py:124-143``,
``feature_qc.py:5-98``). Column selection is name-prefix logic (driver
side); masking is ``F.when`` — all JVM expressions, no Python."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# Quirk preserved (simple_features_daily.py:130-137): domains compared to
# the FIRST underscore-token case-sensitively, so 'sleep_*' (lowercase),
# 'OxygenSaturation_*' and 'HeartRateVariabilitySDNN_*' are NOT masked.
DAILY_WATCH_DOMAINS = ["HeartRate", "RespiratoryRate", "Oxygen", "Sleep"]


def qc_watch_data_daily(data: DataFrame, threshold: float = 18.0) -> DataFrame:
    """Q4: null watch-domain daily columns where watchOnHours_sum_day <
    threshold (first-token domain match, quirks preserved)."""
    watch_features = [
        c for c in data.columns if c.split("_")[0] in DAILY_WATCH_DOMAINS
    ]
    low = F.col("watchOnHours_sum_day") < threshold
    for c in watch_features:
        data = data.withColumn(c, F.when(low, F.lit(None)).otherwise(F.col(c)))
    return data


def healthkit_qc_fill_nan(
    df: DataFrame,
    watch_on_threshold: float = 0.8,
    duration_threshold: float = 0.8,
    no_na_features: list[str] | None = None,
) -> DataFrame:
    """Q5 (feature_qc.py:5-98): row filters on QC coverage, outlier cuts,
    sleep zero-fill where a sleep median exists, vital-count masks."""
    out = df.filter(F.col("QC_watch_on_percent") >= watch_on_threshold)
    out = out.withColumn(
        "QC_duration_percent",
        F.col("QC_duration_days") / F.col("QC_expected_duration_days"),
    ).filter(F.col("QC_duration_percent") >= duration_threshold)

    if "ActiveEnergyBurned_sum" in out.columns:
        high_e = F.col("ActiveEnergyBurned_sum") / F.col("QC_duration_days") > 1e5
        for c in ["ActiveEnergyBurned_sum", "ActiveEnergyBurned_mean"]:
            if c in out.columns:
                out = out.withColumn(
                    c, F.when(high_e, F.lit(None)).otherwise(F.col(c))
                )
    if "StepCount_sum" in out.columns:
        high_s = F.col("StepCount_sum") / F.col("QC_duration_days") > 1e5
        out = out.withColumn(
            "StepCount_sum", F.when(high_s, F.lit(None)).otherwise(F.col("StepCount_sum"))
        )

    if "sleep_sleepDuration_day_median" in out.columns:
        has_sleep = F.col("sleep_sleepDuration_day_median").isNotNull()
        sleep_cat_cols = [
            "sleep_sleep_day_count",
            "sleep_bedrest_day_count",
            "sleep_Asleep_count",
            "sleep_Asleep_mean",
            "sleep_Asleep_sum",
            "sleep_Awake_count",
            "sleep_Awake_mean",
            "sleep_Awake_sum",
            "sleep_InBed_count",
            "sleep_InBed_mean",
            "sleep_InBed_sum",
            "sleep_CategoryValueUnknown_count",
            "sleep_CategoryValueUnknown_mean",
            "sleep_CategoryValueUnknown_sum",
        ]
        for c in sleep_cat_cols:
            if c in out.columns:
                out = out.withColumn(
                    c,
                    F.when(has_sleep, F.coalesce(F.col(c), F.lit(0.0))).otherwise(
                        F.col(c)
                    ),
                )

    if no_na_features:
        out = out.dropna(subset=no_na_features)

    for root in [
        "HeartRate_",
        "HeartRateVariabilitySDNN_",
        "RespiratoryRate_",
        "OxygenSaturation_",
    ]:
        count_col = f"{root}count"
        if count_col not in out.columns:
            continue
        # snapshot the predicate BEFORE masking (the count column is itself
        # a member of agg_cols — reference masks all at once)
        out = out.withColumn(
            "_low_n",
            F.coalesce(F.col(count_col), F.lit(0.0))
            < F.col("QC_duration_days") * duration_threshold,
        )
        for c in [c for c in out.columns if c.startswith(root)]:
            out = out.withColumn(
                c, F.when(F.col("_low_n"), F.lit(None)).otherwise(F.col(c))
            )
        out = out.drop("_low_n")
    return out
