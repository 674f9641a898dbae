"""Deterministic synthetic data generators (no external data).

Two families:

- ``synth_tokens`` — the BASELINE.json input_hint table
  ``(doc_id string, tokens array<int32>, n_tok int32, source string)``,
  generated DISTRIBUTED via ``spark.range`` + JVM-side expressions
  (xxhash64-based, fully deterministic, no Python in the loop) so the
  same generator scales from 1e3 rows in tests to bench scale.
- ``synth_healthkit`` — a HealthKit-shaped interval-event frame
  (small, driver-side numpy, seeded) used by the golden/parity tests.

Both are pure functions of (n, seed): re-running yields identical bytes.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F

from mhealth_spark.schema import HK_EVENT_SCHEMA

EPOCH = dt.datetime(2024, 1, 1)

SOURCES = ["web", "books", "code", "wiki", "forums", "news", "papers", "social"]


def synth_tokens(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    vocab: int = 50_000,
    mean_len: int = 512,
    skew_entities: bool = True,
) -> DataFrame:
    """Distributed deterministic token-sequence table.

    tokens[i] = xxhash64(doc_id, seed, i) % vocab — reproducible at any
    scale with zero driver-side materialization. ``n_tok`` follows a
    doc_id-hash-derived length in [16, 2*mean_len); when ``skew_entities``
    the ``source`` distribution is Zipf-ish (source 0 gets ~50% of docs)
    to exercise the engine's skew handling.
    """
    df = spark.range(n_docs).withColumnRenamed("id", "_i")
    h = F.xxhash64(F.col("_i"), F.lit(seed))
    n_tok = (F.pmod(h, F.lit(2 * mean_len - 16)) + F.lit(16)).cast("int")
    if skew_entities:
        # pmod(h,16): 0..7 → source 0 (heavy key), 8..15 → sources 1..7
        bucket = F.pmod(F.xxhash64(F.col("_i"), F.lit(seed + 1)), F.lit(16))
        src_idx = F.when(bucket < 8, F.lit(0)).otherwise(
            (F.pmod(bucket, F.lit(7)) + 1).cast("int")
        )
    else:
        src_idx = F.pmod(F.xxhash64(F.col("_i"), F.lit(seed + 1)), F.lit(8)).cast("int")
    # writer entity: high-cardinality (n_docs/100 writers), skewed — 1% of
    # writers ("heavy" hash bucket) own ~30% of docs. Window/session ops
    # partition on this; `source` (8 values, one heavy) exercises
    # aggregate-level skew instead.
    n_writers = max(n_docs // 100, 8)
    wh = F.xxhash64(F.col("_i"), F.lit(seed + 3))
    heavy = F.pmod(F.xxhash64(F.col("_i"), F.lit(seed + 4)), F.lit(10)) < 3
    writer = F.when(
        heavy, F.pmod(wh, F.lit(max(n_writers // 100, 1)))
    ).otherwise(F.pmod(wh, F.lit(n_writers)))
    sources = F.array(*[F.lit(s) for s in SOURCES])
    tokens = F.transform(
        F.sequence(F.lit(0), n_tok - 1),
        lambda i: F.pmod(F.xxhash64(F.col("_i"), F.lit(seed), i), F.lit(vocab)).cast(
            "int"
        ),
    )
    return df.select(
        F.concat(F.lit("doc-"), F.col("_i")).alias("doc_id"),
        tokens.alias("tokens"),
        n_tok.alias("n_tok"),
        F.element_at(sources, src_idx + 1).alias("source"),
        F.concat(F.lit("w"), writer).alias("writer_id"),
        # event-time: docs arrive over 30 days, deterministic per doc
        F.timestamp_seconds(
            F.lit(int(EPOCH.timestamp()))
            + F.pmod(F.xxhash64(F.col("_i"), F.lit(seed + 2)), F.lit(30 * 86400))
        )
        .cast("timestamp_ntz")
        .alias("ts"),
    )


# beside the package, so every checkout keeps its own cache
TOKENS_CACHE_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".synth_cache"
)


def materialize_synth_tokens(
    spark: SparkSession,
    n_docs: int = 3000,
    seed: int = 42,
    cache_dir: str = TOKENS_CACHE_DIR,
    vocab: int = 50_000,
) -> str:
    """Write ``synth_tokens(n_docs, seed)`` to parquet once (atomic rename)
    and return the directory path. Both the Spark queries and their DuckDB
    oracles read THIS file, so the window/as-of feature queries over the
    tokens table get full value-level oracle checks instead of rows-only
    (the xxhash64 generator itself has no DuckDB equivalent).

    ``vocab`` != default gets its own cache file — the BPE queries use a
    256-token vocabulary so adjacent pairs actually repeat (mean pair
    count ~23 at n_docs=3000 vs ~1 at vocab=50k)."""
    suffix = "" if vocab == 50_000 else f"_v{vocab}"
    path = os.path.join(cache_dir, f"tokens_n{n_docs}_seed{seed}{suffix}.parquet")
    if not os.path.isdir(path):
        os.makedirs(cache_dir, exist_ok=True)
        tmp = path + f".tmp-{os.getpid()}"
        synth_tokens(spark, n_docs, seed=seed, vocab=vocab).coalesce(1).write.mode(
            "overwrite"
        ).parquet(tmp)
        try:
            os.rename(tmp, path)
        except OSError:  # lost a concurrent race; the winner's file is fine
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    return path


def synth_healthkit(
    n_users: int = 4,
    days: int = 7,
    seed: int = 42,
) -> pd.DataFrame:
    """Small deterministic HealthKit-shaped event frame (pandas).

    Per user per day: a sleep session (InBed + Asleep/Awake stages around
    23:00→07:00), hourly HeartRate / HRV points while "worn", activity
    intervals (StepCount / ActiveEnergyBurned), and audio exposure — the
    streams the reference's operators consume (simple_features.py:45-50,
    811-816).
    """
    rng = np.random.default_rng(seed)
    rows: list[dict] = []

    def add(uid, start, end, typ, value, device="Apple Watch", qcount=1):
        rows.append(
            dict(
                user_id=f"u{uid}",
                local_start=start,
                local_end=end,
                timezone="UTC",
                type=typ,
                value=str(value),
                device_name=device,
                quantity_count=qcount,
            )
        )

    for uid in range(n_users):
        for d in range(days):
            day = EPOCH + dt.timedelta(days=d)
            # --- sleep session: InBed 22:30+jitter → 07:00, stages inside
            bed_on = day + dt.timedelta(hours=22, minutes=int(rng.integers(0, 60)))
            bed_off = day + dt.timedelta(hours=31, minutes=int(rng.integers(0, 45)))
            add(uid, bed_on, bed_off, "SleepAnalysis", "InBed")
            t = bed_on + dt.timedelta(minutes=int(rng.integers(5, 40)))
            while t < bed_off - dt.timedelta(minutes=10):
                dur = dt.timedelta(minutes=int(rng.integers(30, 120)))
                end = min(t + dur, bed_off)
                stage = rng.choice(
                    ["AsleepCore", "AsleepDeep", "AsleepREM", "Awake"],
                    p=[0.45, 0.25, 0.2, 0.1],
                )
                add(uid, t, end, "SleepAnalysis", stage)
                t = end
            # --- hourly vitals (watch worn 18h/day)
            for h in range(24):
                if rng.random() < 0.8:
                    ts = day + dt.timedelta(hours=h, minutes=int(rng.integers(0, 60)))
                    hr = float(np.round(60 + 25 * np.sin(2 * np.pi * (h - 14) / 24)
                                        + rng.normal(0, 4), 2))
                    add(uid, ts, ts, "HeartRate", hr)
                    if rng.random() < 0.5:
                        add(uid, ts, ts, "HeartRateVariabilitySDNN",
                            float(np.round(rng.uniform(0.02, 0.12), 4)))
                    if rng.random() < 0.3:
                        add(uid, ts, ts, "RespiratoryRate",
                            float(np.round(rng.uniform(10, 20), 2)))
                    if rng.random() < 0.3:
                        add(uid, ts, ts, "OxygenSaturation",
                            float(np.round(rng.uniform(0.93, 0.99), 4)))
            # --- activity intervals (daytime)
            for _ in range(int(rng.integers(4, 10))):
                s = day + dt.timedelta(hours=8) + dt.timedelta(
                    minutes=int(rng.integers(0, 12 * 60)))
                e = s + dt.timedelta(minutes=int(rng.integers(5, 45)))
                add(uid, s, e, "StepCount", float(rng.integers(100, 3000)))
                add(uid, s, e, "ActiveEnergyBurned",
                    float(np.round(rng.uniform(20, 300), 1)))
            # --- audio exposure
            for _ in range(int(rng.integers(2, 6))):
                s = day + dt.timedelta(minutes=int(rng.integers(0, 23 * 60)))
                e = s + dt.timedelta(minutes=int(rng.integers(10, 40)))
                add(uid, s, e, "EnvironmentalAudioExposure",
                    float(np.round(rng.uniform(40, 90), 1)))

    pdf = pd.DataFrame(rows)
    pdf["local_start"] = pd.to_datetime(pdf["local_start"])
    pdf["local_end"] = pd.to_datetime(pdf["local_end"])
    pdf["value_num"] = pd.to_numeric(pdf["value"], errors="coerce")
    return pdf


def hk_to_spark(spark: SparkSession, pdf: pd.DataFrame) -> DataFrame:
    """Lift the synthetic pandas HK frame into a typed Spark DataFrame."""
    cols = [f.name for f in HK_EVENT_SCHEMA.fields]
    return spark.createDataFrame(pdf[cols], schema=HK_EVENT_SCHEMA)
