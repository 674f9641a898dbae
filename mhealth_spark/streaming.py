"""Structured Streaming faces of the engine's batch operators, one
implementation per semantics. What lives here:

- stateful and stream-stream operators — watermarked windows and
  sessions (``stream_tumbling_stats``, ``stream_sessionize``,
  ``stream_hour_partials``, ``stream_drift_psi``), bounded dedup state
  (``stream_exact_dedup``), custom per-key state
  (``stream_rolling_features``, ``stream_anomaly``,
  ``stream_neardup_candidates``), stream-stream as-of joins
  (``stream_stream_backfill``, ``stream_stream_labels``) and the
  ``foreachBatch`` gates over persisted stores (``stream_minhash_dedup``,
  ``stream_semantic_dedup``, ``stream_ivf_ingest``,
  ``stream_training_set``, ``compact_batch_store``);
- map-only faces that score arriving rows against a FROZEN artifact by
  reusing the batch op's Column expressions (``stream_dsir_score``,
  ``stream_line_dedup``, ``stream_decontaminate``,
  ``stream_winnow_match``, ``stream_bm25_score``) — no Python worker,
  no state; ``stream_ann_serve`` keeps its Arrow UDF over an in-memory
  index.

A batch op that already runs on a ``readStream`` gets no face: e.g.
``tokens_engine.backfill_features(events, requests_stream)`` and
``label_horizon_features`` — for append output the caller applies
``withWatermark`` to the request stream first.
"""

from __future__ import annotations

import hashlib
import json

import pandas as pd
from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, Window, functions as F

_INTERVAL_UNIT_SECONDS = {
    "microsecond": 1e-6,
    "millisecond": 1e-3,
    "second": 1,
    "minute": 60,
    "hour": 3600,
    "day": 86400,
    "week": 604800,
}


def _interval_seconds(interval: str) -> int:
    """Total seconds of a Spark watermark delay-threshold string
    (``'2 hours'``, ``'90 seconds'``, ``'1 day 6 hours'``), rounded up —
    watermark arithmetic must never UNDER-estimate event lateness."""
    import math
    import re

    total = 0.0
    matched = False
    for num, unit in re.findall(
        r"(\d+(?:\.\d+)?)\s*([a-zA-Z]+)", interval.strip().lower()
    ):
        unit = unit.rstrip("s")
        if unit not in _INTERVAL_UNIT_SECONDS:
            raise ValueError(f"unsupported interval unit {unit!r} in {interval!r}")
        total += float(num) * _INTERVAL_UNIT_SECONDS[unit]
        matched = True
    if not matched:
        raise ValueError(f"cannot parse interval string {interval!r}")
    return math.ceil(total)


def _round_half_up(a, dp: int = 9):
    """Decimal HALF_UP rounding of a float64 array, matching Spark
    ``F.round``'s BigDecimal path bit-for-bit: BigDecimal.valueOf goes
    through Double.toString (the shortest round-trip repr, same as
    Python ``repr``), then setScale(dp, HALF_UP). ``np.round`` is
    round-half-EVEN on the float path and diverges by 1 ulp on exact
    half boundaries — the divergence class fixed repo-wide in ea9ae3c."""
    import numpy as np
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal(1).scaleb(-dp)
    arr = np.asarray(a, dtype=np.float64)
    flat = arr.ravel()
    out = np.empty(flat.shape, dtype=np.float64)
    for i, x in enumerate(flat.tolist()):
        out[i] = (
            float(Decimal(repr(x)).quantize(q, rounding=ROUND_HALF_UP))
            if x == x and abs(x) != float("inf")
            else x
        )
    return out.reshape(arr.shape)


def _isin_frozen(c: Column, values) -> Column:
    """``c IN values`` over a frozen set of strings, planned as a hashed
    INSET. ``Column.isin`` costs one py4j call per literal (seconds for a
    10k-entry set), so the set crosses to the JVM as one string."""
    from pyspark.sql.classic.column import Column as ClassicColumn

    vals = sorted(values)
    if not vals:
        return F.lit(False)
    if any("\n" in v for v in vals):
        raise ValueError("frozen set values must not contain a newline")
    jvm = SparkContext._active_spark_context._jvm
    jlist = (
        jvm.java.util.regex.Pattern.compile("\n")
        .splitAsStream("\n".join(vals))
        .toList()
    )
    return ClassicColumn(c._jc.isInCollection(jlist))


def _or_empty(arr: Column) -> Column:
    """A string array with NULL (from NULL text) read as empty."""
    return F.coalesce(arr, F.array().cast("array<string>"))


def stream_tumbling_stats(
    events: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling per-entity window aggregates with late-data watermark."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(entity_col, F.window(ts_col, window).alias("w"))
        .agg(
            F.count("*").alias("n"),
            F.avg(value_col).alias("mean_v"),
            F.min(value_col).alias("min_v"),
            F.max(value_col).alias("max_v"),
        )
        .select(
            entity_col,
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "n",
            "mean_v",
            "min_v",
            "max_v",
        )
    )


def stream_sessionize(
    events: DataFrame,
    entity_col: str = "user_id",
    ts_col: str = "ts",
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    value_col: str = "value",
) -> DataFrame:
    """Gap-based sessions via ``session_window`` (the streaming twin of
    intervals.sessionize — same gap semantics, incremental state)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(entity_col, F.session_window(ts_col, gap).alias("s"))
        .agg(F.count("*").alias("n_events"), F.sum(value_col).alias("sum_v"))
        .select(
            entity_col,
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
            "sum_v",
        )
    )


def stream_exact_dedup(
    docs: DataFrame,
    ts_col: str = "ts",
    text_col: str = "text",
    watermark: str = "2 hours",
    fingerprint_col: str = "fp",
) -> DataFrame:
    """Streaming exact dedup (the incremental face of
    dedup.exact_dedup_groups): fingerprint each document and keep ONE
    row per fingerprint (within a microbatch the survivor is
    partition-order dependent, not necessarily the earliest arrival —
    dropDuplicatesWithinWatermark semantics), state bounded by the
    watermark
    (``dropDuplicatesWithinWatermark``) — at 100 TB/day the alternative,
    unbounded dedup state, is not operable. Duplicates farther apart than
    the watermark re-emit by design; the batch operator is the exact
    backstop over the full corpus."""
    from mhealth_spark.pipelines.text import words_col

    with_fp = docs.withColumn(
        fingerprint_col, F.md5(F.concat_ws(" ", words_col(text_col)))
    )
    return with_fp.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        [fingerprint_col]
    )


def stream_rolling_features(
    tokens: DataFrame,
    entity_col: str = "writer_id",
    ts_col: str = "ts",
    lookback_rows: int = 10,
    watermark: str = "2 hours",
    state_ttl_ms: int = 3_600_000,
) -> DataFrame:
    """Stateful streaming twin of ``tokens_engine.feature_vectors``:
    per-entity lag/delta/rolling aggregates with ``applyInPandasWithState``.

    Custom state per entity is exactly the rolling frame: the last
    ``lookback_rows`` token counts plus the previous event's timestamp —
    O(K) bytes per entity regardless of stream length, expired via
    event-time timeout ``state_ttl_ms`` past the watermark (at 10^8
    entities the alternative, unbounded keyed state, is not operable).

    Semantics vs the batch op: identical columns EXCEPT ``next_n_tok`` —
    a causal stream cannot see the future row, so the lead column is
    batch-only. Rows are sorted (ts, doc_id) within each microbatch;
    across microbatches an entity's rows must arrive in ts order (the
    file/Kafka source's per-partition order) — already-emitted rows are
    immutable, so an out-of-order straggler inside the watermark still
    computes ITS OWN features against the state as-of arrival. The batch
    operator over the full table is the exact backstop
    (tests/test_streaming.py asserts stream == batch on in-order input
    split across microbatches).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    K = lookback_rows
    # the watermark machinery requires TIMESTAMP (not NTZ); session tz is
    # pinned UTC (session.py) so the cast is lossless
    tokens = tokens.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    out_schema = (
        f"doc_id string, {entity_col} string, {ts_col} timestamp, n_tok int, "
        "prev_n_tok int, delta_n_tok int, roll_mean_n_tok double, "
        "roll_sum_n_tok bigint, roll_count int, gap_us bigint"
    )
    state_schema = "tail array<int>, last_ts_us bigint"

    def fn(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        tail: list[int] = []
        last_ts = None
        if state.exists:
            tail_raw, last_ts = state.get
            tail = list(tail_raw)
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values([ts_col, "doc_id"], kind="mergesort")
            n = pdf["n_tok"].to_numpy(dtype="int64")
            ts_us = pdf[ts_col].to_numpy(dtype="datetime64[us]").astype("int64")
            seed = np.asarray(tail, dtype="int64")
            m = len(seed)
            allv = np.concatenate([seed, n])
            # rolling (-K, -1] frame over seed+batch via cumsum diffs
            c = np.concatenate([[0], np.cumsum(allv)])
            idx = m + np.arange(len(n))
            lo = np.clip(idx - K, 0, None)
            roll_sum = c[idx] - c[lo]
            roll_count = (idx - lo).astype("int64")
            prev = np.where(idx >= 1, allv[np.maximum(idx - 1, 0)], 0)
            has_prev = idx >= 1
            prev_ts = np.empty(len(n), dtype="int64")
            prev_ts[1:] = ts_us[:-1]
            prev_ts[0] = last_ts if last_ts is not None else 0
            has_prev_ts = np.ones(len(n), dtype=bool)
            if last_ts is None:
                has_prev_ts[0] = False
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    entity_col: pdf[entity_col].to_numpy(),
                    ts_col: pdf[ts_col].to_numpy(),
                    "n_tok": pdf["n_tok"].to_numpy(),
                    "prev_n_tok": pd.array(
                        np.where(has_prev, prev, 0), dtype="Int32"
                    ),
                    "delta_n_tok": pd.array(
                        np.where(has_prev, n - prev, 0), dtype="Int32"
                    ),
                    "roll_mean_n_tok": np.where(
                        roll_count > 0, roll_sum / np.maximum(roll_count, 1), np.nan
                    ),
                    "roll_sum_n_tok": pd.array(roll_sum, dtype="Int64"),
                    "roll_count": pd.array(roll_count, dtype="Int32"),
                    "gap_us": pd.array(ts_us - prev_ts, dtype="Int64"),
                }
            )
            out.loc[~has_prev, ["prev_n_tok", "delta_n_tok"]] = None
            out.loc[roll_count == 0, "roll_sum_n_tok"] = None
            out.loc[~has_prev_ts, "gap_us"] = None
            tail = list(allv[-K:]) if K else []
            last_ts = int(ts_us[-1])
            yield out
        if last_ts is not None:
            state.update((list(map(int, tail)), last_ts))
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + state_ttl_ms)

    return (
        tokens.withWatermark(ts_col, watermark)
        .groupBy(entity_col)
        .applyInPandasWithState(
            fn, out_schema, state_schema, "append", GroupStateTimeout.EventTimeTimeout
        )
    )


def stream_decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    n: int = 5,
    max_hits: int = 0,
) -> DataFrame:
    """Streaming-ingest twin of ``corpus.decontaminate``: drop stream
    documents sharing more than ``max_hits`` word n-gram shingles with a
    benchmark/eval set. The batch op's broadcast semi-join needs a
    per-doc aggregation the append-mode stream cannot re-join onto
    itself, so the benchmark's distinct shingles (tiny by definition)
    are collected ONCE and each doc counts its ``text.shingles_col``
    shingles found in that frozen set — map-only, no state, no shuffle.
    NULL text has 0 hits."""
    from mhealth_spark.pipelines.text import shingles_col

    bench = [
        r.g
        for r in benchmark.select(F.explode(shingles_col(text_col, n)).alias("g"))
        .distinct()
        .collect()
    ]
    sh = _or_empty(shingles_col(text_col, n))
    hits = F.size(F.filter(sh, lambda g: _isin_frozen(g, bench)))
    return docs.withColumn("n_contaminated", hits).filter(
        F.col("n_contaminated") <= max_hits
    )


def stream_neardup_candidates(
    docs: DataFrame,
    ts_col: str = "ts",
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 8,
    band_size: int = 2,
    watermark: str = "2 hours",
    state_ttl_ms: int = 3_600_000,
    max_bucket_ids: int = 64,
) -> DataFrame:
    """Streaming MinHash-LSH near-dup detection — the incremental face of
    ``dedup.minhash_lsh_candidates``: signatures and band buckets are the
    SAME stateless expressions as batch (``minhash_signatures`` +
    ``band_buckets``, xxh tier), then a custom stateful operator keyed on
    (band, bucket) emits a (matched_id → doc_id) candidate row whenever a
    new document lands in a bucket that already holds earlier documents.

    State per bucket is the id list, capped at ``max_bucket_ids`` (an LSH
    bucket is small by construction — a hot bucket past the cap stops
    emitting new pairs against its overflow, logged by the ``truncated``
    flag) and expired ``state_ttl_ms`` past the watermark. Pairs are
    emitted once per shared band; ``distinct()`` downstream (or the batch
    backstop over the full corpus) collapses multi-band hits. Candidates
    only — refine with exact Jaccard/cosine offline, exactly like batch.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from mhealth_spark.pipelines.dedup import band_buckets, minhash_signatures

    docs = docs.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    sig = minhash_signatures(
        docs.select(id_col, ts_col, text_col),
        id_col=id_col,
        text_col=text_col,
        num_hashes=num_hashes,
        hash_fn="xxh",
        extra_cols=(ts_col,),
    )
    bands = band_buckets(
        sig, num_hashes, band_size, id_col, extra_cols=(ts_col,)
    )

    out_schema = (
        f"band int, bucket string, matched_id string, {id_col} string, "
        f"{ts_col} timestamp, truncated boolean"
    )
    state_schema = "ids array<string>, last_us bigint"

    def fn(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        ids: list[str] = []
        if state.exists:
            ids_raw, _ = state.get
            ids = list(ids_raw)
        band, bucket = key
        last_us = None
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values([ts_col, id_col], kind="mergesort")
            rows = []
            for did, ts in zip(pdf[id_col], pdf[ts_col]):
                if did in ids:
                    continue
                truncated = len(ids) >= max_bucket_ids
                for mid in ids:
                    rows.append((band, bucket, mid, did, ts, truncated))
                if not truncated:
                    ids.append(did)
            # max across ALL chunks of the microbatch — per-chunk
            # assignment could regress the stored timestamp when a key's
            # batch spans multiple Arrow chunks
            chunk_max = int(
                pdf[ts_col].to_numpy(dtype="datetime64[us]").astype("int64").max()
            )
            last_us = chunk_max if last_us is None else max(last_us, chunk_max)
            if rows:
                yield pd.DataFrame(
                    rows,
                    columns=[
                        "band", "bucket", "matched_id", id_col, ts_col,
                        "truncated",
                    ],
                )
        if last_us is not None:
            state.update((ids, last_us))
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + state_ttl_ms)

    return (
        bands.withWatermark(ts_col, watermark)
        .groupBy("band", "bucket")
        .applyInPandasWithState(
            fn,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_anomaly(
    tokens: DataFrame,
    entity_col: str = "writer_id",
    ts_col: str = "ts",
    lookback_rows: int = 20,
    z_threshold: float = 3.0,
    min_history: int = 5,
    watermark: str = "2 hours",
    state_ttl_ms: int = 3_600_000,
) -> DataFrame:
    """Stateful streaming twin of ``tokens_engine.anomaly_scores``: per
    (entity, ts) z of ``n_tok`` against the entity's trailing
    ``lookback_rows`` window — the live ingestion-QA alarm. State per
    entity is the last K counts (O(K) bytes, event-time-expired); on
    in-order input the emitted rows are exactly the batch operator's
    (tests assert it). Causality is structural: a row's z only ever sees
    rows that arrived before it."""
    import math

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    K = lookback_rows
    tokens = tokens.withColumn(ts_col, F.col(ts_col).cast("timestamp"))
    narrow = tokens.select("doc_id", entity_col, ts_col, "n_tok")
    out_schema = (
        f"doc_id string, {entity_col} string, {ts_col} timestamp, n_tok int, "
        "roll_mean double, roll_std double, roll_count bigint, "
        "z_score double, is_anomaly boolean"
    )
    state_schema = "tail array<int>, last_us bigint"

    def fn(key, pdf_iter, state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
        tail: list[int] = []
        if state.exists:
            tail_raw, _ = state.get
            tail = list(tail_raw)
        last_us = None
        for pdf in pdf_iter:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values([ts_col, "doc_id"], kind="mergesort")
            rows = []
            for did, ent, ts, n in zip(
                pdf["doc_id"], pdf[entity_col], pdf[ts_col], pdf["n_tok"]
            ):
                n = int(n)
                c = len(tail)
                mean = std = z = None
                if c > 0:
                    mean = sum(tail) / c
                    if c > 1:
                        var = sum((x - mean) ** 2 for x in tail) / (c - 1)
                        std = math.sqrt(var)
                    if c >= min_history and std is not None and std > 0:
                        z = (n - mean) / std
                rows.append(
                    (
                        did, ent, ts, n, mean, std, c, z,
                        bool(z is not None and abs(z) > z_threshold),
                    )
                )
                tail.append(n)
                if len(tail) > K:
                    tail.pop(0)
            # max across ALL chunks (see stream_neardup_candidates)
            chunk_max = int(
                pdf[ts_col].to_numpy(dtype="datetime64[us]").astype("int64").max()
            )
            last_us = chunk_max if last_us is None else max(last_us, chunk_max)
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", entity_col, ts_col, "n_tok", "roll_mean",
                    "roll_std", "roll_count", "z_score", "is_anomaly",
                ],
            )
        if last_us is not None:
            state.update((tail, last_us))
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + state_ttl_ms)

    return (
        narrow.withWatermark(ts_col, watermark)
        .groupBy(entity_col)
        .applyInPandasWithState(
            fn,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def stream_dsir_score(
    docs: DataFrame,
    lam: list[float],
    text_col: str = "text",
    n_buckets: int = 256,
    salt: str = "dsir0",
    min_weight: float | None = None,
) -> DataFrame:
    """Streaming-ingest twin of ``corpus.dsir_weights``: score arriving
    documents against a FROZEN DSIR log-ratio table (train once on a
    static reference corpus via ``corpus.dsir_lambda_table``, ship the
    n_buckets doubles). State-free and map-only, so it composes with the
    other ingest-gate faces in one pass. The features and their buckets
    are the batch op's own expressions, mapped over the doc's feature
    array instead of exploded. ``min_weight`` turns the score into an
    ingest filter; docs with no features (NULL or blank text) score
    ``(0, NULL)`` and are dropped with a threshold, kept without (the
    batch op emits no row for them)."""
    from mhealth_spark.pipelines.corpus import _dsir_bucket, _dsir_features
    from mhealth_spark.pipelines.text import words_col

    lam_lit = F.array(*[F.lit(float(x)) for x in lam])
    buckets = F.transform(
        _dsir_features(F.col("_w")), lambda ft: _dsir_bucket(ft, n_buckets, salt)
    )
    total = F.aggregate(
        "_b", F.lit(0.0), lambda acc, b: acc + F.element_at(lam_lit, b + 1)
    )
    out = (
        docs.withColumn("_w", _or_empty(words_col(text_col)))
        .withColumn("_b", buckets)
        .withColumn("n_feats", F.size("_b").cast("long"))
        .withColumn(
            "dsir_weight", F.when(F.col("n_feats") > 0, total / F.col("n_feats"))
        )
        .drop("_w", "_b")
    )
    if min_weight is not None:
        out = out.filter(F.col("dsir_weight") >= min_weight)
    return out


def stream_stream_backfill(
    requests: DataFrame,
    events: DataFrame,
    entity_col: str = "source",
    event_ts: str = "ts",
    request_ts: str = "ts",
    lookback_hours: float = 24.0,
    request_watermark: str = "2 hours",
    event_watermark: str = "2 hours",
) -> DataFrame:
    """BOTH sides streaming: feature requests AND events arrive as
    streams, joined with the same strict as-of guard as the batch twin
    (``e.ts <= r.ts AND e.ts > r.ts - lookback``) and aggregated per
    (entity, request ts) — the fully-online face of
    ``tokens_engine.backfill_features``. Two chained stateful operators
    (stream-stream leftOuter interval join, then event-time
    aggregation keyed on the watermarked request timestamp; Spark 3.5+/
    4.x multiple-stateful-operator support): join state is evicted by
    the time-range condition + watermarks, aggregation state finalizes
    when the watermark passes the request — so every emitted row is
    complete and exactly equals the batch value (pytest-proven),
    including zero-event requests via the leftOuter null side. Requests
    later than the watermark bound are withheld, never emitted wrong —
    the standard completeness/latency trade.

    Event-time columns are cast to TIMESTAMP (watermarks reject NTZ;
    the session timezone is expected to be UTC, making the cast a
    representation change only)."""
    from mhealth_spark.tokens_engine import _lookback_aggs

    r = (
        requests.withColumn(request_ts, F.col(request_ts).cast("timestamp"))
        .withWatermark(request_ts, request_watermark)
        .alias("r")
    )
    e = (
        events.withColumn(event_ts, F.col(event_ts).cast("timestamp"))
        .withWatermark(event_ts, event_watermark)
        .alias("e")
    )
    lb_s = int(lookback_hours * 3600)
    cond = (
        (F.col(f"e.{entity_col}") == F.col(f"r.{entity_col}"))
        & (F.col(f"e.{event_ts}") <= F.col(f"r.{request_ts}"))
        & (
            F.col(f"e.{event_ts}")
            > F.col(f"r.{request_ts}") - F.expr(f"INTERVAL {lb_s} SECONDS")
        )
    )
    return (
        r.join(e, cond, "leftOuter")
        .groupBy(
            F.col(f"r.{entity_col}").alias(entity_col),
            F.col(f"r.{request_ts}").alias("ts"),
        )
        .agg(*_lookback_aggs(F.col("e.n_tok")))
    )


def stream_stream_labels(
    requests: DataFrame,
    events: DataFrame,
    entity_col: str = "source",
    event_ts: str = "ts",
    request_ts: str = "ts",
    horizon_hours: float = 24.0,
    request_watermark: str | None = None,
    event_watermark: str = "2 hours",
) -> DataFrame:
    """The label mirror of ``stream_stream_backfill``: requests and
    events both streaming, each request aggregating the STRICT-FUTURE
    window ``(r.ts, r.ts + horizon]`` — online label materialization
    for the supervised pipeline (count/sum of future docs +
    time-to-next-event). Same chained stateful shape (stream-stream
    leftOuter interval join → event-time aggregation).

    Watermark arithmetic differs from the backward face: a request can
    only finalize after its whole horizon has PASSED on the event
    stream, so the request-side watermark must be at least
    ``horizon + event lateness`` — the label emission latency any
    online labeler pays. Defaulted accordingly; exact agreement with
    batch ``label_horizon_features`` on every emitted row is
    pytest-proven."""
    from mhealth_spark.tokens_engine import _label_aggs

    if request_watermark is None:
        # derive from the ACTUAL event watermark — a hard-coded 7200 s
        # would only satisfy "request watermark >= horizon + event
        # lateness" for the default event_watermark='2 hours'
        request_watermark = (
            f"{int(horizon_hours * 3600) + _interval_seconds(event_watermark)}"
            " seconds"
        )
    r = (
        requests.withColumn(request_ts, F.col(request_ts).cast("timestamp"))
        .withWatermark(request_ts, request_watermark)
        .alias("r")
    )
    e = (
        events.withColumn(event_ts, F.col(event_ts).cast("timestamp"))
        .withWatermark(event_ts, event_watermark)
        .alias("e")
    )
    hz_s = int(horizon_hours * 3600)
    cond = (
        (F.col(f"e.{entity_col}") == F.col(f"r.{entity_col}"))
        & (F.col(f"e.{event_ts}") > F.col(f"r.{request_ts}"))
        & (
            F.col(f"e.{event_ts}")
            <= F.col(f"r.{request_ts}") + F.expr(f"INTERVAL {hz_s} SECONDS")
        )
    )
    return (
        r.join(e, cond, "leftOuter")
        .groupBy(
            F.col(f"r.{entity_col}").alias(entity_col),
            F.col(f"r.{request_ts}").alias("ts"),
        )
        .agg(*_label_aggs(event_ts, request_ts))
    )


def stream_hour_partials(
    tokens: DataFrame,
    entity_col: str = "source",
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming face of ``tokens_engine.hour_partials``: maintain the
    (entity, hour-ceiling] monoid rollup from a LIVE event stream — one
    watermarked windowed aggregation emitting each hour's finalized
    partial row (count / token sum / max length / min+max event ts) in
    append mode. Feed the emitted rows straight into
    ``merge_hour_partials`` against the persisted partial table and
    assemble features with ``training_set_grid(partials=...)`` — the
    full online ingest loop with NO history rescans, pytest-proven
    equal to the one-shot batch build on closed hours.

    Boundary parity with the batch op: the batch partial keys by hour
    CEILING with an exactly-on-the-hour event in the LOWER interval;
    ``window()`` is floor-based, so the event time is shifted back 1 µs
    before windowing — ts ∈ (H-1h, H] lands in [H-1h, H) and the
    window END is exactly the batch ``_hr``."""
    t = F.col(ts_col).cast("timestamp")
    shifted = t - F.expr("INTERVAL 1 MICROSECOND")
    return (
        tokens.withColumn("_ts", t)
        .withColumn("_tsw", shifted)
        .withWatermark("_tsw", watermark)
        .groupBy(
            F.col(entity_col), F.window("_tsw", "1 hour").alias("_w")
        )
        .agg(
            F.count("n_tok").alias("_n"),
            F.sum("n_tok").alias("_s"),
            F.max("n_tok").alias("_mx"),
            F.min("_ts").alias("_mnts"),
            F.max("_ts").alias("_mxts"),
        )
        .select(
            entity_col,
            F.col("_w.end").alias("_hr"),
            "_n",
            "_s",
            "_mx",
            "_mnts",
            "_mxts",
        )
    )


def stream_training_set(
    tokens: DataFrame,
    partials_path: str,
    output_path: str,
    entity_col: str = "source",
    ts_col: str = "ts",
    watermark: str = "2 hours",
    lookbacks_hours: tuple[int, ...] = (1, 24),
    horizon_hours: int = 24,
    extra_label_horizons: tuple[int, ...] = (),
):
    """The packaged ONLINE training-set loop: live events in, finalized
    leakage-clean training rows out, one call. Composes the pieces the
    batch≡stream suite already proves individually —
    ``stream_hour_partials`` (watermarked hour rollup, append mode) into
    a persisted partial store, then ``training_set_grid(partials=...)``
    per micro-batch — behind ``foreachBatch``, because a trailing/
    leading range-window over the partial grid is not expressible as a
    chained streaming aggregation (Spark only chains tumbling windows).

    Emission contract: a request row (entity, H) is written exactly
    once, and only when every hour its windows touch is CLOSED — i.e.
    ``H + horizon_hours <= max partial hour seen for that entity`` (all
    stored partials are watermark-finalized, so hours at or below an
    entity's frontier with no partial row had zero events). Rows land
    under ``output_path/batch=<id>``; both stores are written with
    per-batch ``mode("overwrite")`` into the batch's own directory, so a
    replayed micro-batch (at-least-once ``foreachBatch``) rewrites the
    same files instead of duplicating — the emitted-row set is exactly-
    once. The already-emitted frontier is recovered from the output
    store itself (excluding the live batch's directory), so there is no
    side state to lose.

    Scale shape: the event stream is touched only by the single
    watermarked aggregation; everything inside the batch function —
    store read, dedup, frontier join, window assembly — is bounded by
    the partial GRID (|entities| x |hours|), never the corpus. Seed
    ``partials_path/batch=-1`` with a batch ``hour_partials`` build to
    warm-start from history without rescanning it.

    Returns the configured ``DataStreamWriter`` — attach a trigger and
    ``checkpointLocation`` and ``.start()``."""
    finalized = stream_hour_partials(tokens, entity_col, ts_col, watermark)
    emit = _training_set_emit_fn(
        partials_path,
        output_path,
        entity_col,
        lookbacks_hours,
        horizon_hours,
        extra_label_horizons,
    )
    return finalized.writeStream.outputMode("append").foreachBatch(emit)


def _training_set_emit_fn(
    partials_path: str,
    output_path: str,
    entity_col: str = "source",
    lookbacks_hours: tuple[int, ...] = (1, 24),
    horizon_hours: int = 24,
    extra_label_horizons: tuple[int, ...] = (),
):
    """The ``foreachBatch`` body of ``stream_training_set``, factored so
    the retry/idempotency/incremental contracts are directly unit-
    testable on static partial frames (same shape as the streamed
    batches). ``batch`` must be hour-partial rows (``hour_partials``
    schema)."""
    from mhealth_spark.tokens_engine import training_set_grid

    def _emit(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        batch.write.mode("overwrite").parquet(
            f"{partials_path}/batch={batch_id}"
        )
        store = (
            spark.read.parquet(partials_path)
            .drop("batch")
            .dropDuplicates([entity_col, "_hr"])
        )
        store = store.localCheckpoint()
        rows = training_set_grid(
            None,
            entity_col=entity_col,
            lookbacks_hours=lookbacks_hours,
            horizon_hours=horizon_hours,
            partials=store,
            extra_label_horizons=extra_label_horizons,
        )
        closed = store.groupBy(entity_col).agg(F.max("_hr").alias("_frontier"))
        rows = rows.join(F.broadcast(closed), entity_col).filter(
            F.col("ts") + F.expr(f"INTERVAL {int(horizon_hours)} HOUR")
            <= F.col("_frontier")
        )
        prev = _read_store_excluding(spark, output_path, batch_id)
        if prev is not None:
            prev = prev.groupBy(entity_col).agg(F.max("ts").alias("_emitted"))
        if prev is not None:
            rows = rows.join(F.broadcast(prev), entity_col, "left").filter(
                F.col("_emitted").isNull() | (F.col("ts") > F.col("_emitted"))
            ).drop("_emitted")
        rows.drop("_frontier").write.mode("overwrite").parquet(
            f"{output_path}/batch={batch_id}"
        )

    return _emit


def stream_drift_psi(
    docs: DataFrame,
    baseline: dict[str, list[int]],
    entity_col: str = "source",
    ts_col: str = "ts",
    alpha: float = 0.5,
    max_bucket: int = 13,
    window: str = "1 day",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming face of ``tokens_engine.drift_psi``: each (entity, day
    window)'s length distribution scored against a FROZEN per-entity
    baseline histogram (train on the reference corpus, ship ~14 ints per
    entity). ONE stateful operator — the per-bucket counts are
    conditional aggregates inside a single windowed groupBy (no chained
    stateful aggs), and the PSI is a plain expression folding the 14
    (count, baseline) pairs in bucket order, bit-matching the batch
    fold over the same inputs. Rows emit when the watermark closes the
    day — the online "today's data changed shape" alarm.

    ``baseline[entity]`` = list of ``max_bucket+1`` counts (e.g. one
    row group of ``drift_psi``'s pooled window, or any reference day
    histogram). Entities absent from the table emit NULL psi."""
    n_buckets = int(max_bucket) + 1
    t = F.col(ts_col).cast("timestamp")
    bucket = F.least(
        F.floor(F.log2(F.greatest(F.col("n_tok"), F.lit(1)))),
        F.lit(int(max_bucket)),
    ).cast("int")
    counts = [
        F.count(F.when(F.col("_b") == b, True)).alias(f"_c{b}")
        for b in range(n_buckets)
    ]
    agg = (
        docs.withColumn("_b", bucket)
        .withColumn(ts_col, t)
        .withWatermark(ts_col, watermark)
        .groupBy(F.col(entity_col), F.window(ts_col, window).alias("_w"))
        .agg(F.count("*").alias("n_today"), *counts)
    )
    base_entries = []
    for ent in sorted(baseline):
        hist = list(baseline[ent])
        if len(hist) != n_buckets:
            raise ValueError(
                f"baseline[{ent!r}] must have {n_buckets} buckets"
            )
        base_entries += [
            F.lit(ent),
            F.array(*[F.lit(int(c)) for c in hist]),
        ]
    bmap = F.create_map(*base_entries) if base_entries else F.create_map()
    bcol = bmap[F.col(entity_col)]
    nb = F.aggregate(
        bcol, F.lit(0).cast("long"), lambda a, x: a + x.cast("long")
    )
    a_lit = float(alpha)
    denom_t = F.col("n_today").cast("double") + F.lit(a_lit * n_buckets)
    denom_b = nb.cast("double") + F.lit(a_lit * n_buckets)
    psi = F.lit(0.0)
    for b in range(n_buckets):
        p = (F.col(f"_c{b}").cast("double") + F.lit(a_lit)) / denom_t
        q = (
            F.element_at(bcol, b + 1).cast("double") + F.lit(a_lit)
        ) / denom_b
        psi = psi + (p - q) * F.log(p / q)
    return agg.select(
        entity_col,
        F.col("_w.start").alias("day"),
        "n_today",
        nb.alias("n_base"),
        psi.alias("psi"),
    )


def stream_bm25_score(
    docs: DataFrame,
    idf: dict[str, float],
    avgdl: float,
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    min_score: float | None = None,
) -> DataFrame:
    """Streaming-ingest twin of ``text.bm25_scores``: score arriving
    documents against FROZEN corpus stats (train once on the static
    reference corpus via ``text.bm25_stats``, ship |query| idf doubles
    + avgdl). State-free and map-only — a pure whole-stage-codegen
    Column expression (``text.bm25_score_expr``), no watermark, no
    shuffle, no Python — so it composes with the other ingest-gate
    faces (decontaminate, exact dedup, dsir) in one pass. Scores are
    bit-identical to the batch op's per-doc sums (pytest-proven); docs
    sharing no query term score exactly 0.0 (the batch op emits no row
    for them — ranking vs gating). ``min_score`` turns it into a
    relevance ingest filter."""
    from mhealth_spark.pipelines.text import bm25_score_expr

    out = docs.withColumn(
        "bm25", bm25_score_expr(idf, avgdl, text_col=text_col, k1=k1, b=b)
    )
    if min_score is not None:
        out = out.filter(F.col("bm25") >= min_score)
    return out


def stream_ann_serve(
    queries: DataFrame,
    encoded_rows: list,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    k: int = 5,
    n_probe: int = 4,
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Streaming ANN serving over an in-memory IVF-PQ index: each
    arriving query probes its ``n_probe`` coarse lists and ADC-scores
    the candidates entirely inside an Arrow-vectorized pandas UDF — the
    pattern real vector-serving uses (the PQ index lives in RAM on every
    node; compressing d floats to M byte codes is exactly what makes
    that possible: 10^9 vectors ≈ M GB + ids). State-free and map-only,
    so it needs no watermark and composes with the other ingest faces;
    per-query results are EXACTLY the batch ``ann_ivfpq_adc`` ranks
    (same 9-dp LUT rounding, same tie rule), pytest-proven.

    ``encoded_rows`` is the collected PQ index [(id, cid, codes), ...] —
    at scale ship it via ``sparkContext.broadcast`` of the same triple
    list (the sandbox passes it directly; the closure serializes it to
    every executor either way). Emits one row per (query, rank)."""
    import numpy as np

    cents = np.asarray(centroids, dtype=np.float64)  # NC x d
    cb = [np.asarray(c, dtype=np.float64) for c in codebooks]  # M x (Ks x ds)
    m_count = len(cb)
    ds = cb[0].shape[1]
    ids = np.asarray([r[0] for r in encoded_rows], dtype=np.int64)
    cids = np.asarray([r[1] for r in encoded_rows], dtype=np.int64)
    codes = np.asarray([r[2] for r in encoded_rows], dtype=np.int64)  # N x M
    order = np.argsort(cids, kind="stable")
    ids, cids, codes = ids[order], cids[order], codes[order]
    list_bounds = np.searchsorted(cids, np.arange(len(cents) + 1))
    cnorm = np.linalg.norm(cents, axis=1)

    from pyspark.sql.functions import pandas_udf

    @pandas_udf(
        "array<struct<neighbor_id: long, adc_dist: double, rank: int>>"
    )
    def serve(qids: pd.Series, vecs: pd.Series) -> pd.Series:
        out = []
        for qid, v in zip(qids, vecs):
            qv = np.asarray(v, dtype=np.float64)
            cos = _round_half_up(cents @ qv / (cnorm * np.linalg.norm(qv)), 9)
            probed = sorted(range(len(cents)), key=lambda i: (-cos[i], i))[
                :n_probe
            ]
            cand_ids, cand_adc = [], []
            for cid in probed:
                lo, hi = list_bounds[cid], list_bounds[cid + 1]
                if lo == hi:
                    continue
                qr = qv - cents[cid]
                lut = np.stack(
                    [
                        _round_half_up(
                            ((cb[m] - qr[m * ds : (m + 1) * ds]) ** 2).sum(
                                axis=1
                            ),
                            9,
                        )
                        for m in range(m_count)
                    ]
                )  # M x Ks
                sel = ids[lo:hi] != qid
                c_codes = codes[lo:hi][sel]
                # left-to-right accumulation, same order as the SQL fold
                adc = np.zeros(len(c_codes))
                for m in range(m_count):
                    adc += lut[m][c_codes[:, m]]
                cand_ids.append(ids[lo:hi][sel])
                cand_adc.append(adc)
            if not cand_ids:
                out.append([])
                continue
            cand_ids = np.concatenate(cand_ids)
            cand_adc = np.concatenate(cand_adc)
            key = np.lexsort((cand_ids, _round_half_up(cand_adc, 9)))[:k]
            out.append(
                [
                    {
                        "neighbor_id": int(cand_ids[j]),
                        "adc_dist": float(cand_adc[j]),
                        "rank": r + 1,
                    }
                    for r, j in enumerate(key)
                ]
            )
        return pd.Series(out)

    return (
        queries.withColumn(
            "_r", serve(F.col(query_id_col), F.col(vec_col))
        )
        .select(F.col(query_id_col), F.explode("_r").alias("n"))
        .select(
            query_id_col,
            F.col("n.neighbor_id").alias("neighbor_id"),
            F.col("n.adc_dist").alias("adc_dist"),
            F.col("n.rank").alias("rank"),
        )
    )


def stream_line_dedup(
    docs: DataFrame,
    dup_hashes: set,
    text_col: str = "text",
    line_sep: str = "\n",
) -> DataFrame:
    """Streaming-ingest twin of ``text.line_dedup`` (drop-all mode):
    strip boilerplate lines from arriving documents against a FROZEN
    duplicated-line hash set (built once from a reference corpus via
    ``text.line_duplicate_hashes`` — boilerplate sets are output-sized
    and change slowly, the same freshness argument as the decontaminate
    face's benchmark set). State-free and map-only: split on
    ``line_sep``, keep the lines whose batch line hash is not in the
    set, rebuild the text in original order. Emits (…, n_lines, n_kept,
    text_clean) exactly like the batch op; NULL text gives (0, 0, '')."""
    from mhealth_spark.pipelines.text import _line_hash

    lines = _or_empty(F.split(F.col(text_col), line_sep))
    kept = F.filter("_l", lambda ln: ~_isin_frozen(_line_hash(ln), dup_hashes))
    return (
        docs.withColumn("_l", lines)
        .withColumn("_k", kept)
        .withColumn("n_lines", F.size("_l").cast("long"))
        .withColumn("n_kept", F.size("_k").cast("long"))
        .withColumn("text_clean", F.concat_ws(line_sep, "_k"))
        .drop("_l", "_k")
    )


def stream_winnow_match(
    docs: DataFrame,
    index_hashes: set,
    k: int = 5,
    w: int = 4,
    text_col: str = "text",
    min_matches: int = 2,
) -> DataFrame:
    """Streaming-ingest face of the MOSS chain: flag arriving documents
    whose winnowing sketch overlaps a FROZEN reference fingerprint index
    (built once via ``text.winnow_fingerprints`` over the protected
    corpus — benchmark sets, licensed text, already-ingested data).
    State-free and map-only: the batch op's k-gram strings and
    ``(hash, pos)`` sort key, one key per gram, then the minimum key of
    each full ``w``-slice (the whole doc when it is shorter) — the batch
    op's windowed rightmost-minimum. Emits n_fingerprints (distinct
    selected hashes), n_matched (those in the index), and a flag at
    ``min_matches`` — the ingest twin of ``dedup_winnow_pairs``'s
    pairing rule. NULL text has an empty sketch."""
    from mhealth_spark.pipelines.text import _gram_strings, _winnow_key, words_col

    grams = F.filter(
        _or_empty(_gram_strings(words_col(text_col), k)), lambda g: g != F.lit("")
    )
    keys = F.transform(grams, lambda g, pos: _winnow_key(F.md5(g), pos))
    starts = F.sequence(F.lit(0), F.greatest(F.size("_keys") - w, F.lit(0)))
    mins = F.transform(starts, lambda p: F.array_min(F.slice("_keys", p + 1, w)))
    sketch = F.array_distinct(
        F.transform(
            F.filter(mins, lambda m: m.isNotNull()), lambda m: F.substring(m, 1, 32)
        )
    )
    return (
        docs.withColumn("_keys", keys)
        .withColumn("_sketch", sketch)
        .withColumn("n_fingerprints", F.size("_sketch"))
        .withColumn(
            "n_matched",
            F.size(F.filter("_sketch", lambda h: _isin_frozen(h, index_hashes))),
        )
        .drop("_keys", "_sketch")
        .withColumn("winnow_flagged", F.col("n_matched") >= min_matches)
    )


def _read_store_excluding(spark, path: str, batch_id: int) -> DataFrame | None:
    """Read a per-batch-partitioned parquet store, excluding the LIVE
    batch's own directory (exactly-once under foreachBatch replays).
    Returns None when the store does not exist yet (first batch)."""
    from pyspark.errors import AnalysisException

    try:
        return (
            spark.read.parquet(path)
            .filter(F.col("batch") != batch_id)
            .drop("batch")
        )
    except AnalysisException:  # first batch: no store yet
        return None


_PBUCKETS = 256

_LAYOUT_MARKER = "_store_layout.json"


def _assert_store_layout(path: str, layout: dict) -> None:
    """Pin a store's layout parameters (e.g. the pbucket modulus) in a
    dot-file beside the data: written on first use, asserted equal on
    every later run. A probe against a store built under a different
    modulus joins on incompatible pbucket values and silently matches
    NOTHING — this turns that silent recall hole into an immediate,
    actionable error. Local-FS marker matching ``compact_batch_store``'s
    documented FS contract (the ``batch=`` scheme ignores non-batch
    files, and a leading underscore hides it from parquet readers)."""
    import json
    import os

    marker = os.path.join(path, _LAYOUT_MARKER)
    if os.path.exists(marker):
        with open(marker) as f:
            stored = json.load(f)
        # compare only the keys the stored marker actually pinned: a
        # marker written before the schema grew (2 keys → 6 in r5) must
        # not brick a parameter-compatible store; the hard error stays
        # reserved for GENUINE mismatches on pinned keys (ADVICE r5).
        # Keys the legacy marker never pinned are deliberately NOT
        # backfilled — stamping the probing run's unverified values
        # would bless them as the store's identity (and a later run
        # with the truly-matching parameters would then hard-error
        # against the wrong pin). Rebuild/compact to upgrade a legacy
        # store to a fully-pinned marker.
        mismatched = {
            k: (stored[k], layout[k])
            for k in stored
            if k in layout and stored[k] != layout[k]
        }
        if mismatched:
            raise ValueError(
                f"store at {path} was built with layout {stored}; this run "
                f"requests {layout} — probing would silently miss every "
                "duplicate. Rebuild/compact the store or match its layout."
            )
        return
    os.makedirs(path, exist_ok=True)
    with open(marker, "w") as f:
        json.dump(layout, f)


def _with_pbucket(df: DataFrame, n: int = _PBUCKETS) -> DataFrame:
    """Derive the survivor-index partition key: an n-way non-negative
    hash of the LSH bucket value. Banding alone cannot prune (a batch
    touches every band), but a batch's (band, bucket) set is highly
    selective over pbucket — the column that makes the probe's dynamic
    partition filter effective."""
    return df.withColumn(
        "pbucket",
        F.pmod(F.xxhash64(F.col("bucket")), F.lit(n)).cast("int"),
    )


def _probe_minhash_index(
    store: DataFrame,
    nb: DataFrame,
    id_col: str,
    broadcast_new: bool = True,
    n_partitions: int = _PBUCKETS,
) -> DataFrame:
    """Index-kill probe shared by the online gate and its tests: join
    the batch's band buckets against the persisted survivor index on
    (pbucket, band, bucket) and return each killed id with its smallest
    colliding survivor as (id, dup_of). With the store partitioned by
    pbucket, the broadcast probe side reaches the index scan as a
    dynamic partition filter — per-batch index IO is bounded by touched
    buckets, not store size."""
    probe = _with_pbucket(nb, n_partitions).withColumnRenamed(id_col, "_new")
    if broadcast_new:
        probe = F.broadcast(probe)
    return (
        store.select(F.col(id_col).alias("_old"), "pbucket", "band", "bucket")
        .join(probe, ["pbucket", "band", "bucket"])
        .groupBy(F.col("_new").alias(id_col))
        .agg(F.min("_old").alias("dup_of"))
    )


def _greedy_kills(pairs) -> list:
    """Greedy maximal independent set of a collision graph in ascending-id
    (arrival) order: a node is killed by its smallest KEPT neighbor.
    Returns the killed nodes as [(id, dup_of)]."""
    nbrs: dict = {}
    for a, b in pairs:
        nbrs.setdefault(a, set()).add(b)
        nbrs.setdefault(b, set()).add(a)
    kept: set = set()
    out = []
    for v in sorted(nbrs):  # ascending id == arrival order in batch
        hit = kept & nbrs[v]
        if hit:
            out.append((v, min(hit)))
        else:
            kept.add(v)
    return out


def _kill_frame(spark, rows: list, id_col: str, id_t: str) -> DataFrame:
    """(id, dup_of) rows collected on the driver as a local relation.
    Built from an Arrow table (empty included), so scanning it never
    starts a Python worker the way a parallelized list does."""
    import pyarrow as pa

    ids, dups = (list(c) for c in zip(*rows)) if rows else ([], [])
    return spark.createDataFrame(
        pa.table({id_col: pa.array(ids), "dup_of": pa.array(dups)}),
        f"`{id_col}` {id_t}, dup_of {id_t}",
    )


def _greedy_mis_kill(
    spark,
    in_pairs: DataFrame,
    id_col: str,
    id_t: str,
    max_iter: int = 50,
    max_driver_edges: int | None = None,
) -> DataFrame:
    """In-batch duplicate resolution shared by the online dedup gates:
    greedy maximal-independent-set of the batch collision graph
    (``id_a``, ``id_b`` pairs) in ascending-id order; returns the killed
    rows as (id, dup_of).

    Size-adaptive like ``neardup_components``: a pair list of at most
    ``max_driver_edges`` rows with no NULL id is collected by one job
    and resolved on the driver. Greedy in ascending order over the whole
    graph equals greedy per connected component, so no components step
    is needed. Larger graphs (and NULL ids, which cannot be ordered)
    take the distributed path: connected components, then the same
    greedy per component in ``applyInPandas``."""
    from mhealth_spark.pipelines.dedup import _MAX_DRIVER_EDGES, neardup_components

    if max_driver_edges is None:
        max_driver_edges = _MAX_DRIVER_EDGES
    schema = f"`{id_col}` {id_t}, dup_of {id_t}"
    rows = in_pairs.select("id_a", "id_b").limit(max_driver_edges + 1).collect()
    if len(rows) <= max_driver_edges and all(
        a is not None and b is not None for a, b in rows
    ):
        return _kill_frame(spark, _greedy_kills(rows), id_col, id_t)
    # the pair list is read twice below (components, then the edge join)
    in_pairs = in_pairs.localCheckpoint(eager=True)
    comp = neardup_components(
        in_pairs, max_iter=max_iter, max_driver_edges=max_driver_edges
    )
    edges = in_pairs.join(
        comp.withColumnRenamed("doc_id", "id_a"), "id_a"
    ).select("cluster_id", "id_a", "id_b")

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            _greedy_kills(zip(pdf["id_a"], pdf["id_b"])),
            columns=[id_col, "dup_of"],
        )

    # eager: both gates read the kills more than once
    return (
        edges.groupBy("cluster_id")
        .applyInPandas(greedy, schema)
        .localCheckpoint(eager=True)
    )


def stream_minhash_dedup(
    docs: DataFrame,
    index_path: str,
    output_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 5,
    hash_fn: str = "xxh",
    broadcast_new: bool = True,
    components_max_iter: int = 50,
    index_partitions: int | None = None,
    max_bucket: int | None = None,
):
    """Online near-duplicate ingest gate: the streaming face of
    ``dedup.minhash_lsh_candidates_incremental`` closed into a KEEP/DROP
    decision per arriving document, with the survivor index maintained
    in place — the lambda bridge ``stream_hour_partials`` provides for
    aggregates, here for fuzzy dedup.

    Contract (greedy first-survivor-wins): documents are processed in
    (micro-batch, id) order; a document is a duplicate iff it LSH-
    collides with an earlier SURVIVOR — either one already in the
    persisted index or a smaller-id survivor in its own batch. This is
    the greedy maximal-independent-set of the collision graph in arrival
    order, the standard ONLINE dedup semantics: it is deliberately not
    the batch pipeline's global min-per-component (impossible online —
    a later, smaller-id member of a component cannot retroactively evict
    an already-emitted survivor). Only survivors enter the index, so the
    index stays duplicate-free and grows sub-linearly on dup-heavy
    streams. Collision == duplicate (the probabilistic LSH contract,
    same as the batch candidate op); the index stores signatures only,
    so an exact-Jaccard verify tier would need survivor text retained
    downstream — run ``jaccard_verify_pairs`` there if needed.

    Scale shape: the probe joins the index on (pbucket, band, bucket) —
    pbucket is an n-way hash of the LSH bucket key — with the BATCH side
    broadcast (``broadcast_new=False`` falls back to a shuffled
    equi-join for jumbo backfill batches); the index is never shuffled.
    ``index_partitions`` picks the index layout by deployment scale:
    None (default) persists it flat — right while the survivor set is
    small, where per-batch partition-directory overhead dominates
    (measured: BENCH/ONLINE_GATES.md); an int (e.g. 256) persists it
    PARTITIONED BY pbucket, and the batch's selective pbucket set then
    reaches the index scan as a dynamic partition filter (plan-asserted
    in pytest) — per-batch index IO bounded by touched buckets, not
    store size, the warehouse-scale posture. Partitioned stores need
    periodic ``compact_batch_store(..., partition_by=["pbucket"])`` or
    generation count multiplies the directory fan-out. In-batch
    resolution is bounded by the batch's own collision graph, never the
    corpus, and follows ``neardup_components``' size rule: a pair list
    of at most 200k edges with no NULL id is collected by one job and
    the ascending-id greedy runs on the driver (greedy over the whole
    graph equals greedy per component, so no components step). Above
    that, or with NULL ids, it falls back to connected components plus a
    per-component greedy in ``applyInPandas`` — ``components_max_iter``
    bounds that path's label-propagation rounds (one per hop of
    component diameter; raise it for pathological in-batch drift chains,
    where ``neardup_components`` raises rather than half-merge). The
    index kills (at most one per batch document) are collected too, and
    the decisions are written by one broadcast join of all kills onto
    the batch, so a small batch runs ~15 Spark jobs.
    EXACT duplicates pre-collapse before the LSH graph
    (the minimum id per text fingerprint represents it): a mass-
    duplicate backfill batch — millions of identical boilerplate pages,
    the realistic crawler case — would otherwise make every bucket's
    pair expansion quadratic in the copy count. The collapse preserves
    the greedy semantics EXACTLY, not approximately: identical text ⇒
    identical signature ⇒ identical collision neighborhood, so a member
    is killed by its representative when the representative survives
    and inherits the representative's killer otherwise (pytest-asserted
    against the uncollapsed sequential greedy). Exactly-once under
    ``foreachBatch`` retries: both
    stores write ``mode("overwrite")`` into the batch's own
    ``batch=<id>`` directory and every read of the index excludes the
    live batch's directory, so a replayed micro-batch rewrites the same
    files — the emitted decisions and the index contents are replay-
    stable (ids are assumed unique across the stream).

    Returns the configured ``DataStreamWriter`` — attach a trigger and
    ``checkpointLocation`` and ``.start()``.
    """
    from mhealth_spark.pipelines.dedup import bucket_pairs, minhash_index

    # pbucket derivation modulus must match between store and probe; it
    # only becomes a physical layout when index_partitions is set
    n_pb = index_partitions or _PBUCKETS

    def _emit(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        # the modulus (and flat-vs-partitioned layout) is part of the
        # INDEX's identity, not the run's: probing a store built with a
        # different modulus silently matches nothing (every duplicate
        # missed, no error). So are the SIGNATURE parameters — a store
        # built under hash_fn='xxh' probed with 'md5' signatures (or a
        # different num_hashes/band_size/shingle_n) produces disjoint
        # (band, bucket) values: same silent recall hole, same cure.
        # Persist all of it beside the data on first write and refuse to
        # run against a mismatched store.
        _assert_store_layout(
            index_path,
            {
                "pbucket_modulus": n_pb,
                "partitioned": bool(index_partitions),
                "num_hashes": num_hashes,
                "band_size": band_size,
                "shingle_n": shingle_n,
                "hash_fn": hash_fn,
            },
        )
        # exact-duplicate pre-collapse: each text fingerprint's minimum
        # id (``_rep``) represents it, and only representatives enter the
        # LSH graph (see docstring — semantics preserved exactly, pair
        # expansion bounded by DISTINCT texts). A NULL id is never
        # emitted: it can neither represent nor be ordered.
        bdocs = (
            batch.select(id_col, text_col)
            .filter(F.col(id_col).isNotNull())
            .dropDuplicates([id_col])
            .withColumn(
                "_rep",
                F.min(id_col).over(Window.partitionBy(F.md5(F.col(text_col)))),
            )
            .localCheckpoint(eager=True)
        )
        nb = minhash_index(
            bdocs.filter(F.col(id_col) == F.col("_rep")),
            id_col, text_col, num_hashes, band_size, shingle_n, hash_fn,
        ).localCheckpoint(eager=True)
        store = _read_store_excluding(spark, index_path, batch_id)
        id_t = dict(bdocs.dtypes)[id_col]
        # index kills: at most one per batch representative, so they
        # come to the driver and go back as a small local frame
        killed_idx = _kill_frame(
            spark,
            []
            if store is None
            else _probe_minhash_index(store, nb, id_col, broadcast_new, n_pb).collect(),
            id_col,
            id_t,
        )
        alive_sigs = nb.join(F.broadcast(killed_idx), id_col, "left_anti")
        # in-batch pairs among index-surviving docs: the same groupBy-
        # bucket expansion the batch op uses (id_a < id_b, shared helper).
        # max_bucket guards the one hot-bucket surface the gate has: a
        # NEAR-identical template flood (non-exact, so the pre-collapse
        # misses it) puts k batch reps in one bucket → k²/2 pairs in one
        # un-splittable task. The PROBE join needs no cap: the survivor
        # index is collision-free by construction (a doc sharing any
        # bucket with a survivor is killed, so each (band, bucket) holds
        # ≤1 survivor — capped runs weaken this to ≤ per-batch skips).
        # Skipped buckets are counted per batch (visible, never silent).
        if max_bucket is not None:
            from mhealth_spark.pipelines.dedup import (
                _bucket_groups,
                _pairs_from_groups,
            )

            # ONE (band, bucket) aggregation feeds both the audit count
            # and the pair expansion — a second full groupBy per trigger
            # just to maybe print a warning is a whole extra job on the
            # driver-floor-bound per-batch path
            groups = _bucket_groups(alive_sigs, id_col).localCheckpoint(
                eager=True
            )
            n_hot = groups.filter(F.size("ids") > max_bucket).count()
            if n_hot:
                print(
                    f"stream_minhash_dedup batch={batch_id}: "
                    f"skipped {n_hot} over-cap bucket(s) (max_bucket="
                    f"{max_bucket}) — recall bounded, cost capped"
                )
            in_pairs = _pairs_from_groups(
                groups.filter(F.size("ids") <= max_bucket)
            ).distinct()
        else:
            in_pairs = bucket_pairs(alive_sigs, id_col)

        kills = F.broadcast(
            killed_idx.unionByName(
                _greedy_mis_kill(spark, in_pairs, id_col, id_t, components_max_iter)
            )
        )
        # a representative keeps the fate recorded for its own id; an
        # exact-dup member is killed by its representative when that
        # survives and inherits the representative's killer otherwise
        dup_of = (
            F.when(F.col(id_col) == F.col("_rep"), F.col("_k"))
            .otherwise(F.coalesce("_k", "_rep"))
        )
        bdocs.join(
            kills.select(F.col(id_col).alias("_rep"), F.col("dup_of").alias("_k")),
            "_rep",
            "left",
        ).select(
            id_col, dup_of.isNotNull().alias("is_dup"), dup_of.alias("dup_of")
        ).write.mode("overwrite").parquet(f"{output_path}/batch={batch_id}")
        surv = _with_pbucket(
            nb.join(kills.select(id_col), id_col, "left_anti"), n_pb
        ).write.mode("overwrite")
        if index_partitions:
            surv = surv.partitionBy("pbucket")
        surv.parquet(f"{index_path}/batch={batch_id}")

    return docs.writeStream.outputMode("append").foreachBatch(_emit)


def stream_semantic_dedup(
    emb: DataFrame,
    centroids: list,
    store_path: str,
    output_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    broadcast_new: bool = True,
    components_max_iter: int = 50,
):
    """Online SemDeDup ingest gate — the embedding analog of
    ``stream_minhash_dedup``: each arriving vector is KEPT or DROPPED by
    cosine >= ``threshold`` against earlier SURVIVORS, with comparisons
    bounded to the vector's coarse IVF cluster (the SemDeDup contract:
    duplicates never straddle coarse clusters). Greedy first-survivor-
    wins in (micro-batch, id) order, exactly the minhash gate's
    semantics; only survivors enter the persisted store, so it stays
    duplicate-free.

    ``centroids`` is the FIXED coarse quantizer (list of vectors, e.g.
    ``similarity.pick_centroids`` over a warm-start corpus, or Lloyd-
    refined) — it must not drift while the stream runs, or cluster-
    bounded comparisons against the existing store would silently miss
    duplicates; re-quantizing requires rebuilding the store offline.
    ENFORCED: a centroid fingerprint is pinned in the store's layout
    marker on first use and a mismatched rerun fails fast instead of
    silently admitting every cross-run duplicate.

    Scale shape: assignment is the map-only centroid-literal argmax
    (``ivf_assign``) — no shuffle; the survivor store persists
    PARTITIONED BY cid and the probe joins the BATCH's assigned vectors
    (broadcast when ``broadcast_new``, bounded by the micro-batch)
    against it on cid, so the probe prunes the scan to the batch's
    touched clusters and the store is never shuffled. Survivor rows
    persist (id, cid, v, nrm) — norms are computed once, at ingest;
    zero-norm vectors (failed/padded embeddings) have undefined cosine
    and are null-guarded so they never match and never throw under ANSI
    mode (a bare division would poison-pill the stream on replay).
    Exactly-once via per-batch overwrite directories, live batch
    excluded from every store read (shared ``_read_store_excluding``
    contract); compact generations with
    ``compact_batch_store(..., partition_by=["cid"])``. Cosines compare
    at 9 dp (``F.round``), matching the batch ``semantic_pairs`` refine.
    ``components_max_iter`` as in ``stream_minhash_dedup``.

    Returns the configured ``DataStreamWriter`` — attach a trigger and
    ``checkpointLocation`` and ``.start()``.
    """
    from mhealth_spark.pipelines.similarity import ivf_assign

    # the coarse quantizer is the STORE's identity (see docstring: a
    # drifted quantizer re-clusters new vectors away from the stored
    # survivors' cids and the cluster-bounded probe silently misses
    # every cross-run duplicate). Fingerprint it once; the marker turns
    # the documented must-not-drift contract into an immediate error.
    _centroid_fp = hashlib.md5(
        json.dumps(
            [[round(float(x), 9) for x in c] for c in centroids]
        ).encode()
    ).hexdigest()

    def _emit(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        spark = batch.sparkSession
        _assert_store_layout(
            store_path,
            {
                "centroid_md5": _centroid_fp,
                "n_centroids": len(centroids),
                "dim": len(centroids[0]) if centroids else 0,
            },
        )
        bvecs = (
            batch.select(id_col, vec_col)
            .dropDuplicates([id_col])
            .withColumn(
                "_fp",
                F.md5(
                    F.concat_ws(
                        ",",
                        F.transform(F.col(vec_col), lambda x: x.cast("string")),
                    )
                ),
            )
            .localCheckpoint(eager=True)
        )
        # exact-duplicate pre-collapse, same contract as the minhash
        # gate: identical vector => identical cid and identical cosine
        # to everything (and cos(v, v) = 1 >= any threshold), so only
        # the fingerprint minimum enters the cluster graph and members
        # inherit its fate — in-cluster pair cost is bounded by DISTINCT
        # vectors, not copies. Exception: zero-norm groups (cos is NULL,
        # not 1) — their members are emitted as survivors below.
        rep_of = bvecs.groupBy("_fp").agg(F.min(id_col).alias("_rep"))
        assigned = (
            ivf_assign(
                bvecs.join(
                    rep_of.select(F.col("_rep").alias(id_col)),
                    id_col,
                    "left_semi",
                ).select(id_col, vec_col),
                centroids,
                id_col,
                vec_col,
            )
            .withColumn(
                "nrm",
                F.sqrt(
                    F.aggregate(
                        F.transform("v", lambda x: x * x),
                        F.lit(0.0),
                        lambda s, x: s + x,
                    )
                ),
            )
            .localCheckpoint(eager=True)
        )
        store = _read_store_excluding(spark, store_path, batch_id)

        dot = F.aggregate(
            F.zip_with("va", "vb", lambda x, y: x * y),
            F.lit(0.0),
            lambda s, x: s + x,
        )
        # null-guarded: a zero-norm vector (failed/padded embedding) has
        # undefined cosine — the WHEN branch keeps ANSI mode from
        # throwing DIVIDE_BY_ZERO mid-stream (a poison-pill crash loop
        # under at-least-once replay); NULL >= threshold is NULL, so
        # zero-norm rows simply never match
        denom = F.col("na") * F.col("nb")
        cos_ok = (
            F.when(denom != 0, F.round(dot / denom, 9)).otherwise(F.lit(None))
            >= threshold
        )

        killed_idx = None
        if store is not None:
            probe = assigned.select(
                F.col(id_col).alias("_new"),
                "cid",
                F.col("v").alias("vb"),
                F.col("nrm").alias("nb"),
            )
            if broadcast_new:
                probe = F.broadcast(probe)
            killed_idx = (
                store.select(
                    F.col(id_col).alias("_old"),
                    "cid",
                    F.col("v").alias("va"),
                    F.col("nrm").alias("na"),
                )
                .join(probe, "cid")
                .filter(cos_ok)
                .groupBy(F.col("_new").alias(id_col))
                .agg(F.min("_old").alias("dup_of"))
                .localCheckpoint(eager=True)
            )

        alive = assigned
        if killed_idx is not None:
            alive = assigned.join(killed_idx.select(id_col), id_col, "left_anti")
        # in-batch pairs among store-surviving vectors: within-cluster
        # self-join (bounded by the micro-batch), id_a < id_b
        a = alive.select(
            F.col(id_col).alias("id_a"), "cid",
            F.col("v").alias("va"), F.col("nrm").alias("na"),
        )
        b = alive.select(
            F.col(id_col).alias("id_b"), "cid",
            F.col("v").alias("vb"), F.col("nrm").alias("nb"),
        )
        in_pairs = (
            a.join(b, "cid")
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(cos_ok)
            .select("id_a", "id_b")
        )
        id_t = dict(assigned.dtypes)[id_col]
        killed = _greedy_mis_kill(
            spark, in_pairs, id_col, id_t, components_max_iter
        )
        if killed_idx is not None:
            killed = killed_idx.unionByName(killed)
        rep_out = assigned.select(id_col).join(killed, id_col, "left")
        # member inheritance EXCEPT for zero-norm fingerprint groups:
        # cosine between identical zero-norm vectors is NULL (the ANSI
        # null guard), so the uncollapsed greedy would never kill those
        # copies — inheriting the representative's fate there would
        # diverge from the claimed exact parity for precisely the
        # failed/padded-embedding rows the null guard exists for. Such
        # members are emitted as survivors (they also never need store
        # rows: a zero-norm vector can never cosine-kill anything later).
        znorm = (
            F.aggregate(
                F.transform(vec_col, lambda x: x * x),
                F.lit(0.0),
                lambda s, x: s + x,
            )
            == 0
        )
        members = (
            bvecs.join(rep_of, "_fp")
            .filter(F.col(id_col) != F.col("_rep"))
            .join(
                rep_out.select(
                    F.col(id_col).alias("_rep"),
                    F.col("dup_of").alias("_rep_dup_of"),
                ),
                "_rep",
            )
            .select(
                id_col,
                F.when(
                    ~znorm, F.coalesce("_rep_dup_of", F.col("_rep"))
                ).alias("dup_of"),
            )
        )
        out = (
            rep_out.unionByName(members)
            .select(
                id_col,
                F.col("dup_of").isNotNull().alias("is_dup"),
                "dup_of",
            )
            .localCheckpoint(eager=True)
        )
        out.write.mode("overwrite").parquet(f"{output_path}/batch={batch_id}")
        assigned.join(
            out.filter(~F.col("is_dup")).select(id_col), id_col, "left_semi"
        ).select(id_col, "cid", "v", "nrm").write.mode("overwrite").partitionBy(
            "cid"
        ).parquet(f"{store_path}/batch={batch_id}")

    return emb.writeStream.outputMode("append").foreachBatch(_emit)


def compact_batch_store(
    spark,
    path: str,
    dedup_cols: list | None = None,
    exclude_last: bool = True,
    partition_by: list | None = None,
    delete_folded: bool = True,
) -> dict:
    """Fold the per-micro-batch ``batch=<id>`` directories of an online
    store (dedup gate index, partial table, training-set output) into a
    single snapshot partition — the maintenance op that keeps a store
    readable after months of streaming (one directory per micro-batch is
    the classic small-files wall: listing cost and per-file open overhead
    grow linearly with stream age while row volume doesn't).

    Snapshot protocol (every crash window is duplicate-tolerant, never
    lossy): the folded union is written to a dot-prefixed temp dir
    (invisible to parquet readers), renamed to the next NEGATIVE
    generation id (``batch=-1``, ``-2``, ... — re-compaction folds prior
    snapshots too), and only then are the folded directories deleted. A
    crash before the rename leaves the store untouched; after it, at
    worst both snapshot and folded dirs are visible — these stores are
    read with duplicate-tolerant semantics (dedup-keyed dropDuplicates
    or idempotent kill joins), so duplicates cost space, not answers.

    Safety while the stream RUNS: ``foreachBatch`` is at-least-once with
    only the LAST batch replayable, so ``exclude_last=True`` (default)
    leaves the highest non-negative id unfolded — that keeps DECISIONS
    correct, but a micro-batch whose store read already listed the
    folded files can still fail transiently when ``delete_folded``
    removes them mid-join (the query then needs a restart; with
    ``spark.sql.files.ignoreMissingFiles=true`` it would instead
    silently lose rows — never enable that on these stores). For a
    fully online compaction pass ``delete_folded=False``: the snapshot
    coexists with the folded dirs (duplicate-tolerant reads), and a
    second call after in-flight batches drain removes them. With the
    stream STOPPED, ``exclude_last=False, delete_folded=True`` folds
    everything in one step and also frees batch ids 0.. — a restart
    with a fresh checkpoint no longer collides with history (negative
    generations are never assigned by Structured Streaming).

    ``dedup_cols`` collapses rows on those keys while folding (e.g.
    ``[entity, "_hr"]`` for partial stores). ``partition_by`` MUST name
    the store's nested partition columns when it has them (the dedup
    gate index: ``["pbucket"]``; semantic / IVF stores: ``["cid"]``) —
    the snapshot then keeps the same layout; omitting it on such a
    store would mix flat and partitioned directories, which parquet
    refuses to read. Local-FS rename/delete here, matching
    ``checkpoint.py``; on an object store swap the two ``os`` calls for
    the FileSystem API — the protocol is identical.
    Returns {"snapshot": id, "folded": [ids], "rows": n} (no-op dict
    when there is nothing to fold)."""
    import os
    import shutil

    if not os.path.isdir(path):
        # store not created yet (maintenance scheduled before the first
        # micro-batch landed) — the documented no-op, not an OS error
        return {"snapshot": None, "folded": [], "rows": 0}
    ids = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(path)
        if d.startswith("batch=")
    )
    fold = list(ids)
    if exclude_last:
        nonneg = [i for i in fold if i >= 0]
        if nonneg:
            fold.remove(max(nonneg))
    if len(fold) < 2:
        return {"snapshot": None, "folded": [], "rows": 0}
    snap_id = min(ids + [0]) - 1
    df = (
        spark.read.parquet(path)
        .filter(F.col("batch").isin(fold))
        .drop("batch")
    )
    if dedup_cols:
        df = df.dropDuplicates(list(dedup_cols))
    tmp = os.path.join(path, ".compact_tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    w = df.write.mode("overwrite")
    if partition_by:
        # preserve the store's nested partition layout (e.g. the dedup
        # gate's pbucket, the semantic/IVF stores' cid) — a flat snapshot
        # next to partitioned batch dirs would make the mixed store
        # unreadable (CONFLICTING_PARTITION_COLUMN_NAMES) and lose the
        # probe's dynamic partition pruning
        w = w.partitionBy(*partition_by)
    w.parquet(tmp)
    rows = spark.read.parquet(tmp).count()
    os.rename(tmp, os.path.join(path, f"batch={snap_id}"))
    if delete_folded:
        for i in fold:
            shutil.rmtree(os.path.join(path, f"batch={i}"), ignore_errors=True)
    return {"snapshot": snap_id, "folded": fold, "rows": rows}


def stream_ivf_ingest(
    emb: DataFrame,
    centroids: list,
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
):
    """Streaming IVF index maintenance — the exactly-once face of
    ``similarity.ivf_append``: each micro-batch is assigned to the FIXED
    coarse quantizer (map-only centroid-literal argmax, no shuffle) and
    written ``mode("overwrite")`` into its own ``batch=<id>`` directory
    with nested cid partitions, so an at-least-once ``foreachBatch``
    replay rewrites the same files instead of appending duplicates (the
    failure mode a bare ``.mode("append")`` would have). Probe with
    ``ann_ivf_probe(spark.read.parquet(path).drop("batch"), ...)`` —
    partition discovery handles the batch=/cid= nesting and the probe's
    selective cid set still reaches the scan as a dynamic partition
    filter (pytest-asserted), so a query batch reads only the touched
    inverted lists across every generation. Fold generations with
    ``compact_batch_store(..., partition_by=["cid"])`` when file counts
    grow (partition_by is REQUIRED here — a flat snapshot would break
    the nested cid layout). Quantizer drift rule as everywhere:
    re-quantizing requires an offline rebuild.

    Returns the configured ``DataStreamWriter`` — attach a trigger and
    ``checkpointLocation`` and ``.start()``.
    """
    from mhealth_spark.pipelines.similarity import ivf_assign

    def _emit(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        # cluster by cid before the partitioned write (guide §6): one
        # file per touched cid per batch instead of tasks × cids
        ivf_assign(
            batch.select(id_col, vec_col).dropDuplicates([id_col]),
            centroids,
            id_col,
            vec_col,
        ).repartition("cid").write.mode("overwrite").partitionBy(
            "cid"
        ).parquet(f"{index_path}/batch={batch_id}")

    return emb.writeStream.outputMode("append").foreachBatch(_emit)
