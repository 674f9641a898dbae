"""Corpus-construction operators for training-data pipelines: sequence
packing, deterministic sampling, vocabulary statistics.

These run over the pre-tokenized table ``(doc_id, tokens, n_tok, source,
writer_id, ts)`` (BASELINE.json input_hint) and are designed around one
exchange each:

- ``pack_sequences_chunked`` — token-budget packing as a pure window
  cumsum (docs are never split; a pack may overflow by at most one doc).
  Fully SQL-expressible → DuckDB oracle.
- ``pack_sequences_greedy`` — classic first-fit-sequential greedy packing
  (a doc opens a new pack when it would overflow). The recurrence is
  prefix-dependent (not associative), so it runs as an Arrow-vectorized
  ``applyInPandas`` kernel per entity — the north-star-sanctioned shape
  for sequential logic; value-checked against a pure-Python reference in
  pytest.
- ``sample_corpus`` — deterministic md5-threshold sampling (reproducible
  across engines and runs, no RNG state); per-source stratified rates.
- ``vocab_histogram`` — per-source token frequencies (explode → one
  groupBy; map-side combine bounds shuffle volume by vocab, not corpus).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.sql import types as T


def pack_sequences_chunked(
    tokens: DataFrame,
    budget: int = 2048,
    entity_col: str = "source",
    ts_col: str = "ts",
) -> DataFrame:
    """Assign each doc to a pack by token-budget chunking per entity:
    docs ordered by (ts, doc_id); ``pack_id = floor(exclusive-prefix-sum
    of n_tok / budget)``. Documents are never split; a pack can overflow
    by at most one document (concat-then-cut training pipelines tolerate
    this; use the greedy kernel when strict budgets matter). One window
    exchange on the entity."""
    w = (
        Window.partitionBy(entity_col)
        .orderBy(ts_col, "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_cum = F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    return tokens.select(
        "doc_id",
        entity_col,
        ts_col,
        "n_tok",
        F.floor(prev_cum / budget).cast("long").alias("pack_id"),
        prev_cum.cast("long").alias("pack_offset_tokens"),
    )


_GREEDY_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("entity", T.StringType(), False),
        T.StructField("n_tok", T.IntegerType(), True),
        T.StructField("pack_id", T.LongType(), False),
        T.StructField("pack_fill", T.LongType(), False),
    ]
)


def pack_sequences_greedy(
    tokens: DataFrame,
    budget: int = 2048,
    entity_col: str = "source",
    ts_col: str = "ts",
) -> DataFrame:
    """First-fit-sequential greedy packing per entity: walk docs in
    (ts, doc_id) order; a doc joins the current pack unless that would
    exceed ``budget`` (docs longer than the budget get a pack of their
    own). Prefix-dependent recurrence → Arrow-batched ``applyInPandas``
    per entity; the kernel's Python loop runs once per PACK boundary
    (``searchsorted`` over the cumulative token sum), not once per row —
    row-level work is all vectorized numpy.

    **PARALLELISM HAZARD (read before running at scale):** first-fit
    packing is an order-dependent recurrence over the WHOLE entity, so
    one Spark task processes each entity end-to-end and results cannot be
    split without changing them. With a coarse ``entity_col`` (e.g. ~8
    ``source`` values) the job runs at parallelism 8 forever, no matter
    how many executors exist — at 100 TB a single executor would walk
    billions of rows. At scale either (a) use a finer entity key
    (writer_id, shard_id) so groups are bounded, or (b) use
    ``pack_sequences_chunked``, whose prefix-sum form is a plain window
    and parallelizes on the same key. The greedy kernel is the
    strict-budget tier for bounded groups, not the web-scale default."""

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values([ts_col, "doc_id"], kind="mergesort")
        n = pdf["n_tok"].to_numpy(dtype=np.int64)
        m = len(n)
        if m == 0:
            return pd.DataFrame(
                {f.name: pd.Series(dtype=object) for f in _GREEDY_SCHEMA}
            )
        # Inclusive cumsum; a pack starting at row s ends at the largest e
        # with cum[e] - prefix(s) <= budget (>= s itself: oversized docs
        # get their own pack). Loop advances one PACK per iteration via
        # searchsorted — O(packs * log m) Python-level steps.
        cum = np.cumsum(n)
        starts = []
        s = 0
        while s < m:
            starts.append(s)
            prefix = cum[s - 1] if s > 0 else 0
            e = int(np.searchsorted(cum, prefix + budget, side="right")) - 1
            s = max(e + 1, s + 1)
        starts_arr = np.asarray(starts, dtype=np.int64)
        pack_id = np.zeros(m, dtype=np.int64)
        pack_id[starts_arr[1:]] = 1
        pack_id = np.cumsum(pack_id)
        start_prefix = np.where(starts_arr > 0, cum[starts_arr - 1], 0)
        prev_cum = np.concatenate(([0], cum[:-1]))
        pack_fill = prev_cum - start_prefix[pack_id]
        return pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].to_numpy(),
                "entity": pdf[entity_col].to_numpy(),
                "n_tok": pdf["n_tok"].to_numpy(),
                "pack_id": pack_id,
                "pack_fill": pack_fill,
            }
        )

    narrow = tokens.select("doc_id", entity_col, ts_col, "n_tok")
    return narrow.groupBy(entity_col).applyInPandas(kernel, _GREEDY_SCHEMA)


def sample_corpus(
    df: DataFrame,
    rate: float,
    id_col: str = "doc_id",
    strata_col: str | None = None,
    strata_rates: dict[str, float] | None = None,
    salt: str = "s0",
) -> DataFrame:
    """Deterministic hash-threshold sampling: keep rows where the first 8
    hex digits of ``md5(id || '#' || salt)`` sort below the rate's hex
    threshold (lowercase-hex lexicographic order == numeric order, so the
    comparison is pure string work — portable to any engine verbatim).
    Reproducible across engines, runs, and partitionings (no RNG state —
    the property a resumable 100 TB pipeline needs; change ``salt`` for an
    independent draw). ``strata_rates`` overrides the rate per stratum."""

    def thresh(r: float) -> str:
        return format(min(int(r * 16**8), 16**8 - 1), "08x")

    hx = F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit("#" + salt))), 1, 8
    )
    if strata_col is not None and strata_rates:
        cond = F.lit(False)
        covered = F.lit(False)
        for k, r in strata_rates.items():
            in_stratum = F.col(strata_col) == k
            cond = cond | (in_stratum & (hx < thresh(r)))
            covered = covered | in_stratum
        cond = cond | (~covered & (hx < thresh(rate)))
        return df.filter(cond)
    return df.filter(hx < thresh(rate))


def vocab_histogram(
    tokens: DataFrame,
    by_col: str = "source",
    top_k: int | None = None,
    tokens_col: str = "tokens",
) -> DataFrame:
    """Per-``by_col`` token frequencies: explode → ONE groupBy on
    (by, token). Map-side combine collapses each input partition to at
    most |vocab| rows before the shuffle, so shuffle volume is bounded by
    vocab size × partitions, not corpus size. ``top_k`` ranks within each
    group (ties broken by token id) via one window over the aggregated
    (small) frame."""
    ex = tokens.select(
        F.col(by_col), F.explode(F.col(tokens_col)).alias("token")
    )
    counts = ex.groupBy(by_col, "token").agg(F.count("*").alias("freq"))
    if top_k is None:
        return counts
    w = Window.partitionBy(by_col).orderBy(F.col("freq").desc(), F.col("token"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(by_col, "token", "freq", F.col("rank").cast("int").alias("rank"))
    )


def dataset_manifest(
    tokens: DataFrame,
    by_col: str = "source",
) -> DataFrame:
    """Per-source dataset card scalars: docs, tokens, length quantiles
    (exact percentile — one agg), distinct writers. The groupBy is 8-ish
    groups; exact percentiles are fine because the per-group value lists
    live across partitions via the partial-aggregation percentile impl."""
    return tokens.groupBy(by_col).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        F.min("n_tok").alias("len_min"),
        F.expr("percentile(n_tok, 0.5)").alias("len_p50"),
        F.expr("percentile(n_tok, 0.9)").alias("len_p90"),
        F.expr("percentile(n_tok, 0.99)").alias("len_p99"),
        F.max("n_tok").alias("len_max"),
        F.count_distinct("writer_id").alias("n_writers"),
    )


def contamination_hits(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Benchmark decontamination, the flag pass: for each corpus document,
    count distinct word n-gram shingles it shares with the benchmark/eval
    set. A training document overlapping an eval set must be dropped or
    the benchmark is compromised (the reason every serious corpus build
    runs this).

    Scale shape: the benchmark side is an eval suite — tiny by definition
    — so its distinct shingles BROADCAST and the corpus side is a
    map-side semi-join probe: no corpus shuffle at all until the final
    per-doc count (bounded by contaminated docs, not the corpus). At
    10^12 rows this is the only viable plan; a shuffle join on shingles
    would move the whole corpus.
    """
    from mhealth_spark.pipelines.text import shingles_col

    d_sh = docs.select(
        F.col(id_col), F.explode(shingles_col(text_col, n)).alias("g")
    )
    b_sh = benchmark.select(
        F.explode(shingles_col(text_col, n)).alias("g")
    ).distinct()
    return (
        d_sh.join(F.broadcast(b_sh), "g")
        .groupBy(id_col)
        .agg(F.count_distinct("g").alias("n_contaminated"))
    )


def _hex8(id_col: str, salt: str):
    """First 8 hex chars of md5(id '#' salt) — a portable deterministic
    U(0,1) draw in lowercase-hex order (string compare == numeric)."""
    return F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit("#" + salt))), 1, 8
    )


def _hex_thresh(rate: float) -> str:
    return format(min(int(round(rate, 6) * 16**8), 16**8 - 1), "08x")


def _two_level_rank(
    df: DataFrame,
    group_cols: list[str],
    hx_col: str = "_hx",
    id_col: str = "doc_id",
    sum_col: str | None = None,
    bucket_chars: int = 2,
    order_cols: list[str] | None = None,
    bucket_exprs: list | None = None,
    broadcast_offsets: bool = True,
) -> DataFrame:
    """Distributed dense rank (and optional exclusive running sum) in
    ``order_cols`` order (default ``(hx, id)``) within each group,
    WITHOUT putting a whole group in one window task.

    Rows are bucketed on ``bucket_exprs`` — by default the leading
    ``bucket_chars`` hex digits of the hash sort key. The bucket keys
    must be a monotone coarsening of the order: for any two rows,
    bucket(a) < bucket(b) must imply a < b in ``order_cols`` order (a
    key PREFIX always satisfies this). Then ordering by
    (bucket, order_cols) is bit-identical to ordering by (order_cols)
    alone, so the two-level result EQUALS the single-window result
    exactly. Rank is row_number within (group, bucket) plus a
    prefix-sum offset over the (group, bucket) count table — broadcast
    when ``broadcast_offsets`` (right for ≲10^6 buckets), a shuffled
    hash join otherwise (the offsets frame is still tiny relative to
    the corpus, and the join exchange keys on the FINE composite key,
    so parallelism is preserved either way). A skewed group spreads
    across its buckets instead of one task, and ranks accumulate in
    long (a single window's int32 row_number would wrap past 2.1e9
    rows per group).

    Adds ``_rn`` (1-based, long) and — when ``sum_col`` is given —
    ``_cum_before`` (sum of ``sum_col`` over strictly-preceding rows in
    the same group, long, 0 for the first row).
    """
    if order_cols is None:
        order_cols = [hx_col, id_col]
    if bucket_exprs is None:
        bucket_exprs = [F.substring(hx_col, 1, bucket_chars)]
    bk_cols = [f"_bk{i}" for i in range(len(bucket_exprs))]
    bucketed = df
    for name, expr in zip(bk_cols, bucket_exprs):
        bucketed = bucketed.withColumn(name, expr)
    aggs = [F.count("*").cast("long").alias("_bn")]
    if sum_col is not None:
        aggs.append(F.sum(sum_col).cast("long").alias("_bs"))
    counts = bucketed.groupBy(*group_cols, *bk_cols).agg(*aggs)
    w_off = (
        Window.partitionBy(*group_cols)
        .orderBy(*bk_cols)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_bn").over(w_off), F.lit(0)).cast("long")
    )
    if sum_col is not None:
        offsets = offsets.withColumn(
            "_soff",
            F.coalesce(F.sum("_bs").over(w_off), F.lit(0)).cast("long"),
        ).drop("_bs")
    offsets = offsets.drop("_bn")
    if broadcast_offsets:
        offsets = F.broadcast(offsets)
    w_local = Window.partitionBy(*group_cols, *bk_cols).orderBy(*order_cols)
    out = bucketed.withColumn(
        "_rn_local", F.row_number().over(w_local).cast("long")
    )
    if sum_col is not None:
        out = out.withColumn(
            "_cum_local",
            F.coalesce(
                F.sum(F.col(sum_col).cast("long")).over(
                    w_local.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
    out = out.join(offsets, [*group_cols, *bk_cols]).withColumn(
        "_rn", F.col("_off") + F.col("_rn_local")
    )
    drop = [*bk_cols, "_rn_local", "_off"]
    if sum_col is not None:
        out = out.withColumn(
            "_cum_before", F.col("_soff") + F.col("_cum_local")
        )
        drop += ["_cum_local", "_soff"]
    return out.drop(*drop)


def temperature_rates(
    tokens: DataFrame,
    alpha: float = 0.7,
    target_tokens: float | None = None,
    by_col: str = "source",
) -> dict[str, float]:
    """Per-source sampling rates for temperature-``alpha`` mixing: the
    sampled corpus draws from source ``s`` in proportion ``t_s**alpha``
    (t_s = source token count), the standard multilingual/multi-corpus
    rebalancing rule (alpha<1 upsamples small sources relative to their
    share). ``target_tokens`` sets the expected sampled-token total
    (default: the size of the LARGEST source, so the heaviest source's
    rate is ~its own weight and nothing clips at 1 unless asked to).

    Driver-side math over ONE tiny aggregate (|sources| rows — 8-ish;
    collecting it is not a driver-side loop over data). Rates are rounded
    to 6 dp so any engine replaying them thresholds identically. Feed the
    result straight to ``sample_corpus(strata_rates=...)``.
    """
    totals = {
        r[0]: float(r[1])
        for r in tokens.groupBy(by_col)
        .agg(F.sum("n_tok").alias("t"))
        .collect()
    }
    z = sum(t**alpha for t in totals.values())
    if target_tokens is None:
        target_tokens = max(totals.values())
    return {
        s: round(min(1.0, target_tokens * (t**alpha / z) / t), 6)
        for s, t in totals.items()
    }


def split_corpus(
    df: DataFrame,
    weights: dict[str, float],
    id_col: str = "doc_id",
    salt: str = "split0",
) -> DataFrame:
    """Deterministic train/val/test split: each row gets the label whose
    cumulative-weight hash interval contains its md5 draw. Pure map — no
    shuffle, no RNG state, stable under re-partitioning and resume, and
    the SAME doc always lands in the same split even when the corpus
    grows (the property that keeps eval sets stable across corpus
    versions). Weights must sum to ~1; the last label absorbs rounding.
    """
    hx = _hex8(id_col, salt)
    items = list(weights.items())
    expr = None
    cum = 0.0
    for name, wgt in items[:-1]:
        cum += wgt
        cond = hx < F.lit(_hex_thresh(cum))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = items[-1][0]
    label = F.lit(last) if expr is None else expr.otherwise(last)
    return df.withColumn("split", label)


def mix_by_budget(
    tokens: DataFrame,
    budgets: dict[str, int],
    default_budget: int | None = None,
    by_col: str = "source",
    id_col: str = "doc_id",
    salt: str = "mix0",
) -> DataFrame:
    """Token-budget corpus mixing: per source, take documents in
    deterministic hash order until the source's token budget is reached
    (the doc that crosses the line is kept — "fill then cut" semantics,
    matching chunked packing). Sources without a budget entry use
    ``default_budget`` (None → keep whole source).

    Scale shape: the per-source running token sum is computed two-level
    (prefix-bucketed, see ``_two_level_rank``) so a skewed source spans
    256 tasks instead of one; hash order makes the kept set independent
    of input partitioning, so a resumed or re-planned run keeps exactly
    the same documents.
    """
    hx = _hex8(id_col, salt)
    budget_expr = None
    for s, b in budgets.items():
        cond = F.col(by_col) == s
        budget_expr = (
            F.when(cond, b) if budget_expr is None else budget_expr.when(cond, b)
        )
    if budget_expr is None:
        budget_expr = F.lit(default_budget)
    else:
        budget_expr = budget_expr.otherwise(F.lit(default_budget))
    ranked = _two_level_rank(
        tokens.withColumn("_hx", hx),
        [by_col],
        id_col=id_col,
        sum_col="n_tok",
    )
    out = (
        ranked.withColumn(
            "mix_tokens_before", F.col("_cum_before")
        )
        .withColumn("_budget", budget_expr)
        .filter(
            F.col("_budget").isNull()
            | (F.col("mix_tokens_before") < F.col("_budget"))
        )
    )
    return out.drop("_hx", "_rn", "_cum_before", "_budget")


def shard_assign(
    df: DataFrame,
    n_shards: int,
    id_col: str = "doc_id",
    salt: str = "shard0",
) -> DataFrame:
    """Deterministic training-shard assignment: shard = first 8 md5 hex
    digits mod n_shards; position = rank within the shard in hash order.
    This IS the "global shuffle" a training pipeline wants — hash order
    is a uniform random permutation of the corpus, reproducible across
    engines and runs, with no driver-side sort and no RNG state. Writing
    with ``partitionBy(shard_id)`` then streams each shard in position
    order. The in-shard position is computed two-level (prefix-bucketed,
    see ``_two_level_rank``): shards are uniform by construction, but at
    10^12 rows even a uniform shard can exceed one task's memory and
    int32 row_number — the bucketing bounds both."""
    hx = _hex8(id_col, salt)
    with_shard = df.withColumn("_hx", hx).withColumn(
        "shard_id",
        (F.conv(F.col("_hx"), 16, 10).cast("long") % n_shards).cast("int"),
    )
    ranked = _two_level_rank(with_shard, ["shard_id"], id_col=id_col)
    return ranked.withColumn(
        "shard_pos", (F.col("_rn") - 1).cast("long")
    ).drop("_hx", "_rn")


def interleave_sources(
    df: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    salt: str = "il0",
) -> DataFrame:
    """Deterministic round-robin source interleaving for training order:
    docs get a hash-shuffled rank WITHIN their source, and a global
    ``interleave_key = (rank−1)·n_sources + source_index``. Sorting (or
    range-writing) by that key visits sources in strict rotation — the
    curriculum property that keeps every training window source-balanced
    instead of clumped by ingest order.

    Scale posture: NO global contiguous index is computed (that would be
    a driver-side zipWithIndex pass at 10^12 rows). The key is sparse —
    a total order, not a dense position — which is all a distributed
    range-partitioned write needs. The per-source dense rank is computed
    TWO-LEVEL so no task ever holds a whole source: rows are bucketed on
    the leading hex digits of the hash sort key itself (the bucket is a
    PREFIX of the sort key, so ordering by (bucket, hash, id) is
    bit-identical to ordering by (hash, id) — the two-level rank equals
    the single-window rank exactly), ranked within (source, bucket), and
    offset by a broadcast prefix-sum over the tiny (source, bucket)
    count table. A skewed source spreads across ``16^bucket_chars``
    tasks instead of one, and ranks are computed in long (row_number's
    int32 would wrap past 2.1e9 rows per source).
    """
    # the distinct-source frame is tiny by construction (|sources| ≪ rows);
    # a single-partition window over it is deliberate — partitionBy(lit)
    # keeps WindowExec from warning about the (intended) lone partition
    one = Window.partitionBy(F.lit(0))
    src_idx = (
        df.select(source_col)
        .distinct()
        .withColumn(
            "_src_idx",
            F.row_number().over(one.orderBy(source_col)) - 1,
        )
        .withColumn("_n_src", F.count("*").over(one))
    )
    hx = _hex8(id_col, salt)
    ranked = _two_level_rank(
        df.withColumn("_hx", hx), [source_col], id_col=id_col
    )
    return (
        ranked.withColumnRenamed("_rn", "rn_in_source")
        .join(F.broadcast(src_idx), source_col)
        .withColumn(
            "interleave_key",
            (
                (F.col("rn_in_source") - 1) * F.col("_n_src")
                + F.col("_src_idx")
            ).cast("long"),
        )
        .drop("_hx", "_src_idx", "_n_src")
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    max_hits: int = 0,
) -> DataFrame:
    """Drop corpus documents sharing more than ``max_hits`` n-gram
    shingles with the benchmark set (anti-join on the flag pass)."""
    hits = contamination_hits(docs, benchmark, text_col, id_col, n)
    dirty = hits.filter(F.col("n_contaminated") > max_hits).select(id_col)
    return docs.join(dirty, id_col, "left_anti")


def batch_by_length(
    tokens: DataFrame,
    batch_size: int = 32,
    length_bucket: int = 64,
    id_col: str = "doc_id",
) -> DataFrame:
    """Length-bucketed inference batching: group sequences of similar
    ``n_tok`` so fixed-size batches waste minimal padding. bucket =
    floor(n_tok / length_bucket); within a bucket, docs take dense
    positions in (n_tok, id) order and batch_id = position // batch_size.
    Padding per batch is then bounded by the bucket width instead of the
    corpus-wide length spread.

    Scale shape: the in-bucket position is computed two-level (see
    ``_two_level_rank``) sub-bucketed on the exact n_tok — a monotone
    coarsening of the (n_tok, id) order — plus, for STRING ids, the
    2-char id prefix (a string prefix is order-consistent with the full
    string; a numeric id's decimal prefix is NOT order-consistent, so
    numeric ids sub-bucket on length alone). Bit-identical to a single
    per-bucket window, while a packed corpus whose docs pile onto ONE
    length (every sequence capped at 2048) still spreads across the
    id-prefix tasks. The offsets frame keys on the fine composite key —
    up to ~lengths×256 rows — so it joins SHUFFLED, not broadcast, and
    the corpus-side exchange keys on the same fine key, preserving
    parallelism."""
    from pyspark.sql.types import StringType

    bucket = F.floor(F.col("n_tok") / length_bucket).cast("int")
    bucket_exprs = [F.col("n_tok")]
    if isinstance(tokens.schema[id_col].dataType, StringType):
        bucket_exprs.append(F.substring(F.col(id_col), 1, 2))
    ranked = _two_level_rank(
        tokens.withColumn("len_bucket", bucket),
        ["len_bucket"],
        id_col=id_col,
        order_cols=["n_tok", id_col],
        bucket_exprs=bucket_exprs,
        broadcast_offsets=False,
    )
    return (
        ranked.withColumn("_pos", F.col("_rn") - 1)
        .withColumn(
            "batch_id",
            F.concat_ws(
                "-",
                F.col("len_bucket"),
                F.floor(F.col("_pos") / batch_size).cast("long"),
            ),
        )
        .withColumn("batch_pos", (F.col("_pos") % batch_size).cast("int"))
        .drop("_pos", "_rn")
    )


def unigram_logprob_scores(
    tokens: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    alpha: float = 0.5,
) -> DataFrame:
    """Unigram LM quality score (the perplexity-filter family): per doc,
    the mean token log-probability under the corpus's own add-alpha
    unigram distribution. Outlier docs (spam, noise, wrong-vocabulary
    content) score far below the bulk and get threshold-dropped.

    Scale shape: token counts are ONE explode + groupBy bounded by vocab
    size (map-side combine collapses each partition to <=|vocab| rows);
    the per-token probability table is vocab-sized and BROADCASTS to the
    scoring join, so the corpus itself shuffles only once — the groupBy
    back to docs. Totals ride along via a 1-row cross join (constant
    folding, no data movement)."""
    ex = tokens.select(F.col(id_col), F.explode(tokens_col).alias("token"))
    counts = ex.groupBy("token").agg(F.count("*").alias("c"))
    # total/vocab are TWO scalars — collect them (one tiny job) rather
    # than a 1-row crossJoin, which plans as BroadcastNestedLoopJoin and
    # trips the engine's no-nested-loop audit; as literals the
    # denominator constant-folds into the log expression
    t = counts.agg(F.sum("c").alias("total"), F.count("*").alias("vocab")).collect()[0]
    denom = float(t["total"]) + alpha * float(t["vocab"])
    probs = counts.select(
        "token",
        F.log((F.col("c") + F.lit(alpha)) / F.lit(denom)).alias("logp"),
    )
    return (
        ex.join(F.broadcast(probs), "token")
        .groupBy(id_col)
        .agg(
            F.avg("logp").alias("mean_logprob"),
            F.count("*").alias("n_scored"),
        )
    )


def pack_token_arrays(
    tokens: DataFrame,
    budget: int = 2048,
    entity_col: str = "source",
    ts_col: str = "ts",
) -> DataFrame:
    """Materialize the PHYSICAL packed sequences: per (entity, pack_id)
    from ``pack_sequences_chunked``, the member docs' token arrays
    concatenated in (ts, doc_id) order — the actual array a training
    pipeline writes, not just the assignment. Order inside the pack is
    enforced by sorting (ts, doc_id, tokens) structs INSIDE the aggregate
    (collect_list order is partition-arbitrary; the sort makes the output
    deterministic under any physical plan). Two shuffles total: the
    assignment window and the pack groupBy — both on bounded, uniform
    keys; each pack's array is ~budget tokens, so rows stay small."""
    assign = pack_sequences_chunked(tokens, budget, entity_col, ts_col).select(
        "doc_id", entity_col, "pack_id"
    )
    j = assign.join(
        tokens.select("doc_id", ts_col, "tokens"), "doc_id"
    )
    packed = (
        j.groupBy(entity_col, "pack_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.flatten(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col(ts_col).alias("ts"),
                            F.col("doc_id").alias("doc_id"),
                            F.col("tokens").alias("tokens"),
                        )
                    )
                ).getField("tokens")
            ).alias("packed_tokens"),
        )
    )
    return packed.select(
        entity_col,
        "pack_id",
        "n_docs",
        F.size("packed_tokens").alias("pack_len"),
        "packed_tokens",
    )


def split_unigram_drift(
    tokens: DataFrame,
    train_weight: float = 0.9,
    salt: str = "split0",
    alpha: float = 0.5,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Distribution-shift QA for a hash split: KL(train ‖ holdout) between
    the two splits' add-alpha unigram distributions over the union vocab.
    A healthy random split reads near zero; a biased split (or a corpus
    whose sources cluster in hash space — impossible with md5, so a red
    flag for pipeline bugs) reads high.

    One explode + ONE groupBy(token) with conditional sums (no join of
    the two distributions), vocab-bounded shuffle; the three totals
    collect driver-side (scalars) and fold into the KL expression. Output
    is a single audit row."""
    lab = split_corpus(
        tokens.select(id_col, tokens_col),
        {"train": train_weight, "holdout": 1.0 - train_weight},
        id_col=id_col,
        salt=salt,
    )
    ex = lab.select("split", F.explode(tokens_col).alias("token"))
    is_tr = F.col("split") == "train"
    c = ex.groupBy("token").agg(
        F.sum(F.when(is_tr, 1).otherwise(0)).alias("ct"),
        F.sum(F.when(is_tr, 0).otherwise(1)).alias("cv"),
    )
    t = c.agg(
        F.sum("ct").alias("tt"), F.sum("cv").alias("tv"), F.count("*").alias("v")
    ).collect()[0]
    denom_t = float(t["tt"]) + alpha * float(t["v"])
    denom_v = float(t["tv"]) + alpha * float(t["v"])
    p = (F.col("ct") + F.lit(alpha)) / F.lit(denom_t)
    q = (F.col("cv") + F.lit(alpha)) / F.lit(denom_v)
    return c.agg(
        F.sum(p * F.log(p / q)).alias("kl_train_holdout"),
        F.count("*").cast("long").alias("vocab"),
        F.lit(int(t["tt"])).cast("long").alias("tokens_train"),
        F.lit(int(t["tv"])).cast("long").alias("tokens_holdout"),
    )


def cap_per_group(
    df: DataFrame,
    group_col: str = "writer_id",
    cap: int = 100,
    id_col: str = "doc_id",
    salt: str = "cap0",
) -> DataFrame:
    """Per-group contribution cap: keep at most ``cap`` rows per group in
    deterministic md5-draw order (author/domain balancing — no prolific
    writer dominates the mix; the kept subset is a uniform sample of the
    group and stable across runs/engines). The rank is computed
    two-level (prefix-bucketed, see ``_two_level_rank``): a prolific
    group — exactly the input this operator exists for — spreads across
    256 tasks instead of sorting 10^9 rows in one to keep 100."""
    hx = _hex8(id_col, salt)
    ranked = _two_level_rank(
        df.withColumn("_hx", hx), [group_col], id_col=id_col
    )
    return ranked.filter(F.col("_rn") <= cap).drop("_hx", "_rn")


def build_corpus(
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    quality_overrides: dict | None = None,
    sample_alpha: float | None = None,
    split_weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    fuzzy_verify_threshold: float | None = None,
    span_dup_threshold: float | None = None,
    dsir_target_expr: str | None = None,
    dsir_min_weight: float | None = None,
    audit: bool = True,
) -> tuple[DataFrame, dict[str, int]]:
    """End-to-end corpus build — the whole pipeline in one call, in the
    canonical order a pretraining build runs it:

    1. quality filter (Gopher-family rules; ``quality_overrides``)
    2. DSIR selection (if ``dsir_target_expr`` AND ``dsir_min_weight``
       given): keep docs whose importance weight vs the target
       distribution clears the threshold — targeted selection runs
       BEFORE dedup so duplicates can't distort the raw histogram's
       doc-frequency balance any further than they distort any corpus
       statistic (target docs themselves always survive this stage)
    3. benchmark decontamination (if ``benchmark`` given)
    4. exact dedup (normalized-text md5, min-id survivor)
    5. fuzzy dedup (MinHash-LSH candidates → optional exact-Jaccard
       verify pass at ``fuzzy_verify_threshold`` → connected components
       → one survivor per cluster)
    6. span dedup (if ``span_dup_threshold`` given): drop survivors
       whose cross-document duplicated-span fraction still exceeds the
       threshold — the boilerplate/template tail that document-level
       dedup keeps (each survivor IS unique as a whole document)
    7. temperature sampling per source (if ``sample_alpha`` given)
    8. train/val/test hash split (if ``split_weights`` given)

    Returns (final DataFrame, audit dict of per-stage surviving counts).
    With ``audit=True`` (default) each stage boundary is
    ``localCheckpoint``-ed before its count, so the per-stage actions
    read the materialized stage output instead of recomputing the whole
    upstream chain per count (7 uncached counts re-ran the quality
    filter ~7x — invisible at sandbox scale, a multiple of the whole
    pipeline cost at 100 TB), and every later stage starts from the
    checkpointed frame. ``audit=False`` skips both the counts and the
    checkpoints and returns an empty dict — the fully lazy single-action
    build. Every stage is deterministic (content hashes, no RNG), so a
    resumed or re-planned build keeps identical documents.
    """
    from mhealth_spark.pipelines.dedup import (
        exact_dedup_groups,
        jaccard_verify_pairs,
        minhash_lsh_candidates,
        neardup_components,
    )
    from mhealth_spark.pipelines.text import quality_filter

    if sample_alpha is not None and "source" not in docs.columns:
        raise ValueError(
            "build_corpus temperature sampling stratifies on a 'source' "
            "column; input has none (pass sample_alpha=None or add it)"
        )

    counts: dict[str, int] = {}

    def _stage(df: DataFrame, name: str) -> DataFrame:
        """Stage boundary: with audit on, materialize the stage output
        once (localCheckpoint truncates the lineage), count the
        checkpointed blocks, and hand the materialized frame to the
        next stage — each audit action costs one stage, not the whole
        upstream chain."""
        if not audit:
            return df
        df = df.localCheckpoint(eager=False)  # the count materializes it
        counts[name] = df.count()
        return df

    if audit:
        counts["input"] = docs.count()

    flags = quality_filter(docs, text_col, id_col, **(quality_overrides or {}))
    keep = flags.filter("keep").select(id_col)
    cur = _stage(docs.join(keep, id_col, "left_semi"), "after_quality")

    if dsir_target_expr is not None and dsir_min_weight is not None:
        w = dsir_weights(cur, dsir_target_expr, text_col, id_col)
        sel = w.filter(
            F.col("is_target") | (F.col("dsir_weight") >= dsir_min_weight)
        ).select(id_col)
        cur = _stage(cur.join(sel, id_col, "left_semi"), "after_dsir")

    if benchmark is not None:
        cur = _stage(
            decontaminate(cur, benchmark, text_col, id_col),
            "after_decontaminate",
        )

    groups = exact_dedup_groups(cur, id_col, text_col)
    exact_keep = groups.filter(
        F.col(id_col) == F.col("keep_id")
    ).select(id_col)
    cur = _stage(cur.join(exact_keep, id_col, "left_semi"), "after_exact_dedup")

    pairs = minhash_lsh_candidates(cur, id_col, text_col)
    if fuzzy_verify_threshold is not None:
        # exact-Jaccard verify pass: drop band-collision false positives
        # before clustering (cost bounded by the candidate set)
        pairs = jaccard_verify_pairs(
            cur, pairs, id_col, text_col, threshold=fuzzy_verify_threshold
        ).select("id_a", "id_b")
    # neardup_components always names its output (doc_id, cluster_id);
    # rename to the caller's id_col so a non-default key works end-to-end
    comp = neardup_components(pairs).withColumnRenamed("doc_id", id_col)
    drop = comp.filter(F.col(id_col) != F.col("cluster_id")).select(id_col)
    cur = _stage(cur.join(drop, id_col, "left_anti"), "after_fuzzy_dedup")

    if span_dup_threshold is not None:
        from mhealth_spark.pipelines.dedup import span_dedup_stats

        stats = span_dedup_stats(cur, id_col, text_col)
        heavy = stats.filter(
            F.col("dup_frac") > span_dup_threshold
        ).select(id_col)
        cur = _stage(cur.join(heavy, id_col, "left_anti"), "after_span_dedup")

    if sample_alpha is not None:
        rates = temperature_rates(
            cur.withColumn("n_tok", F.size(F.split(text_col, r"\s+"))),
            alpha=sample_alpha,
        )
        cur = _stage(
            sample_corpus(
                cur, rate=0.0, strata_col="source", strata_rates=rates
            ),
            "after_sampling",
        )

    if split_weights is not None:
        cur = split_corpus(cur, split_weights, id_col)
    return cur, counts


def curriculum_buckets(
    scored: DataFrame,
    score_col: str = "mean_logprob",
    group_col: str = "source",
    n_buckets: int = 4,
    id_col: str = "doc_id",
    exact: bool = True,
) -> DataFrame:
    """Quality-curriculum bucketing: ntile the docs of each group by a
    score column (bucket 1 = highest quality). Training schedules that
    warm up on clean data and anneal onto the tail read buckets in
    order; per-GROUP tiling keeps a strong domain from monopolizing the
    top bucket the way a global ntile would. Score rounded to 9 dp
    before ranking so any engine buckets identically (same convention
    as ``select_best_per_group``).

    ``exact=True`` (the oracle tier) is one window exchange on the
    group key — the whole group sorts in one task, fine to ~10^8 rows
    per group. ``exact=False`` is the 100-TB tier: per-group
    ``approx_percentile`` cutpoints (map-side-combining aggregate, no
    sort) broadcast back and the bucket is a pure map-side comparison;
    bucket boundaries are approximate (bucket POPULATIONS may differ
    from exact ntile near the cutpoints, ordering semantics are
    identical) and a curriculum schedule is insensitive to that."""
    if exact:
        w = Window.partitionBy(group_col).orderBy(
            F.round(F.col(score_col), 9).desc(), id_col
        )
        return scored.withColumn(
            "curriculum_bucket", F.ntile(n_buckets).over(w).cast("int")
        )
    s = F.round(F.col(score_col), 9)
    qs = [i / n_buckets for i in range(1, n_buckets)]
    cuts = scored.groupBy(group_col).agg(
        F.percentile_approx(s, qs, 100000).alias("_cuts")
    )
    # bucket 1 = highest score: count how many LOWER cutpoints the score
    # clears, counting from the top
    joined = scored.join(F.broadcast(cuts), group_col)
    above = F.aggregate(
        "_cuts",
        F.lit(0),
        lambda acc, c: acc + F.when(s >= c, 1).otherwise(0),
    )
    return joined.withColumn(
        "curriculum_bucket",
        (F.lit(n_buckets) - above).cast("int"),
    ).drop("_cuts")


def select_best_per_group(
    scored: DataFrame,
    score_col: str = "mean_logprob",
    group_col: str = "source",
    k: int = 100,
    id_col: str = "doc_id",
) -> DataFrame:
    """Quality-based data selection: the top-``k`` docs per group by a
    score column (ties → lower id), e.g. the unigram log-prob scores.
    This is the 'select the best N per domain' pass of curation
    pipelines; rank rounded to 9 dp before comparison so any engine
    ranks identically.

    Scale shape: SALTED two-phase top-k. Phase 1 ranks within
    (group, salt-of-id) and keeps k per salt — every member of the
    global per-group top-k is by definition in the top-k of its own
    salt slice, so the ≤ 64·k survivors per group provably contain the
    answer. Phase 2 re-ranks the survivors exactly. No task ever sorts
    a whole group; the phase-2 window touches ≤ 64·k rows per group."""
    n_salts = 64
    salt = F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_salts))
    order = [F.round(F.col(score_col), 9).desc(), id_col]
    w_local = Window.partitionBy(group_col, "_salt").orderBy(*order)
    survivors = (
        scored.withColumn("_salt", salt)
        .withColumn("_lrk", F.row_number().over(w_local))
        .filter(F.col("_lrk") <= k)
        .drop("_salt", "_lrk")
    )
    w = Window.partitionBy(group_col).orderBy(*order)
    return (
        survivors.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .withColumnRenamed("_rk", "quality_rank")
    )


def _dsir_features(w: Column) -> Column:
    """A doc's DSIR features: its words, then its adjacent bigrams. The
    sequence is guarded because sequence(1, 0) DESCENDS in Spark (DuckDB
    generate_series is empty)."""
    bigrams = F.when(
        F.size(w) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(w) - 1),
            lambda i: F.concat_ws(" ", F.element_at(w, i), F.element_at(w, i + 1)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(w, bigrams)


def _dsir_bucket(ft: Column, n_buckets: int, salt: str) -> Column:
    """A feature's bucket: the first 8 hex chars of md5(feature '#' salt)
    modulo ``n_buckets``."""
    return (
        F.conv(F.substring(F.md5(F.concat(ft, F.lit("#" + salt))), 1, 8), 16, 10)
        .cast("long")
        % n_buckets
    ).cast("int")


def _dsir_bucket_rows(
    docs: DataFrame,
    target_expr: str,
    text_col: str,
    id_col: str,
    n_buckets: int,
    salt: str,
) -> DataFrame:
    """(id, _is_t, b): one row per hashed unigram/bigram feature. The
    hash sits on the EXPLODED column, not inside an array ``transform``:
    higher-order-function lambdas are interpreted per element (no
    codegen), measured 4-6× slower than the identical md5 as a top-level
    expression."""
    from mhealth_spark.pipelines.text import words_col

    # materialize the word array once (one project level per derived
    # expression — repeated split/filter subtrees are not reliably CSE'd)
    w0 = docs.select(
        F.col(id_col),
        F.expr(target_expr).alias("_is_t"),
        words_col(text_col).alias("_w"),
    )
    return w0.select(
        F.col(id_col),
        F.col("_is_t"),
        F.explode(_dsir_features(F.col("_w"))).alias("_ft"),
    ).select(
        id_col,
        "_is_t",
        _dsir_bucket(F.col("_ft"), n_buckets, salt).alias("b"),
    )


def _dsir_lambda_from_hist(hist, n_buckets: int, alpha: float) -> list[float]:
    import math

    t_tot = float(sum(r["ct"] for r in hist))
    r_tot = float(sum(r["cr"] for r in hist))
    lam = [0.0] * n_buckets
    for r in hist:
        pt = (r["ct"] + alpha) / (t_tot + alpha * n_buckets)
        pr = (r["cr"] + alpha) / (r_tot + alpha * n_buckets)
        lam[r["b"]] = math.log(pt) - math.log(pr)
    return lam


def dsir_lambda_table(
    docs: DataFrame,
    target_expr: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
    alpha: float = 0.5,
    salt: str = "dsir0",
) -> list[float]:
    """The trained DSIR artifact on its own: the ``n_buckets``-entry
    log-ratio table λ[b] = ln p_target(b) − ln p_raw(b). Persist/ship
    this (it is n_buckets doubles) and score any other corpus — or a
    live stream (``streaming.stream_dsir_score``) — without touching
    the training corpus again."""
    ex = _dsir_bucket_rows(docs, target_expr, text_col, id_col, n_buckets, salt)
    hist = (
        ex.groupBy("b")
        .agg(
            F.sum(F.when(F.col("_is_t"), 1).otherwise(0)).alias("ct"),
            F.count("*").alias("cr"),
        )
        # ≤ n_buckets rows by construction — bounded driver collect
        .collect()
    )
    return _dsir_lambda_from_hist(hist, n_buckets, alpha)


def dsir_weights(
    docs: DataFrame,
    target_expr: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 256,
    alpha: float = 0.5,
    salt: str = "dsir0",
    lam: list[float] | None = None,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, *Data Selection
    for Language Models via Importance Resampling*): score every doc by
    how much more likely its hashed n-gram profile is under the TARGET
    distribution (docs matching ``target_expr``) than under the RAW
    corpus distribution — ``weight = mean_b [ln p_target(b) − ln p_raw(b)]``
    over the doc's hashed unigram+bigram buckets, add-``alpha`` smoothed.
    High-weight raw docs "look like" the target domain and get kept.

    Scale shape (the reason DSIR beats classifier-based selection at
    100 TB): the feature space is ``n_buckets`` HASH BUCKETS, not a
    vocabulary — so (1) the histogram pass is one explode + groupBy with
    map-side combine collapsing every partition to ≤n_buckets rows,
    (2) the 2×n_buckets log-ratio table collects driver-side (bounded,
    tiny) and rides the scoring pass as a constant-folded literal, and
    (3) the scoring pass hashes and scores each exploded feature INSIDE
    whole-stage codegen and folds to docs through map-side combine —
    one doc-keyed shuffle whose rows are documents, not features. The
    feature hash deliberately sits on the EXPLODED column, not inside an
    array ``transform``: higher-order-function lambdas are interpreted
    per element (no codegen), measured 4× slower than the identical md5
    as a top-level expression. The md5 bucket hash keeps the structure
    engine-reproducible for the oracle (a production tier would swap in
    xxhash64, same shape). Pass a precomputed ``lam`` (from
    ``dsir_lambda_table``, possibly trained on a DIFFERENT corpus) to
    skip the histogram pass and score with a frozen table."""
    ex = _dsir_bucket_rows(docs, target_expr, text_col, id_col, n_buckets, salt)
    if lam is None:
        hist = (
            ex.groupBy("b")
            .agg(
                F.sum(F.when(F.col("_is_t"), 1).otherwise(0)).alias("ct"),
                F.count("*").alias("cr"),
            )
            # ≤ n_buckets rows by construction — bounded driver collect
            .collect()
        )
        lam = _dsir_lambda_from_hist(hist, n_buckets, alpha)
    lam_lit = F.array(*[F.lit(x) for x in lam])
    return (
        ex.groupBy(id_col)
        .agg(
            F.max("_is_t").alias("is_target"),
            F.count("*").cast("long").alias("n_feats"),
            (
                F.sum(F.element_at(lam_lit, F.col("b") + F.lit(1)))
                / F.count("*")
            ).alias("dsir_weight"),
        )
    )


def chunk_windows(
    docs: DataFrame,
    window: int = 64,
    stride: int = 48,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """RAG-style document chunking: overlapping word windows of
    ``window`` words every ``stride`` words — the retrieval-side twin of
    sequence packing (packing joins docs INTO training rows; chunking
    splits docs into index/embedding units). Chunk k covers words
    [k·stride, k·stride + window); the last chunk is the remainder (every
    word belongs to ≥1 chunk, consecutive chunks overlap by
    window − stride words for boundary-straddling answers).

    Output: (id, chunk_id, start_word, n_words, chunk_text). Pure map +
    one explode — no shuffle; chunk counts are ⌈max(len−window,0)/stride⌉+1
    per doc, so output size is corpus/stride-bounded. The chunk text is
    materialized by ONE slice per chunk at explode time (not per-word
    HOF work), and any hashing belongs downstream on the exploded column
    (codegen), per the engine's HOF-interpreted-eval rule."""
    if stride <= 0 or window <= 0:
        raise ValueError("window and stride must be positive")
    w = F.filter(F.split(F.col(text_col), r"\s+"), lambda x: x != F.lit(""))
    staged = docs.select(F.col(id_col), w.alias("_w"))
    n_chunks = (
        F.ceil(F.greatest(F.size("_w") - window, F.lit(0)) / stride).cast("int")
        + 1
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda k: F.struct(
            k.cast("int").alias("chunk_id"),
            (k * stride).cast("int").alias("start_word"),
            F.slice(F.col("_w"), k * stride + F.lit(1), F.lit(window)).alias(
                "cw"
            ),
        ),
    )
    return (
        staged.select(F.col(id_col), F.explode(chunks).alias("c"))
        .select(
            id_col,
            F.col("c.chunk_id").alias("chunk_id"),
            F.col("c.start_word").alias("start_word"),
            F.size("c.cw").cast("long").alias("n_words"),
            F.concat_ws(" ", F.col("c.cw")).alias("chunk_text"),
        )
        .filter(F.col("n_words") > 0)
    )


def bigram_logprob_scores(
    tokens: DataFrame,
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    alpha: float = 0.5,
    broadcast_probs: bool = False,
) -> DataFrame:
    """Bigram-LM quality score — the perplexity-filter upgrade over
    ``unigram_logprob_scores``: per doc, the mean conditional token
    log-probability ``ln p(w_i | w_{i-1})`` under the corpus's own
    add-``alpha`` bigram model, ``p(w|v) = (c(v,w)+α) / (c1(v)+α·V)``
    with V the unigram vocabulary. Repetitive/boilerplate text scores
    HIGH (predictable transitions), vocabulary-salad spam scores LOW —
    the two-sided signal perplexity filters threshold on. Docs with a
    single token have no bigrams and are dropped (no score).

    Scale shape: bigrams are packed into ONE long (vocab < 2^32), so
    every join key is a fixed-width integer. Unlike the unigram table,
    the DISTINCT-bigram table is NOT small — on diverse text nearly
    every bigram is unique (measured 1.567M distinct of 1.57M instances
    on the synth corpus), so the probability join defaults to a
    SHUFFLED join on the packed long (measured 2.5× faster than
    broadcasting the corpus-sized table; both sides hash-partition on
    ``pair``, so the count exchange is reusable). ``broadcast_probs=True``
    opts back in for genuinely small-vocabulary corpora. The final doc
    aggregate shuffles rows = docs after map-side combine."""
    big = F.lit(4294967296)
    t = F.col(tokens_col)
    n = F.size(t)
    pairs = F.zip_with(
        F.slice(t, 1, n - 1),
        F.slice(t, 2, n - 1),
        lambda a, b: a.cast("long") * big + b.cast("long"),
    )
    ex = tokens.filter(n >= 2).select(
        F.col(id_col), F.explode(pairs).alias("pair")
    )
    c2 = ex.groupBy("pair").agg(F.count("*").alias("c2"))
    ex1 = tokens.select(F.explode(tokens_col).alias("tok"))
    # vocab-bounded table used twice (the scalar count below and the
    # probability join): lazy-checkpoint so the count materializes it and
    # the join reuses the blocks instead of re-running the unigram pass
    c1 = (
        ex1.groupBy("tok")
        .agg(F.count("*").alias("c1"))
        .localCheckpoint(eager=False)
    )
    vocab = c1.count()  # one scalar — the smoothing denominator
    # previous-token count keyed by the packed pair's high word; integer
    # DIV, not float division — a*2^32+b approaches 2^63 and double
    # division would lose low bits
    probs = c2.withColumn("prev", F.expr("pair DIV 4294967296")).join(
        c1.select(F.col("tok").cast("long").alias("prev"), "c1"), "prev"
    ).select(
        "pair",
        F.log(
            (F.col("c2") + F.lit(alpha))
            / (F.col("c1") + F.lit(alpha * float(vocab)))
        ).alias("logp"),
    )
    if broadcast_probs:
        probs = F.broadcast(probs)
    return (
        ex.join(probs, "pair")
        .groupBy(id_col)
        .agg(
            F.avg("logp").alias("mean_bigram_logprob"),
            F.count("*").cast("long").alias("n_bigrams"),
        )
    )


def contamination_provenance(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_shared: int = 1,
) -> DataFrame:
    """Decontamination PROVENANCE: per (corpus doc, benchmark doc) pair,
    how many distinct n-gram shingles they share — the audit trail that
    tells you WHICH eval item leaked into which training document
    (``contamination_hits`` only says how much). Same scale shape: the
    benchmark's (bench_id, shingle) table is eval-suite-sized and
    broadcasts; the corpus probes it map-side and the pair aggregate is
    bounded by actual contamination, not the corpus."""
    from mhealth_spark.pipelines.text import shingles_col

    d_sh = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(shingles_col(text_col, n)).alias("g"),
    )
    b_sh = benchmark.select(
        F.col(id_col).alias("bench_id"),
        F.explode(shingles_col(text_col, n)).alias("g"),
    ).distinct()
    return (
        d_sh.join(F.broadcast(b_sh), "g")
        .groupBy("doc_id", "bench_id")
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def source_overlap(
    docs: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Pairwise cross-source duplicate-content matrix ``(src_a, src_b,
    n_shared)`` — how many distinct document texts each pair of sources
    shares. The mirror-detection / double-counting audit a mixture
    designer reads before setting sampling weights (a source that is 40%
    a mirror of another should not get independent budget).

    Scale shape: one md5 per doc (codegen), distinct on (hash, source)
    with map-side combine, then ONE row per distinct hash carrying its
    sorted source set (<= n_sources elements); in-row pair expansion via
    the nested transform/slice pattern (no self-join — the same
    no-recompute rationale as the LSH bucket expansion). Output is
    bounded by C(n_sources, 2)."""
    hs = docs.select(
        F.md5(F.col(text_col)).alias("h"), F.col(source_col).alias("src")
    ).distinct()
    sets = hs.groupBy("h").agg(F.sort_array(F.collect_set("src")).alias("ss"))
    pairs = F.flatten(
        F.transform(
            F.col("ss"),
            lambda x, i: F.transform(
                F.slice(
                    F.col("ss"), i + 2, F.greatest(F.size("ss") - i - 1, F.lit(0))
                ),
                lambda y: F.struct(x.alias("src_a"), y.alias("src_b")),
            ),
        )
    )
    return (
        sets.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.src_a").alias("src_a"), F.col("p.src_b").alias("src_b"))
        .agg(F.count("*").cast("long").alias("n_shared"))
    )


def ngram_diversity(
    tokens: DataFrame,
    tokens_col: str = "tokens",
    source_col: str = "source",
    pack_base: int = 1 << 20,
    exact: bool = True,
    approx_rsd: float = 0.01,
) -> DataFrame:
    """Per-source token-trigram diversity: total trigrams, distinct
    trigrams, and distinct-ppm — the self-repetition audit over
    the pre-tokenized table (low diversity flags templated/boilerplate
    sources before they flood a mixture; the token-level twin of the
    word-level ``source_curation_stats``).

    Trigrams pack into ONE long via two shifted-slice ``zip_with`` steps
    (no per-position subarray slices — the n-gram no-CSE lesson), so
    the distinct pass shuffles fixed-width integers only: distinct on
    (source, packed) with map-side combine, then a count per source.
    ``pack_base`` must exceed the vocab size; base^3 must stay under
    2^63 (default 2^20 -> 2^60).

    ``exact=True`` is the oracle tier: an EXACT distinct still shuffles
    every surviving (source, trigram) pair corpus-wide — fine to sf1,
    the wrong shape at 100 TB. ``exact=False`` is the scale tier:
    ``approx_count_distinct`` (HyperLogLog++ at ``approx_rsd`` relative
    standard deviation, default 1%) folds the distinct into the SAME
    single per-source aggregation as the total — map-side sketch
    partials, one source-keyed exchange of fixed-size sketches, no
    trigram-level shuffle at all. A diversity audit is a ratio read at
    ppm granularity; 1% rsd does not change any curation decision."""
    V = F.lit(pack_base)
    t = F.col(tokens_col)
    n = F.size(t)
    m = n - 2  # trigram count per doc
    p12 = F.zip_with(
        F.slice(t, 1, m),
        F.slice(t, 2, m),
        lambda a, b: a.cast("long") * V + b.cast("long"),
    )
    p123 = F.zip_with(
        p12, F.slice(t, 3, m), lambda p, c: p * V + c.cast("long")
    )
    ex = tokens.filter(n >= 3).select(
        F.col(source_col).alias("source"), F.explode(p123).alias("g")
    )
    if not exact:
        # scale tier: one aggregation, sketch-sized shuffle
        return ex.groupBy("source").agg(
            F.count("*").cast("long").alias("n_ngrams"),
            F.approx_count_distinct("g", approx_rsd)
            .cast("long")
            .alias("n_distinct"),
        ).select(
            "source",
            "n_ngrams",
            "n_distinct",
            F.expr("CAST((n_distinct * 1000000) DIV n_ngrams AS BIGINT)").alias(
                "distinct_ppm"
            ),
        )
    # ONE corpus explode pass (guide §2.3 "aggregate before you shuffle"):
    # count per (source, trigram) with map-side combine — the same bytes
    # the old ex.distinct() shuffle moved — then fold totals and distinct
    # out of that table in a second, trigram-table-sized aggregation.
    # Exactly equivalent to the former totals ⋈ distinct two-scan form
    # (n_ngrams = Σ per-trigram counts, n_distinct = row count) with one
    # explode pass and one corpus-wide shuffle instead of two of each.
    per_gram = ex.groupBy("source", "g").agg(F.count("*").alias("c"))
    return per_gram.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_ngrams"),
        F.count("*").cast("long").alias("n_distinct"),
    ).select(
        "source",
        "n_ngrams",
        "n_distinct",
        F.expr("CAST((n_distinct * 1000000) DIV n_ngrams AS BIGINT)").alias(
            "distinct_ppm"
        ),
    )


def contrastive_negatives(
    docs: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
    k: int = 3,
    buckets: int = 64,
    salt: str = "neg0",
) -> DataFrame:
    """Deterministic negative sampling for contrastive training: every
    doc gets up to ``k`` negatives = the next docs on a hash ring that
    come from a DIFFERENT source — a reproducible stand-in for "random
    in-batch negatives" (the ring position is a keyed hash, so pairs
    are uniform w.r.t. content yet identical across runs; no RNG).

    Scale shape: ring positions hash-partition into ``buckets``
    independent windows (no global sort — parallelism = buckets), each
    doc looks ahead ``k + margin`` in-bucket rows via ``lead`` and keeps
    the first ``k`` cross-source ones; output ≤ k·n rows, one exchange.
    The margin absorbs same-source neighbors (the corpus's Zipf head);
    docs near a bucket tail may emit fewer than ``k`` — the standard
    edge any bucketed sampler has. md5-ring tier for DuckDB parity; at
    scale swap the ring to ``xxhash64`` (same plan shape)."""
    margin = 3 * k
    ring = F.conv(
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit("#" + salt))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    base = docs.select(
        F.col(id_col), F.col(source_col), ring.alias("_ring")
    ).withColumn("_bkt", F.pmod(F.col("_ring"), F.lit(int(buckets))))
    w = Window.partitionBy("_bkt").orderBy("_ring", id_col)
    # window expressions must be plain projection columns — materialize
    # the leads first, assemble the candidate array in a second select
    led = base.select(
        id_col,
        source_col,
        *[
            c
            for i in range(1, margin + 1)
            for c in (
                F.lead(id_col, i).over(w).alias(f"_nid{i}"),
                F.lead(source_col, i).over(w).alias(f"_nsrc{i}"),
            )
        ],
    )
    cands = F.array(
        *[
            F.struct(
                F.col(f"_nid{i}").alias("nid"),
                F.col(f"_nsrc{i}").alias("nsrc"),
            )
            for i in range(1, margin + 1)
        ]
    )
    kept = F.slice(
        F.filter(
            cands,
            lambda s: s["nid"].isNotNull()
            & (s["nsrc"] != F.col(source_col)),
        ),
        1,
        int(k),
    )
    ex = led.select(
        id_col, source_col, F.posexplode(kept).alias("pos", "s")
    )
    return ex.select(
        F.col(id_col),
        F.col(source_col),
        (F.col("pos") + 1).cast("int").alias("neg_rank"),
        F.col("s.nid").alias("neg_id"),
        F.col("s.nsrc").alias("neg_source"),
    )


def split_leakage(
    docs: DataFrame,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "split0",
) -> DataFrame:
    """Train/val/test LEAKAGE audit: exact-duplicate content groups that
    span more than one split — the eval-hygiene failure a hash split
    cannot prevent (identical docs hash to different splits because the
    split keys on doc_id, dedup keys on content). Run AFTER dedup this
    must be empty; run before, it measures exactly how much eval
    contamination skipping dedup would cost.

    One fingerprint groupBy (map-side combined); emitted rows are
    leak-group-sized, tiny by construction. Pairs with the near-dup
    version of the same audit: feed ``minhash_lsh_candidates`` pairs
    through the split table and keep cross-split pairs."""
    from mhealth_spark.pipelines.text import words_col

    w = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    labeled = split_corpus(docs, w, id_col=id_col, salt=salt)
    norm = F.concat_ws(" ", words_col(text_col))
    fp = docs.select(F.col(id_col), F.md5(norm).alias("fp")).join(
        labeled.select(id_col, "split"), id_col
    )
    return (
        fp.groupBy("fp")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct("split").cast("long").alias("n_splits"),
            F.sort_array(F.collect_set("split")).alias("splits"),
            F.sort_array(F.collect_list(id_col)).alias("doc_ids"),
        )
        .filter((F.col("n_docs") > 1) & (F.col("n_splits") > 1))
    )


def split_leakage_fuzzy(
    docs: DataFrame,
    weights: dict[str, float] | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "split0",
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 5,
    verify_threshold: float | None = 0.5,
) -> DataFrame:
    """NEAR-duplicate twin of ``split_leakage``: LSH candidate pairs
    (optionally exact-Jaccard verified at ``verify_threshold``) whose
    two sides landed in different splits — the contamination exact-hash
    auditing cannot see (a lightly edited train doc leaking into test).
    Emits one row per leaking pair: (id_a, id_b, split_a, split_b[,
    jaccard]).

    Scale shape is inherited, not invented: candidates come from the
    same banded MinHash bucket expansion every fuzzy-dedup query uses
    (never all-pairs), the verify pass is bounded by the candidate set,
    and the split labels join back on the id — two broadcast-sized
    joins against a pair table that is output-sized by construction."""
    from mhealth_spark.pipelines.dedup import (
        jaccard_verify_pairs,
        minhash_lsh_candidates,
    )

    w = weights or {"train": 0.9, "val": 0.05, "test": 0.05}
    labeled = split_corpus(docs, w, id_col=id_col, salt=salt).select(
        id_col, "split"
    )
    pairs = minhash_lsh_candidates(
        docs, id_col, text_col, num_hashes, band_size, shingle_n
    )
    cols = ["id_a", "id_b"]
    if verify_threshold is not None:
        pairs = jaccard_verify_pairs(
            docs, pairs, id_col, text_col, threshold=verify_threshold
        )
        cols.append("jaccard")
    out = (
        pairs.join(
            labeled.withColumnRenamed(id_col, "id_a").withColumnRenamed(
                "split", "split_a"
            ),
            "id_a",
        )
        .join(
            labeled.withColumnRenamed(id_col, "id_b").withColumnRenamed(
                "split", "split_b"
            ),
            "id_b",
        )
        .filter(F.col("split_a") != F.col("split_b"))
    )
    return out.select(*cols, "split_a", "split_b")
