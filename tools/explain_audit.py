"""Plan-quality audit: prints `.explain("formatted")` for headline queries
and greps for the properties the engine promises:

- filters reach the parquet scan (PushedFilters)
- projections prune the scan (ReadSchema)
- interval/as-of joins are shuffled EQUI joins, never
  BroadcastNestedLoopJoin / CartesianProduct
- small dimension sides broadcast

Usage: python tools/explain_audit.py [query ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mhealth_spark.queries import QUERIES  # noqa: E402
from mhealth_spark.session import get_spark  # noqa: E402

AUDIT = {
    "f1_filter_project": dict(
        requires=["PushedFilters: \\[.*event_type.*\\]"],
        forbids=["BroadcastNestedLoopJoin", "CartesianProduct"],
    ),
    "flagship_hourly_daily_stats": dict(
        requires=["PushedFilters: \\[.*event_type.*\\]", "HashAggregate"],
        forbids=["BroadcastNestedLoopJoin", "CartesianProduct"],
    ),
    "j6_backfill_24h": dict(
        requires=["(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"],
        forbids=["BroadcastNestedLoopJoin", "CartesianProduct"],
    ),
    "j2_interval_semi": dict(
        requires=["(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin).*LeftSemi"],
        forbids=["BroadcastNestedLoopJoin", "CartesianProduct"],
    ),
    "sessionize_gap30": dict(
        requires=["Window"], forbids=["CartesianProduct"]
    ),
    # candidate pairs come from groupBy-bucket expansion, NOT a self-join:
    # the plan must have the bucket aggregate + pair Generate and no join
    # of any kind (tests/test_domains.py also asserts the single scan)
    "dedup_minhash_lsh": dict(
        requires=["HashAggregate", "Generate"],
        forbids=["Join", "CartesianProduct"],
    ),
    # round-2 additions: the cartesian near-dup is gone — banded LSH is a
    # plain shuffled equi-join on (band, sig)
    "dedup_embedding_cosine": dict(
        requires=["(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"],
        forbids=["BroadcastNestedLoopJoin", "CartesianProduct"],
    ),
    "dedup_simhash_hamming": dict(
        requires=["(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"],
        forbids=["BroadcastNestedLoopJoin", "CartesianProduct"],
    ),
    "ann_lsh_multiprobe": dict(
        requires=["(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"],
        forbids=["BroadcastNestedLoopJoin", "CartesianProduct"],
    ),
    # narrow feature-vector tier: the parquet scan must NOT read the token
    # arrays (ReadSchema excludes `tokens`) and the window is the only
    # exchange
    "tokens_row_features": dict(
        requires=["Window", "(ShuffledHashJoin|SortMergeJoin)"],
        forbids=["BroadcastNestedLoopJoin", "CartesianProduct"],
    ),
    "corpus_pack_chunked": dict(
        requires=["Window"],
        forbids=["BroadcastNestedLoopJoin", "CartesianProduct"],
    ),
    "corpus_vocab_top": dict(
        requires=["HashAggregate"],
        forbids=["BroadcastNestedLoopJoin", "CartesianProduct"],
    ),
    # deterministic-draw family: mixing/sharding are exactly one window
    # exchange (split + quality filter are pure maps — see
    # audit_pure_maps, which bypasses the testdata repartition artifact)
    "corpus_mix_budget": dict(
        requires=["Window"],
        forbids=["BroadcastNestedLoopJoin", "CartesianProduct"],
    ),
    "corpus_shard_assign": dict(
        requires=["Window"],
        forbids=["BroadcastNestedLoopJoin", "CartesianProduct"],
    ),
    # the probability table must broadcast (a shuffle join on token would
    # move the exploded corpus twice)
    "corpus_unigram_logprob": dict(
        requires=["BroadcastHashJoin"],
        forbids=["BroadcastNestedLoopJoin", "CartesianProduct"],
    ),
    "corpus_pack_arrays": dict(
        requires=["Window", "(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"],
        forbids=["BroadcastNestedLoopJoin", "CartesianProduct"],
    ),
    "ann_ivf_oneshot": dict(
        requires=["(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"],
        forbids=["BroadcastNestedLoopJoin", "CartesianProduct"],
    ),
    # IVF-PQ serving: candidates form by the broadcast probe equi-join on
    # cid — never a cartesian over the encoded index (flat ann_pq_adc is
    # the deliberate full-scan tier and is excluded here)
    "ann_ivfpq_adc": dict(
        requires=["BroadcastHashJoin"],
        forbids=["BroadcastNestedLoopJoin", "CartesianProduct"],
    ),
    "corpus_dsir_weights": dict(
        requires=["HashAggregate"],
        forbids=["BroadcastNestedLoopJoin", "CartesianProduct"],
    ),
    "text_line_dedup": dict(
        requires=["HashAggregate"],
        forbids=["BroadcastNestedLoopJoin", "CartesianProduct"],
    ),
    "corpus_bigram_logprob": dict(
        requires=["BroadcastHashJoin"],
        forbids=["BroadcastNestedLoopJoin", "CartesianProduct"],
    ),
    "similarity_outliers": dict(
        requires=["BroadcastHashJoin"],
        forbids=["BroadcastNestedLoopJoin", "CartesianProduct"],
    ),
    "corpus_chunk_windows": dict(
        requires=["Generate"],  # the explode; pure map otherwise
        forbids=[
            "BroadcastNestedLoopJoin",
            "CartesianProduct",
            # chunking itself must not shuffle on a key; the only
            # Exchange allowed is _docs' round-robin split of the
            # single-row-group testdata parquet
            "Exchange hashpartitioning",
            "Exchange rangepartitioning",
        ],
    ),
    # round-4 additions
    "corpus_bpe_top_pairs": dict(
        # packed-pair explode + partial-agg'd count + global top-k; the
        # argmax must be TakeOrderedAndProject, never a full sort
        requires=["Generate", "HashAggregate", "TakeOrderedAndProject"],
        forbids=["Join", "CartesianProduct", "Sort \\["],
    ),
    "corpus_bpe_merge_apply": dict(
        # the greedy rewrite is a narrow map: no join, no key shuffle
        # (the only Exchange is _bpe_tokens' round-robin split)
        forbids=[
            "Join",
            "CartesianProduct",
            "Exchange hashpartitioning",
            "Exchange rangepartitioning",
        ],
    ),
    "dedup_cdc_chunks": dict(
        # per-doc window then one chunk-rebuild aggregate; no join
        requires=["Window", "HashAggregate"],
        forbids=["Join", "CartesianProduct"],
    ),
    "dedup_cdc_stats": dict(
        # the shared-chunk filter must be a BROADCAST semi join
        requires=["BroadcastHashJoin.*LeftSemi"],
        forbids=["BroadcastNestedLoopJoin", "CartesianProduct"],
    ),
    "corpus_source_overlap": dict(
        # one row per content hash + in-row pair expansion — no self-join
        requires=["HashAggregate", "Generate"],
        forbids=["Join", "CartesianProduct"],
    ),
    "tokens_ngram_diversity": dict(
        requires=["HashAggregate"],
        forbids=["BroadcastNestedLoopJoin", "CartesianProduct"],
    ),
}


def audit_feature_vectors(spark) -> list[str]:
    """The pruning promise: feature_vectors off parquet scans only the 4
    narrow columns — `tokens` must be absent from the scan's ReadSchema."""
    from mhealth_spark.synth import materialize_synth_tokens
    from mhealth_spark.tokens_engine import feature_vectors

    path = materialize_synth_tokens(spark)
    df = feature_vectors(spark.read.parquet(path))
    plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )
    problems = []
    m = re.search(r"ReadSchema: ([^\n]*)", plan)
    if not m:
        problems.append("no ReadSchema found")
    elif "tokens" in m.group(1):
        problems.append(f"token arrays NOT pruned from scan: {m.group(1)}")
    return problems


def audit_pure_maps(spark) -> list[str]:
    """split_corpus and quality_filter are pure maps: over a direct
    parquet read (no testdata repartition artifact) their physical plans
    must contain NO Exchange of any kind."""
    from mhealth_spark.pipelines.corpus import split_corpus
    from mhealth_spark.pipelines.text import quality_filter
    from mhealth_spark.source import read_table

    docs = read_table(spark, "documents", "/root/testdata/sf0.001")
    problems = []
    for label, df in (
        ("split_corpus", split_corpus(docs, {"train": 0.9, "test": 0.1})),
        ("quality_filter", quality_filter(docs)),
    ):
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        if "Exchange" in plan:
            problems.append(f"{label}: unexpected Exchange in pure-map plan")
    return problems


def main() -> int:
    names = sys.argv[1:] or list(AUDIT)
    spark = get_spark("explain_audit", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    failures = 0
    for name in names:
        df = QUERIES[name](spark, "/root/testdata/sf0.001")
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        spec = AUDIT.get(name, {})
        problems = []
        for pat in spec.get("requires", []):
            if not re.search(pat, plan, re.DOTALL):
                problems.append(f"MISSING {pat}")
        for pat in spec.get("forbids", []):
            if re.search(pat, plan):
                problems.append(f"FORBIDDEN {pat}")
        status = "OK" if not problems else "FAIL"
        if problems:
            failures += 1
        print(f"{status} {name}")
        for p in problems:
            print(f"    {p}")
        if problems or name in sys.argv[1:]:
            print(plan[:4000])
    fv_problems = audit_feature_vectors(spark)
    print("OK feature_vectors: token column pruned from scan" if not fv_problems
          else f"FAIL feature_vectors: {fv_problems}")
    failures += bool(fv_problems)
    pm_problems = audit_pure_maps(spark)
    print("OK pure-map family: zero Exchange (split_corpus, quality_filter)"
          if not pm_problems else f"FAIL pure maps: {pm_problems}")
    failures += bool(pm_problems)
    spark.stop()
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
