"""Round-6 optimization guards: the optimizations must not change any
operator's results.

- neardup_components grew a size-adaptive driver union-find fallback;
  the distributed min-label + pointer-jump path must stay equivalent.
- pick_centroids / pick_pq_codebooks were split into an id-draw + fetch;
  the seeds must equal the single-pass TakeOrdered form.
- the ANN centroid scoring moved to one constant-folded HOF; assignment
  must be bit-identical to the unrolled per-centroid expression form.
"""

from __future__ import annotations

import os
import sys

from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _chain_pairs(spark, n=40):
    """A long chain 0-1-2-...-n (worst-case diameter) plus a triangle."""
    rows = [(i, i + 1) for i in range(n)] + [(100, 101), (101, 102), (100, 102)]
    return spark.createDataFrame(rows, "id_a long, id_b long")


def test_components_driver_and_distributed_paths_agree(spark):
    from mhealth_spark.pipelines.dedup import neardup_components

    pairs = _chain_pairs(spark)
    drv = {
        r.doc_id: r.cluster_id
        for r in neardup_components(pairs).collect()
    }
    dist = {
        r.doc_id: r.cluster_id
        for r in neardup_components(pairs, max_driver_edges=0).collect()
    }
    assert drv == dist
    # chain collapses to min id 0; triangle to 100
    assert drv[40] == 0 and drv[102] == 100
    assert len(drv) == 44


def test_components_pointer_jump_converges_on_deep_chain(spark):
    from mhealth_spark.pipelines.dedup import neardup_components

    # diameter 60 chain must converge well inside max_iter via jumping
    rows = [(i, i + 1) for i in range(60)]
    pairs = spark.createDataFrame(rows, "id_a long, id_b long")
    out = neardup_components(pairs, max_iter=12, max_driver_edges=0)
    labels = {r.doc_id: r.cluster_id for r in out.collect()}
    assert set(labels.values()) == {0}


def test_pick_centroids_matches_single_pass_takeordered(spark):
    from mhealth_spark.pipelines.similarity import pick_centroids

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = pick_centroids(emb, 8)
    hx = F.substring(
        F.md5(F.concat(F.col("vec_id").cast("string"), F.lit("#ivf0"))), 1, 8
    )
    rows = (
        emb.select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("v"),
            hx.alias("_hx"),
        )
        .orderBy("_hx", "vec_id")
        .limit(8)
        .collect()
    )
    want = [list(r["v"]) for r in rows]
    assert got == want


def test_seed_picks_raise_on_duplicate_ids(spark):
    """A drawn id held by two rows has no single vector: both seed picks
    raise instead of returning fewer seeds than asked. A corpus with
    fewer rows than requested still returns all of them."""
    import pytest

    from mhealth_spark.pipelines.similarity import pick_centroids, pick_pq_codebooks

    rows = [(i, [float(i), 1.0]) for i in range(10)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    dup = spark.createDataFrame(
        rows + [(3, [9.0, 9.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="duplicate"):
        pick_centroids(dup, 10)
    with pytest.raises(ValueError, match="duplicate"):
        pick_pq_codebooks(dup, n_subspaces=1, n_codes=10)
    assert sorted(pick_centroids(emb, 20)) == sorted(v for _, v in rows)
    assert len(pick_pq_codebooks(emb, n_subspaces=2, n_codes=20)[0]) == 10


def test_ivf_assign_matches_unrolled_expression_form(spark):
    from mhealth_spark.pipelines.similarity import (
        _as_double,
        cosine_expr,
        ivf_assign,
        pick_centroids,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = pick_centroids(emb, 8)

    c = _as_double(emb, "vec_id", "embedding")
    scores = [
        cosine_expr(F.col("v"), F.array(*[F.lit(float(x)) for x in cc]))
        for cc in cents
    ]
    structs = F.array(
        *[
            F.struct(F.round(s, 9).alias("s"), F.lit(-i).alias("negcid"))
            for i, s in enumerate(scores)
        ]
    )
    best = F.array_max(structs)
    old = {
        r["vec_id"]: (r["cid"], r["ccos"])
        for r in c.select(
            "vec_id",
            (-best["negcid"]).cast("int").alias("cid"),
            best["s"].alias("ccos"),
        ).collect()
    }
    new = {
        r["vec_id"]: (r["cid"], r["ccos"])
        for r in ivf_assign(emb, cents, with_score=True)
        .select("vec_id", "cid", "ccos")
        .collect()
    }
    assert old == new
