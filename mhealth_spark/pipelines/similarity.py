"""Similarity search over embedding columns (``array<float>``).

- ``ann_topk_bruteforce`` — exact top-k cosine: broadcast the (small)
  query set against the corpus; dot products via ``F.zip_with`` +
  ``F.aggregate`` (JVM-side, no Python). The correctness baseline.
- ``ann_lsh_bucketed`` — the scale path: sign-signature buckets (random
  hyperplane family; here the first ``n_bits`` dimensions' signs, a
  deterministic, oracle-checkable member of that family). Candidates
  only form inside a bucket → the join is equi on the signature.
  At 10^12 vectors: signature = shuffle key, per-bucket top-k via
  window, multi-probe by flipping low-confidence bits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def cosine_expr(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns (sequential fold —
    deterministic accumulation order, parity with the DuckDB oracle).
    NULL for a zero-norm operand (cosine undefined): the WHEN branch
    keeps Spark's ANSI mode from throwing DIVIDE_BY_ZERO — without it a
    single failed/padded all-zero embedding kills the whole job (and
    poison-pills a streaming gate, which replays the same batch
    forever); NULL propagates through rounds/filters as no-match."""
    dot = F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )
    na = F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, v: s + v)
    )
    nb = F.sqrt(
        F.aggregate(F.transform(b, lambda x: x * x), F.lit(0.0), lambda s, v: s + v)
    )
    denom = na * nb
    return F.when(denom != 0, dot / denom)


def _as_double(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return df.select(
        F.col(id_col), F.transform(vec_col, lambda x: x.cast("double")).alias("v")
    )


def ann_topk_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k neighbors per query (self-match excluded when ids
    collide). Queries are broadcast — corpus never shuffles."""
    c = _as_double(corpus, id_col, vec_col).alias("c")
    q = (
        queries.select(
            F.col(query_id_col),
            F.transform(vec_col, lambda x: x.cast("double")).alias("qv"),
        )
    ).alias("q")
    scored = (
        F.broadcast(q).join(c, F.col(f"q.{query_id_col}") != F.col(f"c.{id_col}"))
        .select(
            F.col(f"q.{query_id_col}").alias("query_id"),
            F.col(f"c.{id_col}").alias("neighbor_id"),
            cosine_expr(F.col("q.qv"), F.col("c.v")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("cosine"), 9).desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", F.col("cosine"), "rank")
    )


def sign_signature(vec: Column, n_bits: int = 8, offset: int = 0) -> Column:
    """Deterministic LSH bucket: sign bits of dims [offset+1, offset+n_bits].

    ``offset`` selects a disjoint dim block, so several calls give the
    independent band signatures used by banded near-dup search
    (dedup.embedding_neardup_pairs)."""
    sig = F.lit(0)
    for j in range(n_bits):
        sig = sig * 2 + F.when(F.element_at(vec, offset + j + 1) > 0, 1).otherwise(0)
    return sig.cast("long")


def _table_signatures(vec: Column, band_bits: int, n_tables: int, probe_hamming: int):
    """Array of (table, sig) probe structs: per table t, the sign signature
    of dim block t, plus (probe_hamming=1) every single-bit flip of it —
    classic multi-probe, trading join fan-out for extra hash tables."""
    entries = []
    for t in range(n_tables):
        sig = sign_signature(vec, band_bits, t * band_bits)
        probes = [sig]
        if probe_hamming >= 1:
            probes += [
                sig.bitwiseXOR(F.lit(1 << j)) for j in range(band_bits)
            ]
        entries += [
            F.struct(F.lit(t).alias("t"), pr.alias("sig")) for pr in probes
        ]
    return F.array(*entries)


def ann_lsh_multiprobe(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    band_bits: int = 4,
    n_tables: int = 16,
    probe_hamming: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k with MULTIPLE hash tables (disjoint sign-bit dim
    blocks) and optional 1-bit multi-probe: a corpus vector is a candidate
    if it shares ANY (table, signature) bucket with the query (or one of
    its probes). All joins are equi on (table, sig); candidates are
    deduped before exact scoring.

    Recall grows as 1-(1-p^band_bits)^n_tables per neighbor at per-bit
    agreement p — tune (band_bits, n_tables, probe_hamming) to the
    similarity regime. The 4x16 default measures recall@5 >= 0.9 on the
    synthetic corpus, whose true neighbors sit at cosine ~0.4 where LSH
    pruning is intrinsically weak (see tests/test_domains.py); at true
    near-dup similarity the same structure prunes exponentially harder.
    """
    c = _as_double(corpus, id_col, vec_col)
    q = queries.select(
        F.col(query_id_col),
        F.transform(vec_col, lambda x: x.cast("double")).alias("qv"),
    )
    c_tab = c.select(
        F.col(id_col).alias("nid"),
        F.explode(
            _table_signatures(F.col("v"), band_bits, n_tables, 0)
        ).alias("ts"),
    ).select("nid", F.col("ts.t").alias("t"), F.col("ts.sig").alias("sig"))
    q_tab = q.select(
        F.col(query_id_col),
        F.explode(
            _table_signatures(F.col("qv"), band_bits, n_tables, probe_hamming)
        ).alias("ts"),
    ).select(query_id_col, F.col("ts.t").alias("t"), F.col("ts.sig").alias("sig"))
    cand = (
        q_tab.join(c_tab, ["t", "sig"])
        .filter(F.col(query_id_col) != F.col("nid"))
        .select(query_id_col, "nid")
        .distinct()
    )
    # pre-normed rejoin (same shape as dedup._semantic_pairs_from): each
    # candidate pays ONE dot-product fold instead of re-folding both
    # operand norms per pair — same values (norms are the identical
    # sequential fold, denominator multiplied in the same order)
    q_n = q.withColumn("_qn", _vec_norm(F.col("qv")))
    c_n = c.select(
        F.col(id_col).alias("nid"), "v", _vec_norm(F.col("v")).alias("_cn")
    )
    dot = F.aggregate(
        F.zip_with("qv", "v", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        cand.join(q_n, query_id_col)
        .join(c_n, "nid")
        .select(
            F.col(query_id_col).alias("query_id"),
            F.col("nid").alias("neighbor_id"),
            F.when(
                (F.col("_qn") * F.col("_cn")) != 0,
                dot / (F.col("_qn") * F.col("_cn")),
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("cosine"), 9).desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def ann_lsh_bucketed(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_bits: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign
    bucket; equi-join on the signature, per-bucket ranking."""
    c = _as_double(corpus, id_col, vec_col).withColumn(
        "sig", sign_signature(F.col("v"), n_bits)
    ).alias("c")
    q = (
        queries.select(
            F.col(query_id_col),
            F.transform(vec_col, lambda x: x.cast("double")).alias("qv"),
        )
        .withColumn("sig", sign_signature(F.col("qv"), n_bits))
    ).alias("q")
    scored = (
        q.join(
            c,
            (F.col("q.sig") == F.col("c.sig"))
            & (F.col(f"q.{query_id_col}") != F.col(f"c.{id_col}")),
        )
        .select(
            F.col(f"q.{query_id_col}").alias("query_id"),
            F.col(f"c.{id_col}").alias("neighbor_id"),
            cosine_expr(F.col("q.qv"), F.col("c.v")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("cosine"), 9).desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def pick_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "ivf0",
) -> list[list[float]]:
    """Deterministic one-shot IVF centroids: the ``n_centroids`` corpus
    vectors with the smallest ``md5(id '#' salt)`` draw, in draw order
    (cid = rank). A hash-uniform sample of the data IS a valid coarse
    quantizer seeding (k-means|| starts the same way); skipping Lloyd
    iterations keeps the whole structure reproducible in any engine —
    the property the DuckDB oracle needs. ``orderBy().limit(n)`` is a
    per-partition top-n + single small reduce, not a global sort."""
    return _seed_vectors(corpus, n_centroids, id_col, vec_col, salt)


def _seed_vectors(
    corpus: DataFrame, n: int, id_col: str, vec_col: str, salt: str
) -> list[list[float]]:
    """The seed draw shared by ``pick_centroids`` and
    ``pick_pq_codebooks``: the vectors (as doubles) of the ``n`` rows
    with the smallest ``md5(id '#' salt)`` draw, in draw order. A corpus
    with fewer rows returns them all.

    Two cheap jobs instead of one expensive one: the hash draw depends
    only on the id, so the n seed ids are selected first — column pruning
    drops the vector column entirely, which matters when ``corpus`` is a
    residual frame whose vector is itself an argmax-assignment expression
    (a single TakeOrderedAndProject would evaluate that projection for
    EVERY row before taking n). Then a pushed-down id filter fetches just
    those rows' vectors. Ids must be unique: a drawn id held by two rows
    has no single vector, so it raises ``ValueError``."""
    hx = F.substring(
        F.md5(F.concat(F.col(id_col).cast("string"), F.lit("#" + salt))), 1, 8
    )
    id_rows = (
        corpus.select(F.col(id_col), hx.alias("_hx"))
        .orderBy("_hx", id_col)
        .limit(n)
        .collect()
    )
    order = {r[id_col]: i for i, r in enumerate(id_rows)}
    picked = (
        corpus.filter(F.col(id_col).isin(list(order)))
        .select(
            F.col(id_col),
            F.transform(vec_col, lambda x: x.cast("double")).alias("v"),
        )
        .collect()
    )
    if len(picked) != len({r[id_col] for r in picked}):
        raise ValueError(
            f"seed draw holds a duplicate {id_col!r}; seed picks need unique ids"
        )
    return [list(r["v"]) for r in sorted(picked, key=lambda r: order[r[id_col]])]


def _dlit(x: float) -> str:
    """One DOUBLE literal as SQL text. ``repr`` emits the shortest
    decimal that round-trips the IEEE double exactly, so parsing it back
    yields the bit-identical value the old ``F.lit(float(x))`` carried."""
    x = float(x)
    if x != x:
        return "CAST('NaN' AS DOUBLE)"
    if x == float("inf"):
        return "CAST('Infinity' AS DOUBLE)"
    if x == float("-inf"):
        return "CAST('-Infinity' AS DOUBLE)"
    return repr(x) + "D"


def _arr_lit(vals: list[float]) -> Column:
    """array<double> literal built as ONE parsed SQL expression.

    The old per-element ``F.array(*[F.lit(x) ...])`` form crossed py4j
    once per element — ~0.5 s of driver time per 1k-element matrix, paid
    on every query that embeds a centroid table or codebook (measured:
    expr-parse is ~200× faster). The parsed tree is the same CreateArray
    over foldable literals, so it constant-folds identically."""
    return F.expr("array(" + ",".join(_dlit(v) for v in vals) + ")")


def _mat_lit(mat: list[list[float]]) -> Column:
    """array<array<double>> literal as one parsed SQL expression."""
    return F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(_dlit(v) for v in row) + ")" for row in mat
        )
        + ")"
    )


def _cube_lit(cube: list[list[list[float]]]) -> Column:
    """array<array<array<double>>> literal as one parsed SQL expression."""
    return F.expr(
        "array("
        + ",".join(
            "array("
            + ",".join(
                "array(" + ",".join(_dlit(v) for v in row) + ")" for row in m
            )
            + ")"
            for m in cube
        )
        + ")"
    )


def _seq_norm(c: list[float]) -> float:
    """sqrt(Σ x²) with the SAME left-to-right IEEE-double fold the JVM
    expression uses — bit-identical to evaluating the old per-centroid
    ``sqrt(aggregate(transform(c, x*x), 0.0, +))`` literal subtree, so
    precomputing it on the driver changes nothing downstream."""
    s = 0.0
    for x in c:
        s += float(x) * float(x)
    return s ** 0.5


def _vec_norm(vec: Column) -> Column:
    """Per-row ||vec|| as the sequential fold ``cosine_expr`` uses."""
    return F.sqrt(
        F.aggregate(
            F.transform(vec, lambda x: x * x), F.lit(0.0), lambda s, v: s + v
        )
    )


def _normed(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, v, nrm): the id as ``id``, the vector as doubles and its norm
    — the per-row input of a pairwise cosine refine, norms folded once
    per row instead of once per pair."""
    return df.select(
        F.col(id_col).alias("id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("v"),
    ).withColumn("nrm", _vec_norm(F.col("v")))


def _cos_side(v: DataFrame, side: str, id_col: str = "id", *keep: str) -> DataFrame:
    """One side of a pairwise cosine join over a (id, v, nrm) frame:
    ``id_<side>``, the ``keep`` columns, ``v<side>`` and ``n<side>``."""
    return v.select(
        F.col(id_col).alias(f"id_{side}"),
        *keep,
        F.col("v").alias(f"v{side}"),
        F.col("nrm").alias(f"n{side}"),
    )


def _pair_cosine() -> Column:
    """Cosine of a joined (``va``, ``na``) × (``vb``, ``nb``) pair from
    the precomputed norms, as the sequential fold (DuckDB
    ``list_cosine_similarity`` parity). NULL for a zero-norm side, as in
    ``cosine_expr``: the WHEN keeps ANSI mode from throwing
    DIVIDE_BY_ZERO, and NULL never passes a threshold filter."""
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
    )
    denom = F.col("na") * F.col("nb")
    return F.when(denom != 0, dot / denom)


def _centroid_scores_arr(
    vec: Column, na: Column, centroids: list[list[float]]
) -> Column:
    """All k centroid cosines as ONE array<double> expression.

    Plan-size optimization (guide §1.2 step 2 / §2.3): the per-centroid
    expression list unrolled k separate ~200-node fold subtrees (each
    recomputing the row norm and folding a 64-literal centroid), which
    dominated analysis + whole-stage-codegen time on every ANN/semantic
    query. Here the centroid matrix and the Python-precomputed centroid
    norms constant-fold into single array literals and one
    ``transform(sequence(0, k-1), ...)`` HOF computes every score —
    ~50× smaller tree, same 10^12-row map-only shape.

    Float semantics are IDENTICAL to the unrolled form: the dot product
    folds left-to-right over the same operand order, ``na`` is the same
    sequential fold (computed once per row by the caller), the centroid
    norm is the same fold run on the driver (``_seq_norm``), and the
    NULL-on-zero-denominator guard is unchanged — every score is
    bit-equal to the old expression's.
    """
    cmat = _mat_lit(centroids)
    nbs = _arr_lit([_seq_norm(c) for c in centroids])

    def score(i: Column) -> Column:
        cvec = F.element_at(cmat, i + F.lit(1))
        dot = F.aggregate(
            F.zip_with(vec, cvec, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        denom = na * F.element_at(nbs, i + F.lit(1))
        return F.when(denom != 0, dot / denom)

    return F.transform(F.sequence(F.lit(0), F.lit(len(centroids) - 1)), score)


def ivf_assign(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    with_score: bool = False,
) -> DataFrame:
    """Map-only inverted-file assignment: argmax-cosine centroid id per
    vector (ties at 9 dp broken toward the lower cid). ``with_score``
    adds ``ccos`` — the winning cosine (rounded 9 dp), the per-item
    centroid affinity SemDeDup's keep rule ranks on."""
    c = _as_double(corpus, id_col, vec_col).withColumn(
        # row norm computed ONCE per row and shared by all k scores (the
        # unrolled form re-folded it per centroid)
        "_na",
        _vec_norm(F.col("v")),
    )
    # ONE array of (score, -cid) structs, argmax via array_max: each score
    # subtree appears exactly once (a chained-when argmax would duplicate
    # every prior score inside each branch — Catalyst does not CSE across
    # branches and the expression grows quadratically). Struct ordering is
    # lexicographic; -cid makes ties resolve toward the LOWER cid. Scores
    # come from the single-HOF array form (see _centroid_scores_arr) —
    # bit-identical values, ~50× smaller expression tree.
    scores = _centroid_scores_arr(F.col("v"), F.col("_na"), centroids)
    structs = F.zip_with(
        scores,
        F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
        lambda s, i: F.struct(F.round(s, 9).alias("s"), (-i).alias("negcid")),
    )
    best = F.array_max(structs)
    cols = [F.col(id_col), F.col("v"), (-best["negcid"]).cast("int").alias("cid")]
    if with_score:
        cols.append(best["s"].alias("ccos"))
    return c.select(*cols)


def ann_ivf_oneshot(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    salt: str = "ivf0",
) -> DataFrame:
    """IVF-style approximate top-k: corpus vectors live in
    ``n_centroids`` inverted lists (map-only assignment); each query
    probes its ``n_probe`` closest centroids and candidates form by an
    equi-join on the centroid id. Exact cosine refine + per-query top-k
    window. At 10^12 vectors the probe join touches
    n_probe/n_centroids of the corpus instead of all of it, and the
    shuffle key (cid) has bounded cardinality with list sizes uniform in
    expectation under the hash seeding."""
    centroids = pick_centroids(corpus, n_centroids, id_col, vec_col, salt)
    assigned = ivf_assign(corpus, centroids, id_col, vec_col)
    return ann_ivf_probe(
        assigned, centroids, queries, k, n_probe, id_col, query_id_col
    )


def ann_ivf_probe(
    assigned: DataFrame,
    centroids: list[list[float]],
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe an EXISTING inverted file: ``assigned`` is the persistable
    (id, v, cid) index — at scale written partitioned by cid so a probe
    batch's selective cid set reaches the scan as a partition filter
    (dynamic partition pruning when the probe side broadcasts), reading
    n_probe/n_centroids of the index from disk instead of all of it.
    ``ann_ivf_oneshot`` is exactly build-then-probe; serving/ingest
    splits the two so query batches never re-assign the corpus. The
    vectors in ``assigned.v`` are doubles (ivf_assign casts once at
    build time). Queries arrive with ``vec_col`` in any numeric type."""
    q = queries.select(
        F.col(query_id_col),
        F.transform(vec_col, lambda x: x.cast("double")).alias("qv"),
    ).withColumn("_qna", _vec_norm(F.col("qv")))
    probe_structs = F.zip_with(
        _centroid_scores_arr(F.col("qv"), F.col("_qna"), centroids),
        F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
        lambda s, i: F.struct((-F.round(s, 9)).alias("negs"), i.alias("cid")),
    )
    probes = q.select(
        F.col(query_id_col),
        F.col("qv"),
        F.explode(
            F.slice(F.array_sort(probe_structs), 1, n_probe)
        ).alias("p"),
    ).select(query_id_col, "qv", F.col("p.cid").alias("cid"))
    scored = (
        probes.join(assigned, "cid")
        .filter(F.col(query_id_col) != F.col(id_col))
        .select(
            F.col(query_id_col).alias("query_id"),
            F.col(id_col).alias("neighbor_id"),
            cosine_expr(F.col("qv"), F.col("v")).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("cosine"), 9).desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def source_centroids(
    emb: DataFrame,
    docs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    by_col: str = "source",
) -> DataFrame:
    """Per-source embedding centroid (elementwise mean vector): the
    domain signature used for corpus steering / cluster seeding.
    posexplode → groupBy (source, dim) avg → reassemble in dim order.
    Shuffle bounded by |sources| × dim, not the corpus; means use
    Spark/DuckDB's identical pairwise-safe avg over exact float32→double
    widenings."""
    ex = emb.join(docs.select(F.col("doc_id").alias(id_col), by_col), id_col).select(
        by_col,
        F.posexplode(F.transform(vec_col, lambda x: x.cast("double"))).alias(
            "dim", "v"
        ),
    )
    per_dim = ex.groupBy(by_col, "dim").agg(
        F.avg("v").alias("m"), F.count("*").alias("n")
    )
    return (
        per_dim.groupBy(by_col)
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("dim"), F.col("m")))
            ).getField("m").alias("centroid"),
            # max, not first: with ragged embedding arrays the per-dim
            # counts differ and first() would report an arbitrary dim's
            # count depending on aggregation order; max(n) is the number
            # of vectors contributing to the best-covered dim — stable
            # under any partitioning
            F.max("n").alias("n_vecs"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): the memory-compression leg of the ANN family.
# A d-dim vector becomes M small codes (one per subspace), the index stores
# M bytes instead of d floats, and query scoring is M table lookups per
# item (ADC). IVF bounds how much of the corpus a query TOUCHES; PQ bounds
# what each touched item COSTS — production systems compose both.
# ---------------------------------------------------------------------------
def pick_pq_codebooks(
    corpus: DataFrame,
    n_subspaces: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "pq0",
) -> list[list[list[float]]]:
    """Deterministic PQ codebooks: the ``n_codes`` corpus vectors with the
    smallest md5(id '#' salt) draw seed ALL subspace codebooks — subspace
    m's codebook is those rows' m-th subvector (same hash-uniform seeding
    argument as ``pick_centroids``; no Lloyd iterations keeps the whole
    structure engine-reproducible, which the DuckDB oracle needs).
    Returns ``cb[m][j] = j-th code vector of subspace m``."""
    vecs = _seed_vectors(corpus, n_codes, id_col, vec_col, salt)
    d = len(vecs[0])
    ds = d // n_subspaces
    return [
        [v[m * ds : (m + 1) * ds] for v in vecs] for m in range(n_subspaces)
    ]


def _codebook_lit(codebooks: list[list[list[float]]]) -> Column:
    """The full M×Ks×ds codebook as ONE nested-array literal column —
    CreateArray over foldables constant-folds to a single Literal, so it
    costs nothing per row (the broadcast-equivalent at sandbox scale).
    Built as one parsed SQL expression (see _arr_lit) — the per-element
    py4j build cost dominated every PQ query's driver time."""
    return _cube_lit(codebooks)


def _l2sq_fold(a: Column, b: Column) -> Column:
    """Σ (a[i] − b[i])² as a left-to-right zip_with/aggregate fold — the
    same association order on every engine, so rounded distances rank
    identically in Spark and the SQL oracle."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )


def _pq_codes_expr(v: Column, cb: Column, m_count: int, ds: int) -> Column:
    """Per-subspace argmin-L2² codes (ties at 9 dp toward the lower code
    id) as ONE HOF expression over the codebook column: array<int> of
    length M. argmin uses the struct/array_min shape with the explicit
    two-arg (element, index) lambda."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(m_count - 1)),
        lambda m: F.array_min(
            F.transform(
                F.element_at(cb, m + F.lit(1)),
                lambda sub, j: F.struct(
                    F.round(
                        _l2sq_fold(
                            F.slice(v, m * F.lit(ds) + F.lit(1), F.lit(ds)),
                            sub,
                        ),
                        9,
                    ).alias("d"),
                    j.alias("cid"),
                ),
            )
        )["cid"],
    ).cast("array<int>")


def _pq_lut_expr(qv: Column, cb: Column, m_count: int, ds: int) -> Column:
    """The query-side ADC lookup table as an M×Ks nested array: exact
    L2² (rounded 9 dp) from each query subvector to every code vector."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(m_count - 1)),
        lambda m: F.transform(
            F.element_at(cb, m + F.lit(1)),
            lambda sub: F.round(
                _l2sq_fold(
                    F.slice(qv, m * F.lit(ds) + F.lit(1), F.lit(ds)),
                    sub,
                ),
                9,
            ),
        ),
    )


def _adc_fold(codes: Column, lut: Column) -> Column:
    """``Σ_m lut[m][codes[m]]`` — M element_at lookups per candidate,
    left-to-right fold so Spark and the SQL oracle sum in one order."""
    return F.aggregate(
        F.zip_with(codes, lut, lambda code, row: F.element_at(row, code + F.lit(1))),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def pq_encode(
    corpus: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Map-only PQ encoding: per subspace, the argmin-L2² code. The
    codebook rides as one constant-folded nested-array literal and ALL
    per-row work happens in higher-order functions over bound references
    — no per-code unrolled expressions (an unrolled 8×16×8 sum tree blew
    janino's 64 KB method limit and fell back to interpreted whole-stage
    eval, ~10× slower). Output: (id, v, codes array<int> length M)."""
    c = _as_double(corpus, id_col, vec_col)
    staged = c.withColumn("_cb", _codebook_lit(codebooks))
    codes = _pq_codes_expr(
        F.col("v"), F.col("_cb"), len(codebooks), len(codebooks[0][0])
    )
    return staged.select(
        F.col(id_col),
        F.col("v"),
        codes.alias("codes"),
    )


def pq_adc_topk(
    encoded: DataFrame,
    codebooks: list[list[list[float]]],
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Asymmetric-distance top-k over a PQ index: each query first builds
    its M×Ks lookup table (exact L2² from the query subvector to every
    code vector — map-only, HOFs over the constant-folded codebook
    literal), then every candidate costs M ``element_at`` lookups
    instead of d multiplies: ``adc = Σ_m lut[m][codes[m]]``. The query
    side (tiny) broadcasts; the encoded corpus never shuffles until the
    per-query top-k window over k·|queries| survivors. Approximation
    error comes only from quantization — ADC itself is exact given the
    codes."""
    q = queries.select(
        F.col(query_id_col),
        F.transform(vec_col, lambda x: x.cast("double")).alias("qv"),
    ).withColumn("_cb", _codebook_lit(codebooks))
    lut = _pq_lut_expr(
        F.col("qv"), F.col("_cb"), len(codebooks), len(codebooks[0][0])
    )
    q = q.select(query_id_col, F.col("qv"), lut.alias("_lut"))
    scored = (
        F.broadcast(q)
        .crossJoin(encoded)
        .filter(F.col(query_id_col) != F.col(id_col))
        .select(
            F.col(query_id_col).alias("query_id"),
            F.col(id_col).alias("neighbor_id"),
            _adc_fold(F.col("codes"), F.col("_lut")).alias("adc_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("adc_dist"), 9).asc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


# ---------------------------------------------------------------------------
# IVF-PQ (IVFADC, Jégou et al. 2011): the composed billion-scale index.
# IVF bounds how much of the corpus a query TOUCHES (probe n_probe of
# n_centroids inverted lists); PQ bounds what each touched item COSTS
# (M byte codes + M table lookups instead of d floats + d multiplies).
# Codes quantize the RESIDUAL v − centroid(cid) — residuals are centered
# and much lower-energy than raw vectors, so the same codebook budget
# buys far less quantization error.
# ---------------------------------------------------------------------------
def _centroid_matrix_lit(centroids: list[list[float]]) -> Column:
    """All coarse centroids as one constant-folded nested-array literal,
    indexable by ``element_at(_, cid + 1)`` — one parsed SQL expression
    (see _arr_lit for why)."""
    return _mat_lit(centroids)


def ivfpq_residuals(
    corpus: DataFrame,
    centroids: list[list[float]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Map-only coarse assignment + residual: (id, cid, r = v − c_cid).
    Reuses ``ivf_assign`` (argmax-cosine centroid, ties toward the lower
    cid); the centroid matrix rides as a literal so the residual is pure
    codegen — no join, no shuffle, the 10^12-row shape."""
    assigned = ivf_assign(corpus, centroids, id_col, vec_col)
    cmat = _centroid_matrix_lit(centroids)
    return assigned.select(
        F.col(id_col),
        F.col("cid"),
        F.zip_with(
            F.col("v"),
            F.element_at(cmat, F.col("cid") + F.lit(1)),
            lambda x, y: x - y,
        ).alias("r"),
    )


def ivfpq_encode(
    residuals: DataFrame,
    codebooks: list[list[list[float]]],
    id_col: str = "vec_id",
    res_col: str = "r",
) -> DataFrame:
    """PQ-encode the residual frame, keeping the inverted-list id:
    (id, cid, codes). This IS the persistable IVF-PQ index — at scale
    written partitioned by cid (like ``ann_ivf_probe``'s inverted file)
    with M bytes of payload per vector instead of d floats."""
    staged = residuals.withColumn("_cb", _codebook_lit(codebooks))
    codes = _pq_codes_expr(
        F.col(res_col), F.col("_cb"), len(codebooks), len(codebooks[0][0])
    )
    return staged.select(F.col(id_col), F.col("cid"), codes.alias("codes"))


def ann_ivfpq_adc(
    encoded: DataFrame,
    centroids: list[list[float]],
    codebooks: list[list[list[float]]],
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVFADC serving: each query probes its ``n_probe`` closest coarse
    centroids, builds ONE ADC lookup table per probed list from its
    RESIDUAL against that list's centroid (lut[m][j] = L2²(qr_m, cb[m][j])),
    and candidates form by the equi-join on cid — so a query batch
    touches n_probe/n_centroids of the index, and each candidate costs M
    ``element_at`` lookups. The probe side (|queries|×n_probe rows, each
    carrying an M×Ks lut) broadcasts; the encoded index never shuffles.
    Distance is approximate through BOTH quantizers: adc ≈ ||q − c_cid −
    r̂||² = ||qr − r̂||²."""
    m_count = len(codebooks)
    ds = len(codebooks[0][0])
    q = queries.select(
        F.col(query_id_col),
        F.transform(vec_col, lambda x: x.cast("double")).alias("qv"),
    ).withColumn("_qna", _vec_norm(F.col("qv")))
    probe_structs = F.zip_with(
        _centroid_scores_arr(F.col("qv"), F.col("_qna"), centroids),
        F.sequence(F.lit(0), F.lit(len(centroids) - 1)),
        lambda s, i: F.struct((-F.round(s, 9)).alias("negs"), i.alias("cid")),
    )
    cmat = _centroid_matrix_lit(centroids)
    probes = (
        q.select(
            F.col(query_id_col),
            F.col("qv"),
            F.explode(
                F.slice(F.array_sort(probe_structs), 1, n_probe)
            ).alias("p"),
        )
        .select(query_id_col, "qv", F.col("p.cid").alias("cid"))
        .withColumn(
            "qr",
            F.zip_with(
                F.col("qv"),
                F.element_at(cmat, F.col("cid") + F.lit(1)),
                lambda x, y: x - y,
            ),
        )
        .withColumn("_cb", _codebook_lit(codebooks))
        .select(
            query_id_col,
            "cid",
            _pq_lut_expr(F.col("qr"), F.col("_cb"), m_count, ds).alias("_lut"),
        )
    )
    scored = (
        F.broadcast(probes)
        .join(encoded, "cid")
        .filter(F.col(query_id_col) != F.col(id_col))
        .select(
            F.col(query_id_col).alias("query_id"),
            F.col(id_col).alias("neighbor_id"),
            _adc_fold(F.col("codes"), F.col("_lut")).alias("adc_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.round(F.col("adc_dist"), 9).asc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_dist", "rank")
    )


def lloyd_refine(
    corpus: DataFrame,
    centroids: list[list[float]],
    n_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Lloyd (k-means) refinement of a coarse quantizer: each iteration
    re-assigns every vector to its argmax-cosine centroid (``ivf_assign``
    — map-only, centroids as literals) and replaces each centroid with
    its members' per-dim mean. Turns the hash-seeded one-shot quantizers
    (IVF, IVF-PQ, SemDeDup) into trained ones; empty clusters keep their
    previous centroid.

    Scale shape per iteration: one map pass + one posexplode groupBy
    whose OUTPUT is k×d rows (map-side combine collapses each partition
    to ≤k×d partials — the same bounded-shuffle argument as
    ``source_centroids``), then a k×d driver collect (bounded, tiny) to
    refresh the literals. n_iters is a small constant — the classic
    trade: each iteration is one more corpus read, no corpus shuffle
    ever exceeds k×d keys."""
    k = len(centroids)
    for _ in range(n_iters):
        assigned = ivf_assign(corpus, centroids, id_col, vec_col)
        # collect the (cid, dim, mu) partials directly — k×d rows, the
        # same bounded driver transfer — and assemble the vectors in
        # Python instead of paying a second shuffle + array_sort just to
        # pack them (identical per-dim averages either way)
        rows = (
            assigned.select("cid", F.posexplode("v").alias("dim", "x"))
            .groupBy("cid", "dim")
            .agg(F.avg("x").alias("mu"))
            .collect()
        )
        acc: dict[int, list[tuple[int, float]]] = {}
        for r in rows:
            acc.setdefault(int(r["cid"]), []).append(
                (int(r["dim"]), float(r["mu"]))
            )
        # dim-sorted mus — exactly the old array_sort(collect_list(...))
        # packing, including the ragged-dim edge (absent dims stay absent)
        new = {
            cid: [mu for _, mu in sorted(pairs)] for cid, pairs in acc.items()
        }
        centroids = [new.get(i, centroids[i]) for i in range(k)]
    return centroids


def embedding_outliers(
    emb: DataFrame,
    docs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    by_col: str = "source",
    z_threshold: float = 3.0,
) -> DataFrame:
    """Embedding-space outlier detection — the data-quality face of the
    centroid family: per vector, the cosine to its OWN group's centroid,
    then a within-group z-score of that affinity; low-affinity outliers
    flag mislabeled, off-domain, or corrupted documents before they
    poison curation statistics.

    Three bounded shuffles, corpus scanned twice: the |groups|×d
    centroid aggregate (``source_centroids``), a broadcast join of the
    tiny centroid table back onto the vectors for the per-vector cosine
    (map-only after the broadcast), and one (group)-keyed aggregate for
    the affinity mean/stddev — reused as a broadcast to the final
    map-only z-score/flag projection. Population stddev (``stddev_pop``)
    so the z-scores are engine-portable."""
    cents = source_centroids(emb, docs, id_col, vec_col, by_col).select(
        by_col,
        # 12-dp centroid snap: the per-dim avg is the one place engines
        # can disagree at ~1e-16 (summation order); snapping both sides
        # to 12 dp keeps the downstream rounded cosine boundary-stable
        F.transform("centroid", lambda x: F.round(x, 12)).alias("centroid"),
    )
    tagged = emb.join(
        docs.select(F.col("doc_id").alias(id_col), by_col), id_col
    ).select(
        F.col(id_col),
        F.col(by_col),
        F.transform(vec_col, lambda x: x.cast("double")).alias("v"),
    )
    scored = tagged.join(
        F.broadcast(cents.select(by_col, "centroid")), by_col
    ).select(
        id_col,
        by_col,
        F.round(cosine_expr(F.col("v"), F.col("centroid")), 9).alias(
            "centroid_cos"
        ),
    )
    stats = scored.groupBy(by_col).agg(
        F.avg("centroid_cos").alias("_mu"),
        F.stddev_pop("centroid_cos").alias("_sd"),
    )
    return scored.join(F.broadcast(stats), by_col).select(
        id_col,
        by_col,
        "centroid_cos",
        F.when(
            F.col("_sd") > 0,
            (F.col("centroid_cos") - F.col("_mu")) / F.col("_sd"),
        ).alias("affinity_z"),
        (
            (F.col("_sd") > 0)
            & (
                (F.col("centroid_cos") - F.col("_mu")) / F.col("_sd")
                < -F.lit(z_threshold)
            )
        ).alias("is_outlier"),
    )


def ivf_append(
    new_vectors: DataFrame,
    centroids: list[list[float]],
    index_path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Incremental growth of a persisted IVF index: assign the new batch
    to the FIXED coarse quantizer (map-only centroid-literal argmax, no
    shuffle) and append into the cid-partitioned store — only the
    partitions the batch actually lands in are touched, the existing
    index is never read or rewritten, and a subsequent ``ann_ivf_probe``
    over the store sees exactly the index a full rebuild would produce
    (pytest-asserted). The quantizer must be the one the index was built
    with — re-quantizing requires a rebuild (same invariant as
    ``streaming.stream_semantic_dedup``).

    Appends accumulate one file per batch per touched partition; on a
    long-lived index fold them periodically (e.g.
    ``spark.read.parquet(p).write.option("maxRecordsPerFile", ...)`` to
    a fresh path, or a compaction pass per cid) — file count, not row
    count, is what degrades probe latency at scale."""
    # cluster the batch by cid before the partitioned append (guide §6):
    # one file per touched partition per batch instead of tasks × cids
    ivf_assign(new_vectors, centroids, id_col, vec_col).repartition(
        "cid"
    ).write.mode("append").partitionBy("cid").parquet(index_path)
