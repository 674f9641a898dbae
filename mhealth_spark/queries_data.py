"""Driver queries for the training-data pipeline operators (dedup,
similarity, text analysis, multimodal) over the ``documents`` /
``embeddings`` / ``lineitem`` testdata tables. Registered into the same
QUERIES/ORACLES registry as the core operators (see queries.py)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from mhealth_spark.pipelines import dedup, multimodal, similarity, text
from mhealth_spark.queries import register
from mhealth_spark.source import read_table
from mhealth_spark.synth import TOKENS_CACHE_DIR

_WORDS_SQL = "list_filter(string_split_regex(text, '\\s+'), w -> w <> '')"
_SHINGLES_SQL = (
    "list_distinct(list_transform("
    "generate_series(1, greatest(len({w}) - 4, 1)), "
    "i -> array_to_string({w}[i:i+4], ' ')))"
).format(w="w")


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the testdata parquet is ONE row group — unsplittable, so every text
    # op downstream would run single-task. One cheap shuffle of the raw
    # docs buys full-width parallel hashing (measured 3x on the dedup
    # family at sf0.1). At scale the scan splits naturally by file/row
    # group and this repartition is a no-op to remove.
    docs = read_table(spark, "documents", sf_dir)
    return docs.repartition(spark.sparkContext.defaultParallelism)


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # same single-row-group artifact as _docs: split before the vector math
    emb = read_table(spark, "embeddings", sf_dir)
    return emb.repartition(spark.sparkContext.defaultParallelism)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------
@register(
    "text_token_counts",
    f"""
    WITH d AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents)
    SELECT doc_id,
           CAST(len(w) AS BIGINT) AS n_words,
           CAST(list_sum(list_transform(w, x -> CAST(ceil(length(x)/4.0) AS BIGINT)))
                AS BIGINT) AS n_subwords_est
    FROM d
    """,
)
def text_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = text.token_counts(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_subwords_est").cast("long").alias("n_subwords_est"),
    )


@register(
    "text_quality",
    f"""
    WITH d AS (SELECT doc_id, text, {_WORDS_SQL} AS w FROM documents)
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS q_n_chars,
           CAST(len(w) AS BIGINT) AS q_n_words,
           round(length(text) * 1.0 / len(w), 6) AS q_mean_word_len,
           round((length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                 * 1.0 / length(text), 6) AS q_punct_ratio,
           round(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                 * 1.0 / length(text), 6) AS q_alpha_ratio,
           round(len(list_filter(w, x -> list_contains(
                 ['the','a','an','of','and','to','in','is','it','that'], lower(x))))
                 * 1.0 / len(w), 6) AS q_stopword_ratio
    FROM d
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = text.quality_features(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("q_n_chars").cast("long").alias("q_n_chars"),
        F.col("q_n_words").cast("long").alias("q_n_words"),
        F.round("q_mean_word_len", 6).alias("q_mean_word_len"),
        F.round("q_punct_ratio", 6).alias("q_punct_ratio"),
        F.round("q_alpha_ratio", 6).alias("q_alpha_ratio"),
        F.round("q_stopword_ratio", 6).alias("q_stopword_ratio"),
    )


@register(
    "text_lang_id",
    f"""
    WITH d AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    c AS (
      SELECT doc_id,
        len(list_filter(w, x -> list_contains(['the','a','of','and','is'], lower(x)))) c_en,
        len(list_filter(w, x -> list_contains(['der','die','das','und','ist'], lower(x)))) c_de,
        len(list_filter(w, x -> list_contains(['el','la','de','que','es'], lower(x)))) c_es,
        len(list_filter(w, x -> list_contains(['le','la','et','est','que'], lower(x)))) c_fr
      FROM d)
    SELECT doc_id,
      CASE WHEN c_en > 0 AND c_en >= c_de AND c_en >= c_es AND c_en >= c_fr THEN 'en'
           WHEN c_de > 0 AND c_de >= c_es AND c_de >= c_fr THEN 'de'
           WHEN c_es > 0 AND c_es >= c_fr THEN 'es'
           WHEN c_fr > 0 THEN 'fr'
           ELSE 'unknown' END AS lang_pred
    FROM c
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.lang_id(_docs(spark, sf_dir)).select("doc_id", "lang_pred")


@register(
    "text_fingerprint",
    f"""
    WITH d AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents)
    SELECT doc_id, md5(array_to_string(w, ' ')) AS fingerprint FROM d
    """,
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text.fingerprint_md5(_docs(spark, sf_dir)).select("doc_id", "fingerprint")


# rolling 64-bit fingerprint: Spark-only hash chain → rows-only check
@register(
    "text_repetition",
    f"""
    WITH d AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    g AS (SELECT doc_id,
      list_filter(list_transform(
        generate_series(1, greatest(len(w) - 1, 1)),
        i -> array_to_string(w[i:i+1], ' ')), s -> s <> '') AS g2,
      list_filter(list_transform(
        generate_series(1, greatest(len(w) - 4, 1)),
        i -> array_to_string(w[i:i+4], ' ')), s -> s <> '') AS g5
      FROM d)
    SELECT doc_id,
      CAST(len(g2) AS BIGINT) AS n_grams_2,
      round(CASE WHEN len(g2) > 0
        THEN (len(g2) - len(list_distinct(g2))) / CAST(len(g2) AS DOUBLE)
        ELSE 0.0 END, 6) AS dup_gram_frac_2,
      CAST(len(g5) AS BIGINT) AS n_grams_5,
      round(CASE WHEN len(g5) > 0
        THEN (len(g5) - len(list_distinct(g5))) / CAST(len(g5) AS DOUBLE)
        ELSE 0.0 END, 6) AS dup_gram_frac_5
    FROM g
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-doc duplicate n-gram fractions (repetition quality filter)."""
    from mhealth_spark.pipelines.text import repetition_stats

    out = repetition_stats(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        F.col("n_grams_2").cast("long").alias("n_grams_2"),
        F.round("dup_gram_frac_2", 6).alias("dup_gram_frac_2"),
        F.col("n_grams_5").cast("long").alias("n_grams_5"),
        F.round("dup_gram_frac_5", 6).alias("dup_gram_frac_5"),
    )


# text.rolling_fingerprint_xxh (the 64-bit xxhash rolling-fingerprint
# scale tier) is deliberately NOT registered: xxhash64 has no DuckDB
# twin, and a registered no-oracle query is a guaranteed red driver row
# (round-3 sample). The md5 tier `text_fingerprint` above carries the
# oracle; the xxh chain is value-checked by the pandas differential in
# tests/test_domains.py and stays a library API.


# ---------------------------------------------------------------------------
# Dedup family
# ---------------------------------------------------------------------------
@register(
    "dedup_exact_groups",
    f"""
    WITH d AS (SELECT doc_id, md5(array_to_string({_WORDS_SQL}, ' ')) AS fp
               FROM documents),
    g AS (SELECT fp, count(*) AS group_size, min(doc_id) AS keep_id
          FROM d GROUP BY 1)
    SELECT d.doc_id AS doc_id, g.group_size AS group_size, g.keep_id AS keep_id
    FROM d JOIN g USING (fp)
    """,
)
def dedup_exact_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.exact_dedup_groups(_docs(spark, sf_dir))


@register(
    "dedup_span_exact",
    f"""
    WITH words AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    spans AS (
      SELECT doc_id, md5(array_to_string(w[gs.i:gs.i+11], ' ')) AS h
      FROM words,
           LATERAL (SELECT unnest(generate_series(1, greatest(len(w) - 11, 1)))
                    AS i) gs
      WHERE len(w) > 0),
    dups AS (SELECT h FROM spans GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
    per_doc AS (SELECT doc_id, count(*) AS n_spans FROM spans GROUP BY doc_id),
    hits AS (SELECT s.doc_id, count(*) AS n_dup_spans
             FROM spans s JOIN dups USING (h) GROUP BY s.doc_id)
    SELECT p.doc_id, CAST(p.n_spans AS BIGINT) AS n_spans,
           CAST(coalesce(ht.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
           round(CAST(coalesce(ht.n_dup_spans, 0) AS DOUBLE) / p.n_spans, 6)
             AS dup_frac
    FROM per_doc p LEFT JOIN hits ht USING (doc_id)
    """,
)
def dedup_span_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document exact span dedup (Lee et al. 2021 substring-level
    duplication, fixed-length-window form): per doc, the fraction of its
    12-word spans that occur in >=2 distinct documents. The within-doc
    twin is text_repetition; survivors of document-level dedup with high
    dup_frac here are the template/boilerplate tail."""
    out = dedup.span_dedup_stats(_docs(spark, sf_dir), span=12, min_docs=2)
    return out.select(
        "doc_id",
        "n_spans",
        "n_dup_spans",
        F.round("dup_frac", 6).alias("dup_frac"),
    )


@register(
    "dedup_span_mask",
    f"""
    WITH words AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    spans AS (
      SELECT doc_id, gs.i - 1 AS pos,
             md5(array_to_string(w[gs.i:gs.i+11], ' ')) AS h
      FROM words,
           LATERAL (SELECT unnest(generate_series(1, greatest(len(w) - 11, 1)))
                    AS i) gs
      WHERE len(w) > 0),
    dups AS (SELECT h FROM spans GROUP BY h HAVING count(DISTINCT doc_id) >= 2)
    SELECT s.doc_id,
           array_to_string(list_sort(list(s.pos)), ',') AS dup_positions,
           CAST(count(*) AS INT) AS n_dup_spans
    FROM spans s JOIN dups USING (h)
    GROUP BY s.doc_id
    """,
)
def dedup_span_mask(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trim-mask form of span dedup: per doc, the sorted word positions
    opening a span that also occurs in another document (expand each to
    [p, p+12) and cut the union to de-duplicate substrings in place).

    The underlying ``span_dedup_mask`` API returns ``dup_positions`` as
    ``array<int>``; the registered query serializes it to a
    comma-joined string because the driver's oracle canonicalizer
    sorts rows over all columns and cannot hash list-typed cells
    (round-3 red row)."""
    out = dedup.span_dedup_mask(_docs(spark, sf_dir), span=12, min_docs=2)
    return out.select(
        "doc_id",
        F.array_join(F.col("dup_positions").cast("array<string>"), ",").alias(
            "dup_positions"
        ),
        "n_dup_spans",
    )


@register(
    "dedup_ngram_jaccard",
    f"""
    WITH d AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    sh0 AS (SELECT doc_id, unnest({_SHINGLES_SQL}) AS s FROM d),
    dfreq AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) <= 20),
    sh AS (SELECT doc_id, s FROM sh0 JOIN dfreq USING (s)),
    sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2)
    SELECT id_a, id_b, inter,
           sa.sz AS sz_a, sb.sz AS sz_b,
           round(inter * 1.0 / (sa.sz + sb.sz - inter), 6) AS jaccard
    FROM inter
    JOIN sz sa ON sa.doc_id = id_a
    JOIN sz sb ON sb.doc_id = id_b
    WHERE inter * 1.0 / (sa.sz + sb.sz - inter) >= 0.1
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = dedup.ngram_jaccard_pairs(_docs(spark, sf_dir), threshold=0.1, max_doc_freq=20)
    return out.select(
        "id_a", "id_b", "inter", "sz_a", "sz_b", F.round("jaccard", 6).alias("jaccard")
    )


_MINHASH_PAIRS_SQL = f"""
    WITH d AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    sh AS (SELECT doc_id, {_SHINGLES_SQL} AS s FROM d WHERE len(w) > 0),
    sig AS (SELECT doc_id,
      list_min(list_transform(s, x -> md5(x || '#0'))) mh0,
      list_min(list_transform(s, x -> md5(x || '#1'))) mh1,
      list_min(list_transform(s, x -> md5(x || '#2'))) mh2,
      list_min(list_transform(s, x -> md5(x || '#3'))) mh3,
      list_min(list_transform(s, x -> md5(x || '#4'))) mh4,
      list_min(list_transform(s, x -> md5(x || '#5'))) mh5,
      list_min(list_transform(s, x -> md5(x || '#6'))) mh6,
      list_min(list_transform(s, x -> md5(x || '#7'))) mh7
      FROM sh),
    bands AS (
      SELECT doc_id, 0 AS band, mh0 || '|' || mh1 AS bucket FROM sig UNION ALL
      SELECT doc_id, 1, mh2 || '|' || mh3 FROM sig UNION ALL
      SELECT doc_id, 2, mh4 || '|' || mh5 FROM sig UNION ALL
      SELECT doc_id, 3, mh6 || '|' || mh7 FROM sig)
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
"""

# transitive closure of the SAME pair set: cluster id = min reachable id
_COMPONENTS_SQL = f"""
    WITH RECURSIVE p AS ({_MINHASH_PAIRS_SQL}),
    e AS (SELECT id_a AS a, id_b AS b FROM p
          UNION SELECT id_b, id_a FROM p),
    walk(node, reach) AS (
      SELECT a, a FROM e
      UNION
      SELECT w.node, e.b FROM walk w JOIN e ON w.reach = e.a)
    SELECT node AS doc_id, min(reach) AS cluster_id
    FROM walk GROUP BY node
"""


@register("dedup_minhash_lsh", _MINHASH_PAIRS_SQL)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # md5 tier pinned here for byte-identical DuckDB parity; the engine
    # default (and the bench scale path) is hash_fn="xxh".
    return dedup.minhash_lsh_candidates(_docs(spark, sf_dir), hash_fn="md5")


@register(
    "dedup_minhash_incremental",
    f"""
    SELECT id_a, id_b FROM ({_MINHASH_PAIRS_SQL})
    WHERE id_a >= 400 OR id_b >= 400
    """,
)
def dedup_minhash_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup: docs with id < 400 are the already-
    indexed corpus (minhash_index — the persistable (id, band, bucket)
    artifact), docs >= 400 are the new batch. The probe broadcasts the
    BATCH's buckets into one index scan (no index shuffle), so ingest
    cost is batch-proportional; the emitted pair set equals the full-
    batch LSH pairs restricted to pairs touching the batch (that
    restriction IS the oracle)."""
    docs = _docs(spark, sf_dir)
    idx = dedup.minhash_index(docs.filter("doc_id < 400"), hash_fn="md5")
    return dedup.minhash_lsh_candidates_incremental(
        docs.filter("doc_id >= 400"), idx, hash_fn="md5"
    )


@register(
    "dedup_minhash_verified",
    f"""
    WITH p AS ({_MINHASH_PAIRS_SQL}),
    d AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    sh AS (SELECT doc_id, unnest({_SHINGLES_SQL}) AS s FROM d
           WHERE len(w) > 0),
    sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
    i AS (SELECT p.id_a, p.id_b, count(*) AS inter
          FROM p
          JOIN sh a ON a.doc_id = p.id_a
          JOIN sh b ON b.doc_id = p.id_b AND b.s = a.s
          GROUP BY 1, 2),
    j AS (SELECT p.id_a, p.id_b,
                 COALESCE(i.inter, 0)::DOUBLE
                 / (sa.sz + sb.sz - COALESCE(i.inter, 0)) AS jac
          FROM p
          LEFT JOIN i ON i.id_a = p.id_a AND i.id_b = p.id_b
          JOIN sz sa ON sa.doc_id = p.id_a
          JOIN sz sb ON sb.doc_id = p.id_b)
    SELECT id_a, id_b, round(jac, 6) AS jaccard FROM j WHERE jac >= 0.95
    """,
)
def dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash candidates + exact n-gram-Jaccard verify pass (the
    standard probabilistic-then-exact fuzzy-dedup pipeline): only pairs
    whose TRUE Jaccard clears the threshold survive to clustering."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_candidates(docs, hash_fn="md5")
    out = dedup.jaccard_verify_pairs(docs, pairs, threshold=0.95)
    return out.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


@register("dedup_components", _COMPONENTS_SQL)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the minhash pair graph (iterative
    min-label propagation vs DuckDB recursive-CTE transitive closure)."""
    pairs = dedup.minhash_lsh_candidates(_docs(spark, sf_dir), hash_fn="md5")
    return dedup.neardup_components(pairs)


@register(
    "dedup_survivors",
    f"""
    WITH comp AS ({_COMPONENTS_SQL})
    SELECT d.doc_id, d.n_chars
    FROM documents d
    LEFT JOIN comp ON d.doc_id = comp.doc_id
    WHERE comp.doc_id IS NULL OR comp.doc_id = comp.cluster_id
    """,
)
def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One retained doc per near-dup cluster + all singletons."""
    docs = _docs(spark, sf_dir)
    pairs = dedup.minhash_lsh_candidates(docs, hash_fn="md5")
    comp = dedup.neardup_components(pairs)
    return dedup.dedup_survivors(docs, comp).select("doc_id", "n_chars")


@register(
    "corpus_contamination",
    f"""
    WITH d AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    sh AS (SELECT doc_id, {_SHINGLES_SQL} AS s FROM d WHERE len(w) > 0),
    ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
    bench AS (SELECT DISTINCT g FROM ex WHERE doc_id % 10 = 0),
    corpus AS (SELECT doc_id, g FROM ex WHERE doc_id % 10 <> 0)
    SELECT c.doc_id, CAST(count(DISTINCT c.g) AS BIGINT) AS n_contaminated
    FROM corpus c JOIN bench b ON c.g = b.g
    GROUP BY 1
    """,
)
def corpus_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination flag pass: corpus docs (doc_id %% 10 != 0)
    sharing 5-gram shingles with the 'benchmark' split (doc_id %% 10 == 0);
    broadcast semi-join — the benchmark side never shuffles the corpus."""
    from mhealth_spark.pipelines.corpus import contamination_hits

    docs = _docs(spark, sf_dir)
    return contamination_hits(
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
    )


_SIMHASH16_EXPR = " + ".join(
    f"(CASE WHEN list_sum(list_transform(w, x -> CASE WHEN "
    f"substr(md5(x), {j + 1}, 1) IN ('8','9','a','b','c','d','e','f') "
    f"THEN 1 ELSE -1 END)) > 0 THEN 1 ELSE 0 END) * {2 ** (15 - j)}"
    for j in range(16)
)


@register(
    "dedup_simhash16",
    f"""
    WITH d AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents)
    SELECT doc_id, CAST({_SIMHASH16_EXPR} AS BIGINT) AS simhash16
    FROM d
    """,
)
def dedup_simhash16(spark: SparkSession, sf_dir: str) -> DataFrame:
    return dedup.simhash16(_docs(spark, sf_dir))


# 64-bit simhash md5 oracle tier: the production path hashes words with
# xxhash64 (dedup.simhash64 default — value-checked by a brute-force
# pandas differential in tests/test_domains.py, since xxhash64 has no
# DuckDB twin and a registered no-oracle query is a guaranteed red
# driver row). The md5 tier below runs the IDENTICAL 64-bit simhash /
# block-bucket pipeline with the word hash swapped for the first 16 hex
# digits of md5(word), which DuckDB reproduces bit-for-bit — so the full
# 64-bit path is driver-graded, same twin pattern as
# dedup_minhash_lsh (md5 oracle) / dedup.minhash_lsh_candidates('xxh').
_SIMHASH64_SQL = f"""
    d64 AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    shx AS (SELECT doc_id, md5(unnest(w)) AS h FROM d64),
    shb AS (SELECT doc_id, j,
            CASE WHEN ((('0x' || substr(h, j//4 + 1, 1))::INT
                        >> (3 - j%4)) & 1) = 1
                 THEN 1 ELSE -1 END AS c
            FROM shx, (SELECT unnest(generate_series(0, 63)) AS j) js),
    shs AS (SELECT doc_id, j, sum(c) AS s FROM shb GROUP BY 1, 2),
    shh AS (SELECT doc_id,
        sum(CASE WHEN s > 0 AND j < 32
                 THEN (1::BIGINT << (31 - j)) ELSE 0 END) AS hi,
        sum(CASE WHEN s > 0 AND j >= 32
                 THEN (1::BIGINT << (63 - j)) ELSE 0 END) AS lo
      FROM shs GROUP BY 1),
    sig64 AS (SELECT d64.doc_id,
        COALESCE(CAST((hi - CASE WHEN hi >= 2147483648
                                 THEN 4294967296 ELSE 0 END)
                      * 4294967296 + lo AS BIGINT), 0) AS sig
      FROM d64 LEFT JOIN shh USING (doc_id))"""


@register(
    "dedup_simhash64_md5",
    f"WITH {_SIMHASH64_SQL} SELECT doc_id, sig AS simhash64 FROM sig64",
)
def dedup_simhash64_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash signatures, md5 word-hash tier (full value parity;
    the oracle assembles the signed 64-bit value from two 32-bit halves
    to dodge BIGINT overflow)."""
    return dedup.simhash64(_docs(spark, sf_dir), hash_fn="md5")


# the SCALE tier of simhash near-dup: 64-bit signatures, 16-bit blocks →
# 65536 buckets per block, so candidate volume stays near-linear where
# the 16-bit oracle tier saturates (16-bit space holds only 65536
# distinct signatures — at ≥50k docs most docs collide and its
# hamming<=1 answer is intrinsically quadratic). Oracle skips the
# blocking: with max_hamming (3) < n_blocks (4), pigeonhole guarantees
# every pair within distance 3 shares a block, so blocked-candidates +
# hamming filter EQUALS the plain all-pairs hamming filter (all-pairs is
# fine at oracle scale; the Spark side still runs the real blocked join).
@register(
    "dedup_simhash64_hamming_md5",
    f"""
    WITH {_SIMHASH64_SQL}
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
    FROM sig64 a JOIN sig64 b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sig, b.sig)) <= 3
    """,
)
def dedup_simhash64_hamming_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = dedup.simhash64(_docs(spark, sf_dir), hash_fn="md5")
    out = dedup.simhash_neardup_candidates(
        sigs, sig_col="simhash64", sig_bits=64, n_blocks=4, max_hamming=3
    )
    return out.select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


@register(
    "dedup_simhash_hamming",
    f"""
    WITH d AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    s AS (SELECT doc_id, CAST({_SIMHASH16_EXPR} AS BIGINT) AS sig FROM d),
    blocks AS (
      SELECT doc_id, sig, b.block, (sig >> (b.block * 4)) & 15 AS val
      FROM s, (SELECT unnest([0, 1, 2, 3]) AS block) b),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
             a.sig AS sig_a, b.sig AS sig_b
      FROM blocks a JOIN blocks b
        ON a.block = b.block AND a.val = b.val AND a.doc_id < b.doc_id)
    SELECT id_a, id_b, CAST(bit_count(xor(sig_a, sig_b)) AS INT) AS hamming
    FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 1
    """,
)
def dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    sigs = dedup.simhash16(_docs(spark, sf_dir))
    out = dedup.simhash_neardup_candidates(
        sigs, sig_col="simhash16", sig_bits=16, n_blocks=4, max_hamming=1
    )
    return out.select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))


def _band_sig_sql(band: int, band_bits: int = 4) -> str:
    terms = [
        f"(CASE WHEN embedding[{band * band_bits + j + 1}] > 0 THEN 1 ELSE 0 END)"
        f" * {2 ** (band_bits - 1 - j)}"
        for j in range(band_bits)
    ]
    return " + ".join(terms)


_EMB_BANDS_SQL = " UNION ALL ".join(
    f"SELECT vec_id, {b} AS band, {_band_sig_sql(b)} AS sig FROM embeddings"
    for b in range(16)
)


_EMB_BANDS8_SQL = " UNION ALL ".join(
    f"SELECT vec_id, {b} AS band, {_band_sig_sql(b, band_bits=8)} AS sig "
    f"FROM embeddings"
    for b in range(8)
)


@register(
    "dedup_embedding_cosine_scale",
    f"""
    WITH bands AS ({_EMB_BANDS8_SQL}),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id)
    SELECT id_a, id_b,
           round(list_cosine_similarity(ea.embedding::DOUBLE[],
                                        eb.embedding::DOUBLE[]), 6) AS cosine
    FROM cand
    JOIN embeddings ea ON ea.vec_id = id_a
    JOIN embeddings eb ON eb.vec_id = id_b
    WHERE list_cosine_similarity(ea.embedding::DOUBLE[],
                                 eb.embedding::DOUBLE[]) >= 0.85
    """,
)
def dedup_embedding_cosine_scale(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE near-dup regime (threshold 0.85) with scale-sized banding
    (8 bands x 8 bits): per-band selectivity is 2^-8 per bucket-universe
    so candidate volume stays ~linear at 10x-100x corpus growth, while
    per-band recall at cosine>=0.85 keeps overall recall high (see
    embedding_neardup_pairs docstring sizing rule + planted-pair recall
    test). The 0.4-threshold twin above is the oracle-parity tier whose
    answer is intrinsically quadratic on random unit vectors."""
    out = dedup.embedding_neardup_pairs(
        _emb(spark, sf_dir), threshold=0.85, band_bits=8, n_bands=8
    )
    return out.select(
        "id_a", "id_b", F.round("cosine", 6).alias("cosine")
    )


@register(
    "dedup_embedding_cosine",
    f"""
    WITH bands AS ({_EMB_BANDS_SQL}),
    cand AS (
      SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.sig = b.sig AND a.vec_id < b.vec_id)
    SELECT id_a, id_b,
           round(list_cosine_similarity(ea.embedding::DOUBLE[],
                                        eb.embedding::DOUBLE[]), 6) AS cosine
    FROM cand
    JOIN embeddings ea ON ea.vec_id = id_a
    JOIN embeddings eb ON eb.vec_id = id_b
    WHERE list_cosine_similarity(ea.embedding::DOUBLE[],
                                 eb.embedding::DOUBLE[]) >= 0.4
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = dedup.embedding_neardup_pairs(
        _emb(spark, sf_dir), threshold=0.4, band_bits=4, n_bands=16
    )
    return out.select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------
@register(
    "ann_topk_bruteforce",
    """
    WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings
               WHERE vec_id < 20),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(q.embedding::DOUBLE[],
                                    c.embedding::DOUBLE[]) AS cos
      FROM q JOIN embeddings c ON c.vec_id <> q.query_id),
    ranked AS (
      SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY round(cos, 9) DESC, neighbor_id) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, round(cos, 6) AS cosine, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.ann_topk_bruteforce(emb, queries, k=5)
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("cosine", 6).alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    )


@register(
    "ann_lsh_bucketed",
    """
    WITH sigc AS (
      SELECT vec_id, embedding,
             (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)*128 +
             (CASE WHEN embedding[2] > 0 THEN 1 ELSE 0 END)*64 +
             (CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END)*32 +
             (CASE WHEN embedding[4] > 0 THEN 1 ELSE 0 END)*16 +
             (CASE WHEN embedding[5] > 0 THEN 1 ELSE 0 END)*8 +
             (CASE WHEN embedding[6] > 0 THEN 1 ELSE 0 END)*4 +
             (CASE WHEN embedding[7] > 0 THEN 1 ELSE 0 END)*2 +
             (CASE WHEN embedding[8] > 0 THEN 1 ELSE 0 END) AS sig
      FROM embeddings),
    q AS (SELECT vec_id AS query_id, embedding, sig FROM sigc WHERE vec_id < 50),
    scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(q.embedding::DOUBLE[],
                                    c.embedding::DOUBLE[]) AS cos
      FROM q JOIN sigc c ON c.sig = q.sig AND c.vec_id <> q.query_id),
    ranked AS (
      SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY round(cos, 9) DESC, neighbor_id) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, round(cos, 6) AS cosine, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def ann_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.ann_lsh_bucketed(emb, queries, k=5, n_bits=8)
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("cosine", 6).alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    )


@register(
    "ann_lsh_multiprobe",
    f"""
    WITH bands AS ({_EMB_BANDS_SQL}),
    cand AS (
      SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
      FROM bands qb JOIN bands cb
        ON qb.band = cb.band AND qb.sig = cb.sig AND cb.vec_id <> qb.vec_id
      WHERE qb.vec_id < 50),
    scored AS (
      SELECT query_id, neighbor_id,
             list_cosine_similarity(eq.embedding::DOUBLE[],
                                    ec.embedding::DOUBLE[]) AS cos
      FROM cand
      JOIN embeddings eq ON eq.vec_id = query_id
      JOIN embeddings ec ON ec.vec_id = neighbor_id),
    ranked AS (
      SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY round(cos, 9) DESC, neighbor_id) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, round(cos, 6) AS cosine, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def ann_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.ann_lsh_multiprobe(
        emb, queries, k=5, band_bits=4, n_tables=16, probe_hamming=0
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("cosine", 6).alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    )


# 1-bit multi-probe variant with FEWER tables (4 instead of 16): the probe
# expansion recovers the recall the missing tables would have provided —
# the classic memory/fan-out trade. Oracle expands the query-side signature
# with every single-bit xor flip (0 = the original signature).
_EMB_BANDS4_SQL = " UNION ALL ".join(
    f"SELECT vec_id, {b} AS band, {_band_sig_sql(b)} AS sig FROM embeddings"
    for b in range(4)
)


@register(
    "ann_lsh_multiprobe1",
    f"""
    WITH bands AS ({_EMB_BANDS4_SQL}),
    qprobe AS (
      SELECT vec_id, band, xor(sig::BIGINT, p.m::BIGINT) AS sig
      FROM bands, (VALUES (0),(1),(2),(4),(8)) p(m)
      WHERE vec_id < 50),
    cand AS (
      SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
      FROM qprobe qb JOIN bands cb
        ON qb.band = cb.band AND qb.sig = cb.sig AND cb.vec_id <> qb.vec_id),
    scored AS (
      SELECT query_id, neighbor_id,
             list_cosine_similarity(eq.embedding::DOUBLE[],
                                    ec.embedding::DOUBLE[]) AS cos
      FROM cand
      JOIN embeddings eq ON eq.vec_id = query_id
      JOIN embeddings ec ON ec.vec_id = neighbor_id),
    ranked AS (
      SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY round(cos, 9) DESC, neighbor_id) AS rank
      FROM scored)
    SELECT query_id, neighbor_id, round(cos, 6) AS cosine, CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def ann_lsh_multiprobe1(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.ann_lsh_multiprobe(
        emb, queries, k=5, band_bits=4, n_tables=4, probe_hamming=1
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("cosine", 6).alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------
@register(
    "multimodal_meta",
    """
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           'text/utf-8' AS media_type,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
    FROM documents
    """,
)
def multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = multimodal.wrap_as_media(
        _docs(spark, sf_dir), "doc_id", F.encode(F.col("text"), "UTF-8")
    )
    return media.select("media_id", "media_type", "n_bytes")


# The float decode face (multimodal.decode_features — deterministic fake
# float32 feature vectors) is deliberately NOT registered: float32
# pairwise-mean reduction order has no DuckDB twin, so a registered
# query would be a guaranteed red/no-oracle driver row; it is
# pytest-exact in tests/test_domains.py. The driver-graded face below
# runs the SAME mapInPandas Arrow decode plumbing but emits exact
# integer byte statistics the oracle recomputes from the source column
# (the synth corpus is ASCII, so per-char code points == UTF-8 bytes —
# asserted in the schema-audit pytest).
@register(
    "multimodal_decode_checksum",
    """
    WITH c AS (SELECT CAST(doc_id AS VARCHAR) AS media_id,
                      CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                      -- empty text must yield cps=[] (checksum 0), not
                      -- [''] -> unicode('') = -1: string_split('', '')
                      -- returns [''] in DuckDB, which would diverge from
                      -- the engine's empty-payload checksum of 0
                      CASE WHEN length(text) = 0 THEN CAST([] AS INTEGER[])
                           ELSE list_transform(string_split(text, ''),
                                               ch -> unicode(ch))
                      END AS cps
               FROM documents)
    SELECT media_id, n_bytes,
           CAST(COALESCE(list_sum(cps), 0) AS BIGINT) AS checksum,
           CAST(COALESCE(cps[1], -1) AS INT) AS first_byte,
           CAST(COALESCE(cps[len(cps)], -1) AS INT) AS last_byte,
           'bytes-checksum-v1' AS decoder
    FROM c
    """,
)
def multimodal_decode_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary decode plumbing, oracle-gradable face: payload bytes cross
    the Arrow boundary into numpy (mapInPandas) and come back as exact
    integer byte statistics; the oracle recomputes them from the text
    column — proving the binary round-trip, not just the row count."""
    media = multimodal.wrap_as_media(
        _docs(spark, sf_dir), "doc_id", F.encode(F.col("text"), "UTF-8")
    )
    return multimodal.decode_checksum(media)


# ---------------------------------------------------------------------------
# TPC-H-style pricing summary (classic agg anchor on lineitem)
# ---------------------------------------------------------------------------
@register(
    "tpch_q1_pricing",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4) AS sum_qty,
           round(sum(l_extendedprice), 2) AS sum_base,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc,
           round(avg(l_quantity), 6) AS avg_qty,
           count(*) AS n
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY 1, 2
    """,
)
def tpch_q1_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = read_table(spark, "lineitem", sf_dir)
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("sum_disc"),
            F.round(F.avg("l_quantity"), 6).alias("avg_qty"),
            F.count("*").alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# North-rule tokens engine. The deterministic synthetic table is
# materialized to parquet ONCE (synth.materialize_synth_tokens) and BOTH
# engines read that file, so every window/as-of/session query gets a full
# value-level DuckDB oracle (the xxhash64 generator itself has no DuckDB
# twin, but the materialized bytes are engine-neutral).
# ---------------------------------------------------------------------------
_TOKENS_PARQUET = f"{TOKENS_CACHE_DIR}/tokens_n3000_seed42.parquet"
_TOKENS_DUCK = f"read_parquet('{_TOKENS_PARQUET}/*.parquet')"
_TS_FMT_DUCK = "%Y-%m-%d %H:%M:%S"
_TS_FMT_SPARK = "yyyy-MM-dd HH:mm:ss"


def _tokens(spark: SparkSession, n: int = 3000) -> DataFrame:
    from mhealth_spark.synth import materialize_synth_tokens

    return spark.read.parquet(materialize_synth_tokens(spark, n, seed=42))


def _tokens_wide(spark: SparkSession, n: int = 3000) -> DataFrame:
    """``_tokens`` with the single-row-group fan-out (same rationale as
    ``_docs``): the cache parquet is one file / one row group, so
    explode- and HOF-heavy consumers (unigram/bigram LM, trigram
    diversity, entropy, vocab, exact-dedup hashing) would otherwise run
    their whole map side on one core. Window/as-of consumers keep the
    raw ``_tokens`` — they shuffle to their entity key immediately and a
    round-robin exchange first would be pure overhead. At scale the scan
    splits naturally and this repartition is a no-op to remove."""
    return _tokens(spark, n).repartition(spark.sparkContext.defaultParallelism)


@register(
    "tokens_row_features",
    f"""
    WITH t AS (SELECT doc_id, writer_id, ts, n_tok FROM {_TOKENS_DUCK})
    SELECT doc_id, writer_id, strftime(ts, '{_TS_FMT_DUCK}') AS ts_s, n_tok,
           lag(n_tok)  OVER w AS prev_n_tok,
           lead(n_tok) OVER w AS next_n_tok,
           n_tok - lag(n_tok) OVER w AS delta_n_tok,
           round(avg(n_tok) OVER wb, 6) AS roll_mean_n_tok,
           CAST(sum(n_tok) OVER wb AS BIGINT) AS roll_sum_n_tok,
           CAST(count(n_tok) OVER wb AS BIGINT) AS roll_count,
           epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
    FROM t
    WINDOW w  AS (PARTITION BY writer_id ORDER BY ts, doc_id),
           wb AS (PARTITION BY writer_id ORDER BY ts, doc_id
                  ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
    """,
)
def tokens_row_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mhealth_spark.tokens_engine import row_features

    out = row_features(_tokens(spark))
    return out.select(
        "doc_id",
        "writer_id",
        F.date_format("ts", _TS_FMT_SPARK).alias("ts_s"),
        "n_tok",
        "prev_n_tok",
        "next_n_tok",
        "delta_n_tok",
        F.round("roll_mean_n_tok", 6).alias("roll_mean_n_tok"),
        "roll_sum_n_tok",
        "roll_count",
        "gap_us",
    )


@register(
    "tokens_trailing_24h",
    f"""
    WITH t AS (SELECT doc_id, writer_id, ts, n_tok FROM {_TOKENS_DUCK})
    SELECT doc_id, writer_id, strftime(ts, '{_TS_FMT_DUCK}') AS ts_s, n_tok,
           CAST(count(n_tok) OVER w AS BIGINT) AS trail_docs_24h,
           CAST(sum(n_tok)  OVER w AS BIGINT)  AS trail_tokens_24h,
           round(avg(n_tok) OVER w, 6)         AS trail_mean_24h,
           max(n_tok) OVER w                   AS trail_max_24h
    FROM t
    WINDOW w AS (PARTITION BY writer_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 86400000000 PRECEDING AND 1 PRECEDING)
    """,
)
def tokens_trailing_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE trailing window twin of tokens_row_features (strictly
    past [t-24h, t) frame; ties at t excluded on both engines)."""
    from mhealth_spark.tokens_engine import trailing_time_features

    out = trailing_time_features(_tokens(spark))
    return out.select(
        "doc_id",
        "writer_id",
        F.date_format("ts", _TS_FMT_SPARK).alias("ts_s"),
        "n_tok",
        "trail_docs_24h",
        "trail_tokens_24h",
        F.round("trail_mean_24h", 6).alias("trail_mean_24h"),
        "trail_max_24h",
    )


@register(
    "tokens_trailing_quantiles",
    f"""
    WITH t AS (SELECT doc_id, writer_id, ts, n_tok FROM {_TOKENS_DUCK})
    SELECT doc_id, writer_id, strftime(ts, '{_TS_FMT_DUCK}') AS ts_s, n_tok,
           CAST(count(n_tok) OVER w AS BIGINT) AS trail_n_24h,
           round(quantile_cont(n_tok, 0.5) OVER w, 6) AS p50_24h,
           round(quantile_cont(n_tok, 0.9) OVER w, 6) AS p90_24h
    FROM t
    WINDOW w AS (PARTITION BY writer_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 86400000000 PRECEDING AND 1 PRECEDING)
    """,
)
def tokens_trailing_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trailing p50/p90 of sequence length per (writer, ts) over
    the strictly-past 24h RANGE frame — quantile_cont interpolation, so
    DuckDB's windowed quantile_cont is a full value oracle."""
    from mhealth_spark.tokens_engine import trailing_quantiles

    out = trailing_quantiles(_tokens(spark))
    return out.select(
        "doc_id",
        "writer_id",
        F.date_format("ts", _TS_FMT_SPARK).alias("ts_s"),
        "n_tok",
        F.col("trail_n_24h").cast("long").alias("trail_n_24h"),
        F.round("p50_24h", 6).alias("p50_24h"),
        F.round("p90_24h", 6).alias("p90_24h"),
    )


_BACKFILL_ORACLE = f"""
    WITH t AS (SELECT source, ts, n_tok FROM {_TOKENS_DUCK}),
    span AS (SELECT source, date_trunc('hour', min(ts)) AS t0,
                    date_trunc('hour', max(ts)) AS t1
             FROM t GROUP BY 1),
    r AS (SELECT source, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS ts
          FROM span)
    SELECT r.source AS source, strftime(r.ts, '{_TS_FMT_DUCK}') AS req_ts,
           count(e.n_tok)                 AS docs_24h,
           CAST(sum(e.n_tok) AS BIGINT)   AS tokens_24h,
           round(avg(e.n_tok), 6)         AS mean_len_24h,
           max(e.n_tok)                   AS max_len_24h
    FROM r LEFT JOIN t e
      ON e.source = r.source
     AND e.ts <= r.ts
     AND epoch(e.ts) > epoch(r.ts) - 86400
    GROUP BY 1, 2
    """


@register("tokens_backfill_24h", _BACKFILL_ORACLE)
def tokens_backfill_24h(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mhealth_spark.tokens_engine import backfill_features, hourly_requests

    tk = _tokens(spark)
    out = backfill_features(tk, hourly_requests(tk))
    return out.select(
        "source",
        F.date_format("ts", _TS_FMT_SPARK).alias("req_ts"),
        "docs_24h",
        "tokens_24h",
        F.round("mean_len_24h", 6).alias("mean_len_24h"),
        "max_len_24h",
    )


# the hierarchical-aggregation twin for REGULAR grids: must be value-
# identical to the generic as-of join, so it shares the SAME oracle SQL
@register("tokens_backfill_grid", _BACKFILL_ORACLE)
def tokens_backfill_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mhealth_spark.tokens_engine import backfill_features_grid

    out = backfill_features_grid(_tokens(spark))
    return out.select(
        "source",
        F.date_format("ts", _TS_FMT_SPARK).alias("req_ts"),
        "docs_24h",
        "tokens_24h",
        F.round("mean_len_24h", 6).alias("mean_len_24h"),
        "max_len_24h",
    )


@register(
    "tokens_sessionize",
    f"""
    WITH t AS (SELECT writer_id, ts, n_tok FROM {_TOKENS_DUCK}),
    o AS (SELECT writer_id, ts, n_tok,
                 max(ts) OVER (PARTITION BY writer_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                     AS prev_max
          FROM t),
    b AS (SELECT writer_id, ts, n_tok,
                 CASE WHEN prev_max IS NULL
                           OR (epoch_us(ts) - epoch_us(prev_max)) / 60000000.0
                              > 120.0 THEN 1
                      ELSE 0 END AS brk
          FROM o),
    s AS (SELECT writer_id, ts, n_tok,
                 CAST(sum(brk) OVER (PARTITION BY writer_id ORDER BY ts
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS session_id
          FROM b)
    SELECT writer_id, session_id,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS session_tokens,
           strftime(min(ts), '{_TS_FMT_DUCK}') AS session_start,
           strftime(max(ts), '{_TS_FMT_DUCK}') AS session_end
    FROM s GROUP BY 1, 2
    """,
)
def tokens_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mhealth_spark.tokens_engine import sessionized

    out = sessionized(_tokens(spark), gap_minutes=120.0)
    return out.select(
        "writer_id",
        "session_id",
        "n_docs",
        "session_tokens",
        F.date_format("session_start", _TS_FMT_SPARK).alias("session_start"),
        F.date_format("session_end", _TS_FMT_SPARK).alias("session_end"),
    )


# ---------------------------------------------------------------------------
# Corpus-construction operators (packing / sampling / vocab stats)
# ---------------------------------------------------------------------------
@register(
    "corpus_pack_chunked",
    f"""
    WITH t AS (SELECT doc_id, source, ts, n_tok FROM {_TOKENS_DUCK}),
    c AS (SELECT doc_id, source, ts, n_tok,
                 COALESCE(sum(n_tok) OVER (PARTITION BY source
                          ORDER BY ts, doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0) AS prev_cum
          FROM t)
    SELECT doc_id, source, strftime(ts, '{_TS_FMT_DUCK}') AS ts_s, n_tok,
           CAST(floor(prev_cum / 2048) AS BIGINT) AS pack_id,
           CAST(prev_cum AS BIGINT) AS pack_offset_tokens
    FROM c
    """,
)
def corpus_pack_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mhealth_spark.pipelines.corpus import pack_sequences_chunked

    out = pack_sequences_chunked(_tokens(spark), budget=2048)
    return out.select(
        "doc_id",
        "source",
        F.date_format("ts", _TS_FMT_SPARK).alias("ts_s"),
        "n_tok",
        "pack_id",
        "pack_offset_tokens",
    )


# greedy packing is a prefix-dependent recurrence; it is still ANSI-SQL-
# expressible as a recursive CTE advancing one row per entity per
# iteration (ordered prefix recurrence over row_number) — full value
# oracle, plus the pure-Python reference in tests/test_domains.py
@register(
    "corpus_pack_greedy",
    f"""
    WITH RECURSIVE o AS (
        SELECT doc_id, source AS entity, n_tok,
               row_number() OVER (PARTITION BY source ORDER BY ts, doc_id)
                   AS rn
        FROM {_TOKENS_DUCK}
    ), rec AS (
        SELECT entity, rn, doc_id, n_tok,
               CAST(0 AS BIGINT) AS pack_id,
               CAST(0 AS BIGINT) AS pack_fill,
               CAST(n_tok AS BIGINT) AS fill_after
        FROM o WHERE rn = 1
        UNION ALL
        SELECT o.entity, o.rn, o.doc_id, o.n_tok,
               CASE WHEN r.fill_after > 0 AND r.fill_after + o.n_tok > 2048
                    THEN r.pack_id + 1 ELSE r.pack_id END,
               CASE WHEN r.fill_after > 0 AND r.fill_after + o.n_tok > 2048
                    THEN CAST(0 AS BIGINT) ELSE r.fill_after END,
               CASE WHEN r.fill_after > 0 AND r.fill_after + o.n_tok > 2048
                    THEN CAST(o.n_tok AS BIGINT)
                    ELSE r.fill_after + o.n_tok END
        FROM rec r JOIN o ON o.entity = r.entity AND o.rn = r.rn + 1
    )
    SELECT doc_id, entity, n_tok, pack_id, pack_fill FROM rec
    """,
)
def corpus_pack_greedy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mhealth_spark.pipelines.corpus import pack_sequences_greedy

    return pack_sequences_greedy(_tokens(spark), budget=2048)


@register(
    "corpus_sample_stratified",
    """
    SELECT doc_id, source
    FROM documents
    WHERE substring(md5(doc_id::VARCHAR || '#s0'), 1, 8)
          < CASE WHEN source = 'src0' THEN '0ccccccc' ELSE '80000000' END
    """,
)
def corpus_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mhealth_spark.pipelines.corpus import sample_corpus

    docs = _docs(spark, sf_dir).select("doc_id", "source")
    return sample_corpus(
        docs, rate=0.5, strata_col="source", strata_rates={"src0": 0.05}
    )


@register(
    "corpus_vocab_top",
    f"""
    WITH ex AS (SELECT source, unnest(tokens) AS token FROM {_TOKENS_DUCK}),
    c AS (SELECT source, token, count(*) AS freq FROM ex GROUP BY 1, 2),
    r AS (SELECT source, token, freq,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY freq DESC, token) AS rank
          FROM c)
    SELECT source, token, freq, CAST(rank AS INT) AS rank
    FROM r WHERE rank <= 20
    """,
)
def corpus_vocab_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mhealth_spark.pipelines.corpus import vocab_histogram

    return vocab_histogram(_tokens_wide(spark), top_k=20)


@register(
    "corpus_manifest",
    f"""
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           min(n_tok) AS len_min,
           round(quantile_cont(n_tok, 0.5), 6) AS len_p50,
           round(quantile_cont(n_tok, 0.9), 6) AS len_p90,
           round(quantile_cont(n_tok, 0.99), 6) AS len_p99,
           max(n_tok) AS len_max,
           count(DISTINCT writer_id) AS n_writers
    FROM {_TOKENS_DUCK}
    GROUP BY 1
    """,
)
def corpus_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mhealth_spark.pipelines.corpus import dataset_manifest

    out = dataset_manifest(_tokens(spark))
    return out.select(
        "source",
        "n_docs",
        "n_tokens",
        "len_min",
        F.round("len_p50", 6).alias("len_p50"),
        F.round("len_p90", 6).alias("len_p90"),
        F.round("len_p99", 6).alias("len_p99"),
        "len_max",
        "n_writers",
    )


# fingerprint64 is an xxhash64 rolling chain (no DuckDB twin) — it is
# value-checked by a brute-force pytest instead; every other output
# column is oracle-checked here.
@register(
    "tokens_sequence_features",
    f"""
    WITH t AS (SELECT * FROM {_TOKENS_DUCK})
    SELECT doc_id, writer_id, source, strftime(ts, '{_TS_FMT_DUCK}') AS ts_s,
           n_tok,
           round(list_sum(tokens) * 1.0 / len(tokens), 6) AS tok_mean,
           round(sqrt(list_sum(list_transform(tokens,
                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) / len(tokens)
                 - (list_sum(tokens) * 1.0 / len(tokens))
                   * (list_sum(tokens) * 1.0 / len(tokens))), 6) AS tok_std,
           list_min(tokens) AS tok_min,
           list_max(tokens) AS tok_max,
           round(len(list_distinct(tokens)) * 1.0 / len(tokens), 6)
               AS distinct_ratio
    FROM t
    """,
)
def tokens_sequence_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mhealth_spark.tokens_engine import sequence_features

    out = sequence_features(_tokens_wide(spark))
    return out.select(
        "doc_id",
        "writer_id",
        "source",
        F.date_format("ts", _TS_FMT_SPARK).alias("ts_s"),
        "n_tok",
        F.round("tok_mean", 6).alias("tok_mean"),
        F.round("tok_std", 6).alias("tok_std"),
        "tok_min",
        "tok_max",
        F.round("distinct_ratio", 6).alias("distinct_ratio"),
    )


# ---------------------------------------------------------------------------
# Corpus mixing / splitting / sharding (deterministic md5-draw family)
# ---------------------------------------------------------------------------
from mhealth_spark.pipelines.corpus import _hex_thresh as _hx_thresh  # noqa: E402

_SPLIT_HX = "substring(md5(doc_id::VARCHAR || '#split0'), 1, 8)"


@register(
    "corpus_split",
    f"""
    SELECT doc_id, source,
           CASE WHEN {_SPLIT_HX} < '{_hx_thresh(0.9)}' THEN 'train'
                WHEN {_SPLIT_HX} < '{_hx_thresh(0.9 + 0.05)}' THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def corpus_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash train/val/test split (90/5/5): pure map, no
    shuffle; the same doc lands in the same split across runs and corpus
    versions."""
    from mhealth_spark.pipelines.corpus import split_corpus

    docs = _docs(spark, sf_dir).select("doc_id", "source")
    return split_corpus(docs, {"train": 0.9, "val": 0.05, "test": 0.05})


@register(
    "corpus_temperature_sample",
    f"""
    WITH tot AS (SELECT source, CAST(sum(n_tok) AS DOUBLE) AS t
                 FROM {_TOKENS_DUCK} GROUP BY 1),
    z AS (SELECT sum(pow(t, 0.5)) AS z, max(t) AS target FROM tot),
    r AS (SELECT source,
                 round(least(1.0, target * pow(t, 0.5) / z / t), 6) AS rate
          FROM tot, z),
    thr AS (SELECT source,
                   lower(lpad(to_hex(CAST(least(trunc(rate * 4294967296),
                                          4294967295) AS BIGINT)), 8, '0')) AS th
            FROM r)
    SELECT d.doc_id, d.source, d.n_tok
    FROM {_TOKENS_DUCK} d JOIN thr USING (source)
    WHERE substring(md5(d.doc_id || '#temp0'), 1, 8) < th
    """,
)
def corpus_temperature_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-0.5 source rebalancing: per-source rates computed from
    token totals (one 8-row aggregate collected driver-side), applied as
    the deterministic md5-threshold sample. alpha=0.5 keeps pow()
    correctly-rounded (sqrt) so the oracle replays the same rates."""
    from mhealth_spark.pipelines.corpus import sample_corpus, temperature_rates

    tk = _tokens(spark)
    rates = temperature_rates(tk, alpha=0.5)
    return sample_corpus(
        tk.select("doc_id", "source", "n_tok"),
        rate=0.0,
        strata_col="source",
        strata_rates=rates,
        salt="temp0",
    )


@register(
    "corpus_mix_budget",
    f"""
    WITH t AS (SELECT doc_id, source, n_tok,
                      substring(md5(doc_id || '#mix0'), 1, 8) AS hx
               FROM {_TOKENS_DUCK}),
    c AS (SELECT doc_id, source, n_tok,
                 COALESCE(sum(n_tok) OVER (PARTITION BY source
                          ORDER BY hx, doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0) AS mix_tokens_before
          FROM t)
    SELECT doc_id, source, n_tok, CAST(mix_tokens_before AS BIGINT)
               AS mix_tokens_before
    FROM c
    WHERE mix_tokens_before < CASE WHEN source = 'src0' THEN 60000
                                   ELSE 25000 END
    """,
)
def corpus_mix_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget corpus mixing: per source, keep docs in deterministic
    hash order until the source's token budget fills (fill-then-cut).
    One window exchange on the source key."""
    from mhealth_spark.pipelines.corpus import mix_by_budget

    tk = _tokens(spark).select("doc_id", "source", "n_tok")
    out = mix_by_budget(tk, budgets={"src0": 60000}, default_budget=25000)
    return out.select("doc_id", "source", "n_tok", "mix_tokens_before")


@register(
    "corpus_shard_assign",
    """
    WITH t AS (SELECT doc_id,
                      substring(md5(doc_id::VARCHAR || '#shard0'), 1, 8) AS hx
               FROM documents),
    s AS (SELECT doc_id, hx,
                 CAST(CAST('0x' || hx AS BIGINT) % 16 AS INT) AS shard_id
          FROM t)
    SELECT doc_id, shard_id,
           CAST(row_number() OVER (PARTITION BY shard_id ORDER BY hx, doc_id)
                - 1 AS BIGINT) AS shard_pos
    FROM s
    """,
)
def corpus_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle → 16 training shards: shard by md5
    bucket (uniform, skew-free by construction), position by hash rank
    within the shard. Reproducible across engines/runs with no RNG."""
    from mhealth_spark.pipelines.corpus import shard_assign

    docs = _docs(spark, sf_dir).select("doc_id")
    return shard_assign(docs, n_shards=16)


@register(
    "text_quality_filter",
    f"""
    WITH d AS (SELECT doc_id, text, {_WORDS_SQL} AS w FROM documents),
    m AS (SELECT doc_id,
      len(w) AS n_words,
      CASE WHEN len(w) > 0 THEN length(text) * 1.0 / len(w) END AS mwl,
      CASE WHEN length(text) > 0 THEN
        (length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')))
        * 1.0 / length(text) END AS punct_ratio,
      CASE WHEN length(text) > 0 THEN
        length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
        * 1.0 / length(text) END AS alpha_ratio,
      CASE WHEN len(w) > 0 THEN
        len(list_filter(w, x -> list_contains(
          ['the','a','an','of','and','to','in','is','it','that'], lower(x))))
        * 1.0 / len(w) END AS stop_ratio,
      list_filter(list_transform(
        generate_series(1, greatest(len(w) - 1, 1)),
        i -> array_to_string(w[i:i+1], ' ')), s -> s <> '') AS g2,
      list_filter(list_transform(
        generate_series(1, greatest(len(w) - 4, 1)),
        i -> array_to_string(w[i:i+4], ' ')), s -> s <> '') AS g5
      FROM d),
    f AS (SELECT doc_id, n_words, mwl, punct_ratio, alpha_ratio, stop_ratio,
      CASE WHEN len(g2) > 0
        THEN (len(g2) - len(list_distinct(g2))) / CAST(len(g2) AS DOUBLE)
        ELSE 0.0 END AS dup2,
      CASE WHEN len(g5) > 0
        THEN (len(g5) - len(list_distinct(g5))) / CAST(len(g5) AS DOUBLE)
        ELSE 0.0 END AS dup5
      FROM m),
    r AS (SELECT doc_id, concat_ws(',',
        CASE WHEN n_words < 10 THEN 'words_lt_min' END,
        CASE WHEN n_words > 100000 THEN 'words_gt_max' END,
        CASE WHEN mwl < 2.0 OR mwl > 12.0 THEN 'mean_word_len_out' END,
        CASE WHEN punct_ratio > 0.3 THEN 'punct_ratio_high' END,
        CASE WHEN alpha_ratio < 0.5 THEN 'alpha_ratio_low' END,
        CASE WHEN stop_ratio < 0.01 THEN 'stopword_ratio_low' END,
        CASE WHEN dup2 > 0.3 THEN 'dup_2gram_high' END,
        CASE WHEN dup5 > 0.15 THEN 'dup_5gram_high' END) AS reasons
      FROM f)
    SELECT doc_id, reasons = '' AS keep, reasons FROM r
    """,
)
def text_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite Gopher-family quality filter: keep/drop + failed-rule
    audit trail, one map-only pass."""
    return text.quality_filter(_docs(spark, sf_dir))


# Shared by ann_ivf_oneshot and ann_ivf_probe: the probe over a
# persisted index returns exactly the fused build-then-probe result.
_ANN_IVF_SQL = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                      substring(md5(vec_id::VARCHAR || '#ivf0'), 1, 8) AS hx
               FROM embeddings),
    cent AS (SELECT row_number() OVER (ORDER BY hx, vec_id) - 1 AS cid, v
             FROM e ORDER BY hx, vec_id LIMIT 16),
    assign AS (
      SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                  ORDER BY round(list_cosine_similarity(e.v, c.v), 9) DESC,
                           c.cid) AS rn
        FROM e CROSS JOIN cent c) WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 20),
    probes AS (
      SELECT query_id, qv, cid FROM (
        SELECT q.query_id, q.v AS qv, c.cid,
               row_number() OVER (PARTITION BY q.query_id
                  ORDER BY round(list_cosine_similarity(q.v, c.v), 9) DESC,
                           c.cid) AS rn
        FROM q CROSS JOIN cent c) WHERE rn <= 4),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             list_cosine_similarity(p.qv, a.v) AS cos
      FROM probes p JOIN assign a USING (cid)
      WHERE a.vec_id <> p.query_id),
    ranked AS (SELECT query_id, neighbor_id, cos,
                      row_number() OVER (PARTITION BY query_id
                         ORDER BY round(cos, 9) DESC, neighbor_id) AS rank
               FROM scored)
    SELECT query_id, neighbor_id, round(cos, 6) AS cosine,
           CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """


@register("ann_ivf_oneshot", _ANN_IVF_SQL)
def ann_ivf_oneshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: deterministic hash-picked coarse centroids, map-only
    inverted-list assignment (centroids as codegen literals), n_probe=4
    probed equi-join on cid, exact cosine refine + top-k window."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.ann_ivf_oneshot(
        emb, queries, k=5, n_centroids=16, n_probe=4
    )
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("cosine", 6).alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    )


@register("ann_ivf_probe", _ANN_IVF_SQL)
def ann_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF serving split: the inverted file (vec_id, v, cid) is WRITTEN
    partitioned by cid and probed from disk — the probe batch's
    selective cid set reaches the index scan as a dynamic partition
    filter, so a query batch reads n_probe/n_centroids of the index
    instead of re-assigning the corpus (plan-asserted in
    tests/test_domains.py::test_ivf_persisted_index_probe_matches_oneshot).
    Same oracle as ann_ivf_oneshot: probe-of-persisted == fused."""
    import hashlib
    import os

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    cents = similarity.pick_centroids(emb, 16)
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    path = f"/tmp/mhealth_spark_ivf_index_{tag}"
    # deterministic rebuild per sf_dir; tiny at oracle scale, and at 100 TB
    # this write happens once at ingest, not per query batch. Cluster by
    # cid before the partitioned write (guide §6 small-files): without it
    # every scan task crosses every cid and the inverted file lands as
    # tasks × n_centroids tiny parquet files (measured 502 for 2000 rows)
    # — listing + open cost then dominates the probe. At scale, writing
    # the inverted file clustered by list id is the standard layout; one
    # huge list can be further split with a salt column if needed.
    similarity.ivf_assign(emb, cents).repartition("cid").write.mode(
        "overwrite"
    ).partitionBy("cid").parquet(path)
    index = spark.read.parquet(path)
    out = similarity.ann_ivf_probe(index, cents, queries, k=5, n_probe=4)
    return out.select(
        "query_id",
        "neighbor_id",
        F.round("cosine", 6).alias("cosine"),
        F.col("rank").cast("int").alias("rank"),
    )


# Shared SemDeDup CTE prefix: hash-seeded coarse quantizer (salt #sem0),
# argmax-cosine assignment with the winning score, within-cluster pairs.
_SEM_ASSIGN_SQL = """
    e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                 substring(md5(vec_id::VARCHAR || '#sem0'), 1, 8) AS hx
          FROM embeddings),
    cent AS (SELECT row_number() OVER (ORDER BY hx, vec_id) - 1 AS cid, v
             FROM e ORDER BY hx, vec_id LIMIT 16),
    assign AS (
      SELECT vec_id, v, cid, cs AS ccos FROM (
        SELECT e.vec_id, e.v, c.cid,
               round(list_cosine_similarity(e.v, c.v), 9) AS cs,
               row_number() OVER (PARTITION BY e.vec_id
                  ORDER BY round(list_cosine_similarity(e.v, c.v), 9) DESC,
                           c.cid) AS rn
        FROM e CROSS JOIN cent c) WHERE rn = 1),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.cid,
             list_cosine_similarity(a.v, b.v) AS cos
      FROM assign a JOIN assign b
        ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE round(list_cosine_similarity(a.v, b.v), 9) >= 0.35)
"""


@register(
    "dedup_semantic_pairs",
    f"""
    WITH {_SEM_ASSIGN_SQL}
    SELECT id_a, id_b, CAST(cid AS INT) AS cid, round(cos, 6) AS cosine
    FROM pairs
    """,
)
def dedup_semantic_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup candidate stage: cosine >= 0.35 pairs WITHIN a coarse
    embedding cluster (hash-seeded quantizer shared with the IVF index).
    Pairwise work is bounded per cluster — never global n²."""
    out = dedup.semantic_pairs(_emb(spark, sf_dir), 16, 0.35)
    return out.select(
        "id_a", "id_b", "cid", F.round("cosine", 6).alias("cosine")
    )


@register(
    "dedup_semantic_keep",
    f"""
    WITH RECURSIVE {_SEM_ASSIGN_SQL},
    ed AS (SELECT id_a AS a, id_b AS b FROM pairs
           UNION SELECT id_b, id_a FROM pairs),
    walk(node, reach) AS (
      SELECT a, a FROM ed
      UNION
      SELECT w.node, ed.b FROM walk w JOIN ed ON w.reach = ed.a),
    comp AS (SELECT node, min(reach) AS group_id FROM walk GROUP BY node),
    lab AS (SELECT s.vec_id, s.cid, s.ccos,
                   COALESCE(c.group_id, s.vec_id) AS group_id
            FROM assign s LEFT JOIN comp c ON c.node = s.vec_id)
    SELECT vec_id, CAST(cid AS INT) AS cid, round(ccos, 6) AS ccos,
           group_id,
           row_number() OVER (PARTITION BY group_id
                              ORDER BY ccos ASC, vec_id ASC) = 1 AS keep
    FROM lab
    """,
)
def dedup_semantic_keep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full SemDeDup retention decision: duplicate pairs closed into
    groups (connected components), each group keeps the member FARTHEST
    from its cluster centroid (the paper's low-affinity rule); singletons
    keep themselves. One row per vector."""
    out = dedup.semantic_keep(_emb(spark, sf_dir), 16, 0.35)
    return out.select(
        F.col("id").alias("vec_id"),
        "cid",
        F.round("ccos", 6).alias("ccos"),
        "group_id",
        "keep",
    )


@register(
    "text_redact_pii",
    r"""
    WITH d AS (SELECT doc_id, text FROM documents),
    s1 AS (SELECT doc_id,
             len(regexp_extract_all(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS h1,
             regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                 '<EMAIL>', 'g') AS t1
           FROM d),
    s2 AS (SELECT doc_id, h1,
             len(regexp_extract_all(t1,
                 '\b(?:\d{1,3}\.){3}\d{1,3}\b')) AS h2,
             regexp_replace(t1, '\b(?:\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g')
                 AS t2
           FROM s1),
    s3 AS (SELECT doc_id, h1, h2,
             len(regexp_extract_all(t2, '\+?\d[\d\- ]{7,}\d')) AS h3,
             regexp_replace(t2, '\+?\d[\d\- ]{7,}\d', '<PHONE>', 'g') AS t3
           FROM s2)
    SELECT doc_id, t3 AS text_redacted,
           CAST(h1 + h2 + h3 AS INT) AS n_pii_redacted
    FROM s3
    """,
)
def text_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing audit pass: emails/IPv4s/phone-shaped runs replaced
    with typed placeholders, per-doc replacement count. Pure map."""
    from mhealth_spark.pipelines.text import redact_pii

    out = redact_pii(_docs(spark, sf_dir))
    return out.select("doc_id", "text_redacted", "n_pii_redacted")


@register(
    "corpus_length_batches",
    f"""
    WITH t AS (SELECT doc_id, n_tok,
                      CAST(floor(n_tok / 64) AS INT) AS len_bucket
               FROM {_TOKENS_DUCK}),
    p AS (SELECT doc_id, n_tok, len_bucket,
                 row_number() OVER (PARTITION BY len_bucket
                                    ORDER BY n_tok, doc_id) - 1 AS pos
          FROM t)
    SELECT doc_id, n_tok, len_bucket,
           concat_ws('-', len_bucket, CAST(floor(pos / 32) AS BIGINT))
               AS batch_id,
           CAST(pos % 32 AS INT) AS batch_pos
    FROM p
    """,
)
def corpus_length_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed inference batching: similar-length sequences share
    a batch so padding is bounded by the bucket width."""
    from mhealth_spark.pipelines.corpus import batch_by_length

    tk = _tokens(spark).select("doc_id", "n_tok")
    out = batch_by_length(tk, batch_size=32, length_bucket=64)
    return out.select("doc_id", "n_tok", "len_bucket", "batch_id", "batch_pos")


# dedup.minhash_lsh_candidates(hash_fn='xxh') — the production minhash
# tier (one 64-bit hash per (shingle, i) instead of 8 string md5s) — is
# deliberately NOT registered: xxhash64 has no DuckDB twin and a
# registered no-oracle query is a guaranteed red driver row. The md5
# twin `dedup_minhash_lsh` carries the byte-identical oracle over the
# IDENTICAL banding/bucketing plan (only the hash expression differs);
# the xxh tier is pytest-covered (tests/test_domains.py) and remains
# the library default.


@register(
    "dedup_exact_tokens",
    f"""
    WITH d AS (SELECT doc_id,
                      md5(array_to_string(tokens, ',')) AS fp
               FROM {_TOKENS_DUCK}),
    g AS (SELECT fp, count(*) AS group_size, min(doc_id) AS keep_id
          FROM d GROUP BY 1)
    SELECT d.doc_id AS doc_id, g.group_size AS group_size, g.keep_id AS keep_id
    FROM d JOIN g USING (fp)
    """,
)
def dedup_exact_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-tokenization exact dedup: group by md5 of the token-id array
    (portable tier; xxhash64(tokens) is the 10^12-row tier)."""
    return dedup.exact_dedup_token_groups(_tokens(spark))


@register(
    "corpus_unigram_logprob",
    f"""
    WITH ex AS (SELECT doc_id, unnest(tokens) AS token FROM {_TOKENS_DUCK}),
    c AS (SELECT token, count(*) AS c FROM ex GROUP BY 1),
    t AS (SELECT sum(c) AS total, count(*) AS vocab FROM c),
    p AS (SELECT token, ln((c + 0.5) / (total + 0.5 * vocab)) AS logp
          FROM c, t)
    SELECT ex.doc_id AS doc_id,
           round(avg(p.logp), 6) AS mean_logprob,
           CAST(count(*) AS BIGINT) AS n_scored
    FROM ex JOIN p USING (token)
    GROUP BY 1
    """,
)
def corpus_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-family quality score: mean token log-prob under the
    corpus's own add-alpha unigram LM; explode+groupBy bounded by vocab,
    broadcast probability join, one doc-level shuffle."""
    from mhealth_spark.pipelines.corpus import unigram_logprob_scores

    out = unigram_logprob_scores(_tokens(spark))
    return out.select(
        "doc_id",
        F.round("mean_logprob", 6).alias("mean_logprob"),
        F.col("n_scored").cast("long").alias("n_scored"),
    )


@register(
    "corpus_pack_arrays",
    f"""
    WITH t AS (SELECT doc_id, source, ts, n_tok, tokens FROM {_TOKENS_DUCK}),
    c AS (SELECT doc_id, source, ts, tokens,
                 COALESCE(sum(n_tok) OVER (PARTITION BY source
                          ORDER BY ts, doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0) AS prev_cum
          FROM t),
    a AS (SELECT doc_id, source, ts, tokens,
                 CAST(floor(prev_cum / 2048) AS BIGINT) AS pack_id
          FROM c),
    g AS (SELECT source, pack_id,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 flatten(list(tokens ORDER BY ts, doc_id)) AS arr
          FROM a GROUP BY 1, 2)
    SELECT source, pack_id, n_docs,
           CAST(len(arr) AS INT) AS pack_len,
           md5(array_to_string(arr, ',')) AS pack_fp
    FROM g
    """,
)
def corpus_pack_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical packed sequences: per-pack concatenated token arrays in
    (ts, doc_id) order, content-fingerprinted for the oracle compare."""
    from mhealth_spark.pipelines.corpus import pack_token_arrays

    out = pack_token_arrays(_tokens(spark), budget=2048)
    return out.select(
        "source",
        "pack_id",
        "n_docs",
        F.col("pack_len").cast("int").alias("pack_len"),
        F.md5(
            F.concat_ws(
                ",", F.transform("packed_tokens", lambda t: t.cast("string"))
            )
        ).alias("pack_fp"),
    )


@register(
    "corpus_split_drift",
    f"""
    WITH lab AS (SELECT doc_id, tokens,
                        CASE WHEN substring(md5(doc_id || '#split0'), 1, 8)
                                  < '{_hx_thresh(0.9)}'
                             THEN 'train' ELSE 'holdout' END AS split
                 FROM {_TOKENS_DUCK}),
    ex AS (SELECT split, unnest(tokens) AS token FROM lab),
    c AS (SELECT token,
                 sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS ct,
                 sum(CASE WHEN split = 'train' THEN 0 ELSE 1 END) AS cv
          FROM ex GROUP BY 1),
    t AS (SELECT sum(ct) AS tt, sum(cv) AS tv, count(*) AS v FROM c),
    k AS (SELECT (c.ct + 0.5) / (t.tt + 0.5 * t.v) AS p,
                 (c.cv + 0.5) / (t.tv + 0.5 * t.v) AS q
          FROM c, t)
    SELECT round(sum(p * ln(p / q)), 6) AS kl_train_holdout,
           (SELECT CAST(v AS BIGINT) FROM t) AS vocab,
           (SELECT CAST(tt AS BIGINT) FROM t) AS tokens_train,
           (SELECT CAST(tv AS BIGINT) FROM t) AS tokens_holdout
    FROM k
    """,
)
def corpus_split_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-shift audit: KL between the train/holdout splits'
    add-alpha unigram distributions (one vocab-bounded groupBy)."""
    from mhealth_spark.pipelines.corpus import split_unigram_drift

    out = split_unigram_drift(_tokens(spark))
    return out.select(
        F.round("kl_train_holdout", 6).alias("kl_train_holdout"),
        "vocab",
        "tokens_train",
        "tokens_holdout",
    )


@register(
    "dedup_cluster_stats",
    f"""
    WITH comp AS ({_COMPONENTS_SQL}),
    sizes AS (SELECT cluster_id, count(*) AS cluster_size
              FROM comp GROUP BY 1)
    SELECT CAST(cluster_size AS INT) AS cluster_size,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(sum(cluster_size) AS BIGINT) AS n_docs
    FROM sizes GROUP BY 1
    """,
)
def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup audit: cluster-size histogram over the connected
    components (how much of the corpus is duplicated, and how deep)."""
    pairs = dedup.minhash_lsh_candidates(_docs(spark, sf_dir), hash_fn="md5")
    comp = dedup.neardup_components(pairs)
    sizes = comp.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return sizes.groupBy("cluster_size").agg(
        F.count("*").alias("n_clusters"),
        F.sum("cluster_size").cast("long").alias("n_docs"),
    ).select(
        F.col("cluster_size").cast("int").alias("cluster_size"),
        "n_clusters",
        "n_docs",
    )


@register(
    "corpus_writer_cap",
    f"""
    WITH t AS (SELECT doc_id, writer_id,
                      substring(md5(doc_id || '#cap0'), 1, 8) AS hx
               FROM {_TOKENS_DUCK}),
    r AS (SELECT doc_id, writer_id,
                 row_number() OVER (PARTITION BY writer_id
                                    ORDER BY hx, doc_id) AS rn
          FROM t)
    SELECT doc_id, writer_id FROM r WHERE rn <= 5
    """,
)
def corpus_writer_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-writer contribution cap: keep at most N docs per writer in
    deterministic hash order — the standard author-balancing pass that
    stops one prolific writer from dominating a training mix. One window
    exchange on writer_id (the skewed key the engine's synthetic corpus
    deliberately exercises; a heavy writer caps out at N regardless)."""
    from mhealth_spark.pipelines.corpus import cap_per_group

    tk = _tokens(spark).select("doc_id", "writer_id")
    return cap_per_group(tk, group_col="writer_id", cap=5, salt="cap0")


@register(
    "multimodal_frame_sample",
    """
    WITH m AS (SELECT CAST(doc_id AS VARCHAR) AS media_id,
                      octet_length(encode(text)) AS nb
               FROM documents),
    f AS (SELECT media_id,
                 unnest(generate_series(0,
                     least(4, greatest(1, nb // 64)) - 1)) AS frame_idx
          FROM m)
    SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
           CAST(frame_idx * 64 AS BIGINT) AS byte_offset
    FROM f
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-to-many frame-sampling plumbing (mapInPandas): per payload,
    byte-offset samples — the oracle checks the fan-out shape and
    offsets; the sample bytes themselves are value-checked by
    `test_frame_sample_bytes_exact` (BLOB slicing is not portable SQL)."""
    media = multimodal.wrap_as_media(
        _docs(spark, sf_dir), "doc_id", F.encode(F.col("text"), "UTF-8")
    )
    frames = multimodal.frame_sample_stub(media, every_n_bytes=64, max_frames=4)
    return frames.select(
        "media_id",
        F.col("frame_idx").cast("int").alias("frame_idx"),
        "byte_offset",
    )


@register(
    "dedup_exact_prefix",
    f"""
    WITH d AS (SELECT doc_id,
                      md5(array_to_string(tokens[1:32], ',')) AS fp
               FROM {_TOKENS_DUCK}),
    g AS (SELECT fp, count(*) AS group_size, min(doc_id) AS keep_id
          FROM d GROUP BY 1)
    SELECT d.doc_id AS doc_id, g.group_size AS group_size, g.keep_id AS keep_id
    FROM d JOIN g USING (fp)
    """,
)
def dedup_exact_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix dedup (32-token head): catches shared boilerplate openings
    that full-content dedup misses."""
    return dedup.exact_dedup_prefix_groups(_tokens(spark), prefix_len=32)


@register(
    "similarity_source_centroids",
    """
    WITH j AS (SELECT d.source, e.embedding
               FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
    ex AS (SELECT source, i - 1 AS dim, CAST(embedding[i] AS DOUBLE) AS v
           FROM j, unnest(generate_series(1, len(embedding))) AS t(i))
    SELECT source, CAST(dim AS INT) AS dim, round(avg(v), 6) AS mean_v,
           CAST(count(*) AS BIGINT) AS n_vecs
    FROM ex GROUP BY 1, 2
    """,
)
def similarity_source_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source embedding centroid, emitted per-dimension for the
    oracle compare (the operator reassembles the array form)."""
    from mhealth_spark.pipelines.similarity import source_centroids

    emb = _emb(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", "source")
    cent = source_centroids(emb, docs)
    return cent.select(
        "source",
        F.posexplode("centroid").alias("dim", "mean_v"),
        F.col("n_vecs").cast("long").alias("n_vecs"),
    ).select(
        "source",
        F.col("dim").cast("int").alias("dim"),
        F.round("mean_v", 6).alias("mean_v"),
        "n_vecs",
    )


@register(
    "tokens_anomaly",
    f"""
    WITH t AS (SELECT doc_id, writer_id, ts, n_tok FROM {_TOKENS_DUCK}),
    s AS (SELECT doc_id, writer_id, ts, n_tok,
                 avg(n_tok) OVER wb AS m,
                 stddev_samp(n_tok) OVER wb AS sd,
                 count(n_tok) OVER wb AS c
          FROM t
          WINDOW wb AS (PARTITION BY writer_id ORDER BY ts, doc_id
                        ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
    SELECT doc_id, writer_id, strftime(ts, '{_TS_FMT_DUCK}') AS ts_s, n_tok,
           round(m, 6) AS roll_mean,
           round(sd, 6) AS roll_std,
           CAST(c AS BIGINT) AS roll_count,
           round(CASE WHEN c >= 5 AND sd > 0 THEN (n_tok - m) / sd END, 6)
               AS z_score,
           COALESCE(abs(CASE WHEN c >= 5 AND sd > 0 THEN (n_tok - m) / sd END)
                    > 3.0, false) AS is_anomaly
    FROM s
    """,
)
def tokens_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window z-score anomaly flags per (writer, ts) — the
    ingestion-QA pass over the same leakage-free window frame as the
    feature-vector tier."""
    from mhealth_spark.tokens_engine import anomaly_scores

    out = anomaly_scores(_tokens(spark))
    return out.select(
        "doc_id",
        "writer_id",
        F.date_format("ts", _TS_FMT_SPARK).alias("ts_s"),
        "n_tok",
        F.round("roll_mean", 6).alias("roll_mean"),
        F.round("roll_std", 6).alias("roll_std"),
        F.col("roll_count").cast("long").alias("roll_count"),
        F.round("z_score", 6).alias("z_score"),
        "is_anomaly",
    )


@register(
    "corpus_select_best",
    f"""
    WITH ex AS (SELECT doc_id, source, unnest(tokens) AS token
                FROM {_TOKENS_DUCK}),
    c AS (SELECT token, count(*) AS c FROM ex GROUP BY 1),
    t AS (SELECT sum(c) AS total, count(*) AS vocab FROM c),
    p AS (SELECT token, ln((c + 0.5) / (total + 0.5 * vocab)) AS logp
          FROM c, t),
    s AS (SELECT ex.doc_id, ex.source, avg(p.logp) AS mean_logprob
          FROM ex JOIN p USING (token) GROUP BY 1, 2),
    r AS (SELECT doc_id, source, mean_logprob,
                 row_number() OVER (PARTITION BY source
                    ORDER BY round(mean_logprob, 9) DESC, doc_id) AS rk
          FROM s)
    SELECT doc_id, source, round(mean_logprob, 6) AS mean_logprob,
           CAST(rk AS INT) AS quality_rank
    FROM r WHERE rk <= 25
    """,
)
def corpus_select_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data selection: top-25 docs per source by the unigram-LM quality
    score — the 'best N per domain' curation pass."""
    from mhealth_spark.pipelines.corpus import (
        select_best_per_group,
        unigram_logprob_scores,
    )

    tk = _tokens(spark)
    scores = unigram_logprob_scores(tk).join(
        tk.select("doc_id", "source"), "doc_id"
    )
    out = select_best_per_group(scores, k=25)
    return out.select(
        "doc_id",
        "source",
        F.round("mean_logprob", 6).alias("mean_logprob"),
        F.col("quality_rank").cast("int").alias("quality_rank"),
    )


_LABEL_ORACLE = f"""
    WITH t AS (SELECT source, ts, n_tok FROM {_TOKENS_DUCK}),
    span AS (SELECT source, date_trunc('hour', min(ts)) AS t0,
                    date_trunc('hour', max(ts)) AS t1
             FROM t GROUP BY 1),
    r AS (SELECT source, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS ts
          FROM span)
    SELECT r.source AS source, strftime(r.ts, '{_TS_FMT_DUCK}') AS req_ts,
           count(e.n_tok)               AS docs_next,
           CAST(sum(e.n_tok) AS BIGINT) AS tokens_next,
           CAST(epoch(min(e.ts)) - epoch(r.ts) AS BIGINT) AS first_gap_s
    FROM r LEFT JOIN t e
      ON e.source = r.source
     AND e.ts > r.ts
     AND epoch(e.ts) <= epoch(r.ts) + 86400
    GROUP BY r.source, r.ts
    """


@register("tokens_label_horizon", _LABEL_ORACLE)
def tokens_label_horizon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward-horizon label join — the supervised mirror of
    tokens_backfill_24h: per (source, request hour), aggregates over
    (req, req+24h] only. Paired with the backward join this emits
    leakage-clean (features, label) rows; the two windows tile the
    request timestamp exactly."""
    from mhealth_spark.tokens_engine import hourly_requests, label_horizon_features

    tk = _tokens(spark)
    out = label_horizon_features(tk, hourly_requests(tk))
    return out.select(
        "source",
        F.date_format("ts", _TS_FMT_SPARK).alias("req_ts"),
        "docs_next",
        "tokens_next",
        "first_gap_s",
    )


_TRAINING_ORACLE = f"""
    WITH t AS (SELECT source, ts, n_tok FROM {_TOKENS_DUCK}),
    span AS (SELECT source, date_trunc('hour', min(ts)) AS t0,
                    date_trunc('hour', max(ts)) AS t1
             FROM t GROUP BY 1),
    r AS (SELECT source, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS ts
          FROM span),
    feat AS (
      SELECT r.source AS source, r.ts AS ts,
             count(e.n_tok) FILTER (
                 WHERE epoch(e.ts) > epoch(r.ts) - 3600) AS docs_1h,
             CAST(sum(e.n_tok) FILTER (
                 WHERE epoch(e.ts) > epoch(r.ts) - 3600) AS BIGINT)
                 AS tokens_1h,
             round(avg(e.n_tok) FILTER (
                 WHERE epoch(e.ts) > epoch(r.ts) - 3600), 6) AS mean_len_1h,
             max(e.n_tok) FILTER (
                 WHERE epoch(e.ts) > epoch(r.ts) - 3600) AS max_len_1h,
             count(e.n_tok)                 AS docs_24h,
             CAST(sum(e.n_tok) AS BIGINT)   AS tokens_24h,
             round(avg(e.n_tok), 6)         AS mean_len_24h,
             max(e.n_tok)                   AS max_len_24h
      FROM r LEFT JOIN t e
        ON e.source = r.source
       AND e.ts <= r.ts
       AND epoch(e.ts) > epoch(r.ts) - 86400
      GROUP BY 1, 2),
    lab AS (
      SELECT r.source AS source, r.ts AS ts,
             count(e.n_tok)               AS docs_next,
             CAST(sum(e.n_tok) AS BIGINT) AS tokens_next,
             CAST(epoch(min(e.ts)) - epoch(r.ts) AS BIGINT) AS first_gap_s
      FROM r LEFT JOIN t e
        ON e.source = r.source
       AND e.ts > r.ts
       AND epoch(e.ts) <= epoch(r.ts) + 86400
      GROUP BY 1, 2)
    SELECT feat.source, strftime(feat.ts, '{_TS_FMT_DUCK}') AS req_ts,
           docs_1h, tokens_1h, mean_len_1h, max_len_1h,
           docs_24h, tokens_24h, mean_len_24h, max_len_24h,
           docs_next, tokens_next, first_gap_s
    FROM feat JOIN lab USING (source, ts)
    """


@register("tokens_training_set", _TRAINING_ORACLE)
def tokens_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full leakage-clean training row per (source, request hour):
    1h + 24h PAST features from ONE as-of join pass (the 1h horizon is
    a conditional aggregate over the 24h-joined rows — K horizons, one
    shuffle) equi-joined with 24h forward labels. Features see only
    (req-lb, req]; labels only (req, req+24h]; the two windows tile the
    request timestamp exactly."""
    from mhealth_spark.tokens_engine import hourly_requests, training_set

    tk = _tokens(spark)
    out = training_set(tk, hourly_requests(tk))
    return out.select(
        "source",
        F.date_format("ts", _TS_FMT_SPARK).alias("req_ts"),
        "docs_1h",
        "tokens_1h",
        F.round("mean_len_1h", 6).alias("mean_len_1h"),
        "max_len_1h",
        "docs_24h",
        "tokens_24h",
        F.round("mean_len_24h", 6).alias("mean_len_24h"),
        "max_len_24h",
        "docs_next",
        "tokens_next",
        "first_gap_s",
    )


@register(
    "tokens_training_set_multilabel",
    f"""
    WITH t AS (SELECT source, ts, n_tok FROM {_TOKENS_DUCK}),
    span AS (SELECT source, date_trunc('hour', min(ts)) AS t0,
                    date_trunc('hour', max(ts)) AS t1
             FROM t GROUP BY 1),
    r AS (SELECT source, unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS ts
          FROM span),
    feat AS (
      SELECT r.source AS source, r.ts AS ts,
             count(e.n_tok)                 AS docs_24h,
             CAST(sum(e.n_tok) AS BIGINT)   AS tokens_24h
      FROM r LEFT JOIN t e
        ON e.source = r.source
       AND e.ts <= r.ts
       AND epoch(e.ts) > epoch(r.ts) - 86400
      GROUP BY 1, 2),
    lab AS (
      SELECT r.source AS source, r.ts AS ts,
             count(e.n_tok)               AS docs_next,
             CAST(sum(e.n_tok) AS BIGINT) AS tokens_next,
             CAST(epoch(min(e.ts)) - epoch(r.ts) AS BIGINT) AS first_gap_s,
             count(e.n_tok) FILTER (
                 WHERE epoch(e.ts) <= epoch(r.ts) + 3600) AS docs_next_1h,
             CAST(sum(e.n_tok) FILTER (
                 WHERE epoch(e.ts) <= epoch(r.ts) + 3600) AS BIGINT)
                 AS tokens_next_1h
      FROM r LEFT JOIN t e
        ON e.source = r.source
       AND e.ts > r.ts
       AND epoch(e.ts) <= epoch(r.ts) + 86400
      GROUP BY 1, 2)
    SELECT feat.source, strftime(feat.ts, '{_TS_FMT_DUCK}') AS req_ts,
           docs_24h, tokens_24h,
           docs_next, tokens_next, first_gap_s,
           docs_next_1h, tokens_next_1h
    FROM feat JOIN lab USING (source, ts)
    """,
)
def tokens_training_set_multilabel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-task label heads from the same one-scan grid rollup: the
    24h label block plus a 1h head (predict next hour AND next day) —
    one extra leading window per horizon, no extra event-table work."""
    from mhealth_spark.tokens_engine import training_set_grid

    out = training_set_grid(
        _tokens(spark), lookbacks_hours=(24,), extra_label_horizons=(1,)
    )
    return out.select(
        "source",
        F.date_format("ts", _TS_FMT_SPARK).alias("req_ts"),
        "docs_24h",
        "tokens_24h",
        "docs_next",
        "tokens_next",
        "first_gap_s",
        "docs_next_1h",
        "tokens_next_1h",
    )


# incremental-ingest path: the corpus split into 3 arrival batches by
# doc hash, each rolled up ALONE, partials merged (commutative monoid),
# training set assembled from the merged partials — must equal the
# full-recompute answer, so it shares the SAME oracle SQL
@register("tokens_training_set_incremental", _TRAINING_ORACLE)
def tokens_training_set_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance exactness: history is never rescanned —
    each arrival batch becomes its own hour_partials frame, folded into
    the persisted partial table by merge_hour_partials (sum/sum/max/
    min/max monoids), and training_set_grid assembles from the merged
    partials. Oracle-identical to the one-shot build."""
    from mhealth_spark.tokens_engine import (
        hour_partials,
        merge_hour_partials,
        training_set_grid,
    )

    tk = _tokens(spark)
    b = F.pmod(F.xxhash64("doc_id"), F.lit(3))
    parts = None
    for i in range(3):
        batch = hour_partials(tk.filter(b == i))
        parts = batch if parts is None else merge_hour_partials(parts, batch)
    out = training_set_grid(None, partials=parts)
    return out.select(
        "source",
        F.date_format("ts", _TS_FMT_SPARK).alias("req_ts"),
        "docs_1h",
        "tokens_1h",
        F.round("mean_len_1h", 6).alias("mean_len_1h"),
        "max_len_1h",
        "docs_24h",
        "tokens_24h",
        F.round("mean_len_24h", 6).alias("mean_len_24h"),
        "max_len_24h",
        "docs_next",
        "tokens_next",
        "first_gap_s",
    )


# the hierarchical-rollup twin for the REGULAR grid: one event-table
# scan serves features AND labels, so it shares the SAME oracle SQL
@register("tokens_training_set_grid", _TRAINING_ORACLE)
def tokens_training_set_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grid-scale training-set assembly: (entity, hour] partials from ONE
    scan, trailing range windows for the 1h/24h features, a leading
    window for the 24h labels — value-identical to the generic as-of
    composition (shared oracle)."""
    from mhealth_spark.tokens_engine import training_set_grid

    out = training_set_grid(_tokens(spark))
    return out.select(
        "source",
        F.date_format("ts", _TS_FMT_SPARK).alias("req_ts"),
        "docs_1h",
        "tokens_1h",
        F.round("mean_len_1h", 6).alias("mean_len_1h"),
        "max_len_1h",
        "docs_24h",
        "tokens_24h",
        F.round("mean_len_24h", 6).alias("mean_len_24h"),
        "max_len_24h",
        "docs_next",
        "tokens_next",
        "first_gap_s",
    )


@register(
    "tokens_expanding_stats",
    f"""
    WITH t AS (SELECT doc_id, writer_id, ts, n_tok FROM {_TOKENS_DUCK}),
    b AS (SELECT doc_id, writer_id, ts, n_tok,
                 count(n_tok) OVER w AS n,
                 CAST(sum(n_tok) OVER w AS DOUBLE) AS s,
                 CAST(sum(n_tok * n_tok) OVER w AS DOUBLE) AS s2
          FROM t
          WINDOW w AS (PARTITION BY writer_id ORDER BY epoch_us(ts), doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
    SELECT doc_id, writer_id, strftime(ts, '{_TS_FMT_DUCK}') AS ts_s, n_tok,
           CAST(n AS BIGINT) AS exp_n,
           round(CASE WHEN n >= 1 THEN s / n END, 6) AS exp_mean,
           round(CASE WHEN n >= 2
                      THEN sqrt((s2 - s * s / n) / (n - 1)) END, 6) AS exp_std,
           round(CASE WHEN n >= 2 AND sqrt((s2 - s * s / n) / (n - 1)) > 0
                      THEN (n_tok - s / n)
                           / sqrt((s2 - s * s / n) / (n - 1)) END, 6) AS exp_z
    FROM b
    """,
)
def tokens_expanding_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expanding strictly-past per-writer normalization (count/mean/
    sample-std/z) from exact integer prefix sums — both engines evaluate
    the identical closed-form expression, no Welford-order dependence."""
    from mhealth_spark.tokens_engine import expanding_entity_stats

    out = expanding_entity_stats(_tokens(spark))
    return out.select(
        "doc_id",
        "writer_id",
        F.date_format("ts", _TS_FMT_SPARK).alias("ts_s"),
        "n_tok",
        "exp_n",
        F.round("exp_mean", 6).alias("exp_mean"),
        F.round("exp_std", 6).alias("exp_std"),
        F.round("exp_z", 6).alias("exp_z"),
    )


_DECAY_D = repr(0.5 ** (1.0 / 24.0)) + "e0"


@register(
    "tokens_decayed_rate",
    f"""
    WITH t AS (SELECT source, ts, n_tok FROM {_TOKENS_DUCK}),
    p AS (SELECT source,
                 CASE WHEN ts = date_trunc('hour', ts)
                      THEN date_trunc('hour', ts)
                      ELSE date_trunc('hour', ts) + INTERVAL 1 HOUR
                 END AS hr,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(n_tok) AS BIGINT) AS s
          FROM t GROUP BY 1, 2),
    span AS (SELECT source, min(hr) AS t0, max(hr) AS t1 FROM p GROUP BY 1),
    r AS (SELECT source, unnest(generate_series(t0, t1, INTERVAL 1 HOUR))
                 AS ts FROM span),
    g AS (SELECT r.source, r.ts,
                 coalesce(CAST(p.s AS DOUBLE), 0.0e0) AS xs,
                 coalesce(CAST(p.n AS DOUBLE), 0.0e0) AS xn,
                 coalesce(p.n, 0) AS n0
          FROM r LEFT JOIN p ON p.source = r.source AND p.hr = r.ts),
    lists AS (SELECT g1.source AS source, g1.ts AS ts, g1.n0 AS n0,
                     list(g2.xs ORDER BY g2.ts) AS ls,
                     list(g2.xn ORDER BY g2.ts) AS ln
              FROM g g1 JOIN g g2
                ON g2.source = g1.source
               AND g2.ts <= g1.ts
               AND g2.ts > g1.ts - INTERVAL 168 HOURS
              GROUP BY 1, 2, 3)
    SELECT source, strftime(ts, '{_TS_FMT_DUCK}') AS req_ts,
           CAST(n0 AS BIGINT) AS docs_this_hour,
           round(list_reduce(list_prepend(0.0e0, ls),
                             (acc, x) -> acc * {_DECAY_D} + x), 6)
               AS decayed_tokens,
           round(list_reduce(list_prepend(0.0e0, ln),
                             (acc, x) -> acc * {_DECAY_D} + x), 6)
               AS decayed_docs
    FROM lists
    """,
)
def tokens_decayed_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-decayed per-source activity (half-life 24h, 168h
    window) over the hourly grid — Horner fold ``acc*d + x`` in hour
    order on both engines (no pow), so the list_reduce oracle is
    bit-identical before the final rounding."""
    from mhealth_spark.tokens_engine import decayed_rate_features

    out = decayed_rate_features(_tokens(spark))
    return out.select(
        "source",
        F.date_format("ts", _TS_FMT_SPARK).alias("req_ts"),
        "docs_this_hour",
        F.round("decayed_tokens", 6).alias("decayed_tokens"),
        F.round("decayed_docs", 6).alias("decayed_docs"),
    )


@register(
    "tokens_trailing_corr",
    f"""
    WITH t AS (SELECT source, ts, n_tok FROM {_TOKENS_DUCK}),
    p AS (SELECT source,
                 CASE WHEN ts = date_trunc('hour', ts)
                      THEN date_trunc('hour', ts)
                      ELSE date_trunc('hour', ts) + INTERVAL 1 HOUR
                 END AS hr,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(n_tok) AS BIGINT) AS s
          FROM t GROUP BY 1, 2),
    b AS (SELECT source, hr, n,
                 CAST(count(n) OVER w AS DOUBLE) AS m,
                 CAST(sum(n) OVER w AS DOUBLE) AS sx,
                 CAST(sum(s) OVER w AS DOUBLE) AS sy,
                 CAST(sum(n * s) OVER w AS DOUBLE) AS sxy,
                 CAST(sum(n * n) OVER w AS DOUBLE) AS sxx,
                 CAST(sum(s * s) OVER w AS DOUBLE) AS syy
          FROM p
          WINDOW w AS (PARTITION BY source
                       ORDER BY epoch_us(hr) // 3600000000
                       RANGE BETWEEN 23 PRECEDING AND CURRENT ROW))
    SELECT source, strftime(hr, '{_TS_FMT_DUCK}') AS req_ts,
           n AS docs_this_hour,
           CAST(m AS BIGINT) AS active_hours,
           round(CASE WHEN m >= 2 AND m * sxx - sx * sx > 0
                       AND m * syy - sy * sy > 0
                      THEN (m * sxy - sx * sy)
                           / (sqrt(m * sxx - sx * sx)
                              * sqrt(m * syy - sy * sy)) END, 6)
               AS corr_docs_tokens
    FROM b
    """,
)
def tokens_trailing_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 24h Pearson correlation of docs/hour vs tokens/hour per
    source — closed form from exact integer window sums, identical
    expression on both engines."""
    from mhealth_spark.tokens_engine import trailing_correlation

    out = trailing_correlation(_tokens(spark))
    return out.select(
        "source",
        F.date_format("ts", _TS_FMT_SPARK).alias("req_ts"),
        "docs_this_hour",
        "active_hours",
        F.round("corr_docs_tokens", 6).alias("corr_docs_tokens"),
    )


@register(
    "tokens_contrastive_positives",
    f"""
    WITH t AS (SELECT doc_id, writer_id, ts FROM {_TOKENS_DUCK}),
    b AS (SELECT doc_id AS anchor_id, writer_id,
                 lead(doc_id) OVER w AS positive_id,
                 epoch_us(lead(ts) OVER w) - epoch_us(ts) AS gap_us
          FROM t
          WINDOW w AS (PARTITION BY writer_id ORDER BY epoch_us(ts), doc_id))
    SELECT anchor_id, writer_id, positive_id, gap_us
    FROM b
    WHERE positive_id IS NOT NULL AND gap_us <= 21600000000
    """,
)
def tokens_contrastive_positives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positive pairs for contrastive training: same writer, next doc
    within 6h — one lead over the engine's standard entity window."""
    from mhealth_spark.tokens_engine import contrastive_positives

    return contrastive_positives(_tokens(spark))


@register(
    "tokens_writer_streaks",
    f"""
    WITH t AS (SELECT writer_id, ts FROM {_TOKENS_DUCK}),
    d AS (SELECT DISTINCT writer_id, date_trunc('day', ts) AS day FROM t),
    b AS (SELECT writer_id, day,
                 epoch_us(day) // 86400000000 AS dn,
                 row_number() OVER w AS rk,
                 epoch_us(day) // 86400000000
                     - first_value(epoch_us(day) // 86400000000) OVER w
                     AS days_since_first,
                 epoch_us(day) // 86400000000
                     - lag(epoch_us(day) // 86400000000) OVER w
                     AS days_since_prev,
                 epoch_us(day) // 86400000000 - row_number() OVER w AS grp
          FROM d
          WINDOW w AS (PARTITION BY writer_id ORDER BY day))
    SELECT writer_id, strftime(day, '{_TS_FMT_DUCK}') AS day_s,
           CAST(days_since_first AS BIGINT) AS days_since_first,
           CAST(days_since_prev AS BIGINT) AS days_since_prev,
           CAST(rk AS BIGINT) AS active_day_rank,
           CAST(row_number() OVER (PARTITION BY writer_id, grp ORDER BY dn)
                AS BIGINT) AS streak_len
    FROM b
    """,
)
def tokens_writer_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-writer daily engagement features: consecutive-day streaks
    (gaps-and-islands), days since previous/first active day, running
    active-day count."""
    from mhealth_spark.tokens_engine import writer_streaks

    out = writer_streaks(_tokens(spark))
    return out.select(
        "writer_id",
        F.date_format("day", _TS_FMT_SPARK).alias("day_s"),
        "days_since_first",
        "days_since_prev",
        "active_day_rank",
        "streak_len",
    )


_PF_K, _PF_EMB = 5, 24 * 3_600_000_000
_PF_FOLD = " + ".join(
    f"(CASE WHEN us - t0 >= (({j} * span) // {_PF_K}) THEN 1 ELSE 0 END)"
    for j in range(1, _PF_K)
)
_PF_MASK = " || ".join(
    f"(CASE WHEN us < t0 + (({j} * span) // {_PF_K}) - {_PF_EMB} "
    f"OR us >= t0 + (({j + 1} * span) // {_PF_K}) + {_PF_EMB} "
    "THEN '1' ELSE '0' END)"
    for j in range(_PF_K)
)


@register(
    "tokens_purged_folds",
    f"""
    WITH t AS (SELECT doc_id, ts FROM {_TOKENS_DUCK}),
    st AS (SELECT min(epoch_us(ts)) AS t0,
                  max(epoch_us(ts)) - min(epoch_us(ts)) + 1 AS span FROM t),
    b AS (SELECT doc_id, ts, epoch_us(ts) AS us, st.t0 AS t0, st.span AS span
          FROM t, st)
    SELECT doc_id, strftime(ts, '{_TS_FMT_DUCK}') AS ts_s,
           CAST({_PF_FOLD} AS INT) AS fold,
           {_PF_MASK} AS train_mask
    FROM b
    """,
)
def tokens_purged_folds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged+embargoed time-series CV assignment: 5 contiguous time
    folds, 24h embargo; fold boundaries are identical integers on both
    engines (t0 + (j*span) div k), so fold id and the per-fold training
    mask match exactly."""
    from mhealth_spark.tokens_engine import purged_folds

    out = purged_folds(_tokens(spark))
    return out.select(
        "doc_id",
        F.date_format("ts", _TS_FMT_SPARK).alias("ts_s"),
        "fold",
        "train_mask",
    )


@register(
    "tokens_drift_psi",
    f"""
    WITH t AS (SELECT source, ts, n_tok FROM {_TOKENS_DUCK}),
    h AS (SELECT source, date_trunc('day', ts) AS day,
                 CAST(least(floor(log2(greatest(n_tok, 1))), 13) AS INT) AS b,
                 CAST(count(*) AS BIGINT) AS c
          FROM t GROUP BY 1, 2, 3),
    span AS (SELECT source, min(day) AS d0, max(day) AS d1
             FROM h GROUP BY 1),
    days AS (SELECT source,
                    unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS day
             FROM span),
    spine AS (SELECT source, day, unnest(generate_series(0, 13)) AS b
              FROM days),
    dense AS (SELECT s.source, s.day, s.b, coalesce(h.c, 0) AS c
              FROM spine s LEFT JOIN h USING (source, day, b)),
    base AS (SELECT d1.source AS source, d1.day AS day, d1.b AS b,
                    max(d1.c) AS c, coalesce(sum(d2.c), 0) AS cb
             FROM dense d1 LEFT JOIN dense d2
               ON d2.source = d1.source AND d2.b = d1.b
              AND d2.day >= d1.day - INTERVAL 7 DAYS AND d2.day < d1.day
             GROUP BY 1, 2, 3),
    tot AS (SELECT source, day, CAST(sum(c) AS BIGINT) AS nt,
                   CAST(sum(cb) AS BIGINT) AS nb
            FROM base GROUP BY 1, 2),
    terms AS (SELECT b1.source AS source, b1.day AS day, b1.b AS b,
                     tot.nt AS nt, tot.nb AS nb,
                     ((b1.c + 0.5e0) / (tot.nt + 7.0e0)
                      - (b1.cb + 0.5e0) / (tot.nb + 7.0e0))
                     * ln(((b1.c + 0.5e0) / (tot.nt + 7.0e0))
                          / ((b1.cb + 0.5e0) / (tot.nb + 7.0e0))) AS term
              FROM base b1 JOIN tot USING (source, day))
    SELECT source, strftime(day, '{_TS_FMT_DUCK}') AS day_s,
           max(nt) AS n_today, max(nb) AS n_base,
           round(list_sum(list(term ORDER BY b)), 6) AS psi
    FROM terms GROUP BY source, day
    HAVING max(nt) > 0 AND max(nb) > 0
    """,
)
def tokens_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per (source, day) Population Stability Index of the length
    distribution vs the pooled trailing 7 days — log2 buckets, add-0.5
    smoothing, PSI folded in bucket order (≡ the oracle's ordered
    list_sum). The 'did today's data change shape?' ingestion alarm."""
    from mhealth_spark.tokens_engine import drift_psi

    out = drift_psi(_tokens(spark))
    return out.select(
        "source",
        F.date_format("day", _TS_FMT_SPARK).alias("day_s"),
        "n_today",
        "n_base",
        F.round("psi", 6).alias("psi"),
    )


@register(
    "tokens_entropy",
    f"""
    WITH t AS (SELECT doc_id, tokens, n_tok FROM {_TOKENS_DUCK}),
    u AS (SELECT doc_id, unnest(tokens) AS tok FROM t),
    c AS (SELECT doc_id, tok, CAST(count(*) AS DOUBLE) AS c
          FROM u GROUP BY 1, 2),
    e AS (SELECT doc_id, sum(c * ln(c)) AS sclc FROM c GROUP BY 1)
    SELECT t.doc_id, t.n_tok,
           round(ln(t.n_tok) - e.sclc / t.n_tok, 6) AS unigram_entropy,
           round(len(list_distinct(list_transform(
                     generate_series(1, t.n_tok - 1),
                     i -> CAST(tokens[i] AS BIGINT) * 4294967296
                          + CAST(tokens[i + 1] AS BIGINT))))
                 * 1.0 / (t.n_tok - 1), 6) AS bigram_distinct_ratio
    FROM t JOIN e ON t.doc_id = e.doc_id
    """,
)
def tokens_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token-distribution diversity (unigram entropy, bigram
    distinct ratio) — computed within-row via sorted-run counting, zero
    exchange; the oracle pays an explode+groupBy to agree on the values."""
    from mhealth_spark.tokens_engine import distribution_features

    out = distribution_features(_tokens_wide(spark))
    return out.select(
        "doc_id",
        "n_tok",
        F.round("unigram_entropy", 6).alias("unigram_entropy"),
        F.round("bigram_distinct_ratio", 6).alias("bigram_distinct_ratio"),
    )


@register(
    "tokens_repeat_flag",
    f"""
    WITH t AS (SELECT doc_id, writer_id, ts, n_tok,
                      md5(array_to_string(tokens, ',')) AS fp
               FROM {_TOKENS_DUCK})
    SELECT doc_id, writer_id, strftime(ts, '{_TS_FMT_DUCK}') AS ts_s, n_tok,
           fp,
           COALESCE(list_contains(
               list(fp) OVER (PARTITION BY writer_id ORDER BY ts, doc_id
                              ROWS BETWEEN 16 PRECEDING AND 1 PRECEDING),
               fp), false) AS is_repeat
    FROM t
    """,
)
def tokens_repeat_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-window consecutive-repeat flags (batch twin of the
    streaming near-dup guard). The synthetic table has no true repeats —
    the oracle still pins the full fingerprint chain (md5 parity feeds
    the output column); planted-repeat behavior is pytest-checked."""
    from mhealth_spark.tokens_engine import consecutive_repeat_flags

    out = consecutive_repeat_flags(_tokens(spark))
    return out.select(
        "doc_id",
        "writer_id",
        F.date_format("ts", _TS_FMT_SPARK).alias("ts_s"),
        "n_tok",
        "fp",
        "is_repeat",
    )


@register(
    "corpus_interleave",
    """
    WITH s AS (SELECT source,
                      row_number() OVER (ORDER BY source) - 1 AS src_idx,
                      count(*) OVER () AS n_src
               FROM (SELECT DISTINCT source FROM documents)),
    r AS (SELECT doc_id, source,
                 row_number() OVER (
                     PARTITION BY source
                     ORDER BY substring(md5(doc_id::VARCHAR || '#il0'), 1, 8),
                              doc_id) AS rn
          FROM documents)
    SELECT r.doc_id, r.source,
           CAST(r.rn AS BIGINT) AS rn_in_source,
           CAST((r.rn - 1) * s.n_src + s.src_idx AS BIGINT) AS interleave_key
    FROM r JOIN s USING (source)
    """,
)
def corpus_interleave(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic round-robin source interleaving (training order):
    sparse global ordering key, no driver-side global index."""
    from mhealth_spark.pipelines.corpus import interleave_sources

    out = interleave_sources(_docs(spark, sf_dir))
    return out.select("doc_id", "source", "rn_in_source", "interleave_key")


@register(
    "corpus_curriculum",
    f"""
    WITH ex AS (SELECT doc_id, source, unnest(tokens) AS token
                FROM {_TOKENS_DUCK}),
    c AS (SELECT token, count(*) AS c FROM ex GROUP BY 1),
    t AS (SELECT sum(c) AS total, count(*) AS vocab FROM c),
    p AS (SELECT token, ln((c + 0.5) / (total + 0.5 * vocab)) AS logp
          FROM c, t),
    s AS (SELECT ex.doc_id, ex.source, avg(p.logp) AS mean_logprob
          FROM ex JOIN p USING (token) GROUP BY 1, 2)
    SELECT doc_id, source, round(mean_logprob, 6) AS mean_logprob,
           CAST(ntile(4) OVER (PARTITION BY source
                ORDER BY round(mean_logprob, 9) DESC, doc_id) AS INT)
               AS curriculum_bucket
    FROM s
    """,
)
def corpus_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-curriculum buckets: per-source ntile(4) over the unigram-LM
    score — warm-up-on-clean-data training order."""
    from mhealth_spark.pipelines.corpus import (
        curriculum_buckets,
        unigram_logprob_scores,
    )

    tk = _tokens(spark)
    scores = unigram_logprob_scores(tk).join(
        tk.select("doc_id", "source"), "doc_id"
    )
    out = curriculum_buckets(scores)
    return out.select(
        "doc_id",
        "source",
        F.round("mean_logprob", 6).alias("mean_logprob"),
        "curriculum_bucket",
    )


_PQ_CB_SQL = """
    cbrows AS (
      SELECT row_number() OVER (
                 ORDER BY substring(md5(vec_id::VARCHAR || '#pq0'), 1, 8),
                          vec_id) - 1 AS j,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
      FROM embeddings
      ORDER BY substring(md5(vec_id::VARCHAR || '#pq0'), 1, 8), vec_id
      LIMIT 16),
    e AS (SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
          FROM embeddings),
    dists AS (
      SELECT e.vec_id, m.m, cbrows.j,
             round(list_sum(list_transform(generate_series(1, 8),
                   i -> (e.v[m.m * 8 + i] - cbrows.cv[m.m * 8 + i])
                      * (e.v[m.m * 8 + i] - cbrows.cv[m.m * 8 + i]))), 9) AS d
      FROM e, generate_series(0, 7) m(m), cbrows),
    best AS (
      SELECT vec_id, m, j, d,
             row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) AS rk
      FROM dists)
"""


@register(
    "ann_pq_codes",
    f"""
    WITH {_PQ_CB_SQL}
    SELECT vec_id, string_agg(j::VARCHAR, '-' ORDER BY m) AS codes_s
    FROM best WHERE rk = 1 GROUP BY vec_id
    """,
)
def ann_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encode: per-subspace argmin-L2 codes (M=8
    subspaces × 16 codes) against deterministic hash-seeded codebooks —
    map-only, codebooks as literals. The oracle re-derives the codebooks
    and codes in SQL from the same md5-draw rule."""
    from mhealth_spark.pipelines import similarity as sim

    emb = _emb(spark, sf_dir)
    cb = sim.pick_pq_codebooks(emb)
    out = sim.pq_encode(emb, cb)
    return out.select(
        "vec_id",
        F.concat_ws(
            "-", F.transform("codes", lambda c: c.cast("string"))
        ).alias("codes_s"),
    )


@register(
    "ann_pq_adc",
    f"""
    WITH {_PQ_CB_SQL},
    q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 20),
    lut AS (
      SELECT q.query_id, m.m, cbrows.j,
             round(list_sum(list_transform(generate_series(1, 8),
                   i -> (q.v[m.m * 8 + i] - cbrows.cv[m.m * 8 + i])
                      * (q.v[m.m * 8 + i] - cbrows.cv[m.m * 8 + i]))), 9) AS d
      FROM q, generate_series(0, 7) m(m), cbrows),
    adc AS (
      SELECT l.query_id, b.vec_id AS neighbor_id,
             sum(l.d ORDER BY l.m) AS adc
      FROM best b JOIN lut l ON l.m = b.m AND l.j = b.j
      WHERE b.rk = 1 AND b.vec_id <> l.query_id
      GROUP BY 1, 2),
    ranked AS (
      SELECT query_id, neighbor_id, adc,
             row_number() OVER (PARTITION BY query_id
                 ORDER BY round(adc, 9) ASC, neighbor_id) AS rank
      FROM adc)
    SELECT query_id, neighbor_id, adc AS adc_dist,
           CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-k: per-query M×16 lookup table, then
    every candidate costs M element_at lookups — the compressed-index
    serving path (compose with IVF to also bound candidates touched)."""
    from mhealth_spark.pipelines import similarity as sim

    emb = _emb(spark, sf_dir)
    cb = sim.pick_pq_codebooks(emb)
    enc = sim.pq_encode(emb, cb)
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = sim.pq_adc_topk(enc, cb, queries, k=5)
    return out.select(
        "query_id",
        "neighbor_id",
        "adc_dist",
        F.col("rank").cast("int").alias("rank"),
    )


_ANN_IVFPQ_SQL = """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                      substring(md5(vec_id::VARCHAR || '#ivf0'), 1, 8) AS hx
               FROM embeddings),
    cent AS (SELECT row_number() OVER (ORDER BY hx, vec_id) - 1 AS cid, v
             FROM e ORDER BY hx, vec_id LIMIT 16),
    assign AS (
      SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                  ORDER BY round(list_cosine_similarity(e.v, c.v), 9) DESC,
                           c.cid) AS rn
        FROM e CROSS JOIN cent c) WHERE rn = 1),
    res AS (
      SELECT a.vec_id, a.cid,
             list_transform(generate_series(1, 64),
                            i -> a.v[i] - c.v[i]) AS r
      FROM assign a JOIN cent c USING (cid)),
    cbrows AS (
      SELECT row_number() OVER (
                 ORDER BY substring(md5(vec_id::VARCHAR || '#pqr0'), 1, 8),
                          vec_id) - 1 AS j, r AS cv
      FROM res
      ORDER BY substring(md5(vec_id::VARCHAR || '#pqr0'), 1, 8), vec_id
      LIMIT 16),
    dists AS (
      SELECT res.vec_id, m.m, cbrows.j,
             round(list_sum(list_transform(generate_series(1, 8),
                   i -> (res.r[m.m * 8 + i] - cbrows.cv[m.m * 8 + i])
                      * (res.r[m.m * 8 + i] - cbrows.cv[m.m * 8 + i]))), 9) AS d
      FROM res, generate_series(0, 7) m(m), cbrows),
    best AS (
      SELECT vec_id, m, j, d,
             row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) AS rk
      FROM dists),
    q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 20),
    probes AS (
      SELECT query_id, qv, cid FROM (
        SELECT q.query_id, q.v AS qv, c.cid,
               row_number() OVER (PARTITION BY q.query_id
                  ORDER BY round(list_cosine_similarity(q.v, c.v), 9) DESC,
                           c.cid) AS rn
        FROM q CROSS JOIN cent c) WHERE rn <= 4),
    qres AS (
      SELECT p.query_id, p.cid,
             list_transform(generate_series(1, 64),
                            i -> p.qv[i] - c.v[i]) AS qr
      FROM probes p JOIN cent c USING (cid)),
    lut AS (
      SELECT s.query_id, s.cid, m.m, cbrows.j,
             round(list_sum(list_transform(generate_series(1, 8),
                   i -> (s.qr[m.m * 8 + i] - cbrows.cv[m.m * 8 + i])
                      * (s.qr[m.m * 8 + i] - cbrows.cv[m.m * 8 + i]))), 9) AS d
      FROM qres s, generate_series(0, 7) m(m), cbrows),
    adc AS (
      SELECT l.query_id, b.vec_id AS neighbor_id,
             sum(l.d ORDER BY l.m) AS adc
      FROM best b
      JOIN assign a ON a.vec_id = b.vec_id
      JOIN lut l ON l.cid = a.cid AND l.m = b.m AND l.j = b.j
      WHERE b.rk = 1 AND b.vec_id <> l.query_id
      GROUP BY 1, 2),
    ranked AS (
      SELECT query_id, neighbor_id, adc,
             row_number() OVER (PARTITION BY query_id
                 ORDER BY round(adc, 9) ASC, neighbor_id) AS rank
      FROM adc)
    SELECT query_id, neighbor_id, adc AS adc_dist,
           CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """


@register("ann_ivfpq_adc", _ANN_IVFPQ_SQL)
def ann_ivfpq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (IVFADC): coarse inverted lists bound what a query TOUCHES
    (probe 4 of 16 lists via the cid equi-join), residual PQ codes bound
    what each candidate COSTS (8 byte codes + 8 table lookups instead of
    64 floats). Residual codebooks are hash-seeded from the residual
    frame itself; the oracle re-derives assignment, residuals, codebooks,
    codes, per-probe LUTs, and ADC ranks entirely in SQL."""
    from mhealth_spark.pipelines import similarity as sim

    emb = _emb(spark, sf_dir)
    cents = sim.pick_centroids(emb, 16)
    res = sim.ivfpq_residuals(emb, cents)
    cb = sim.pick_pq_codebooks(res, vec_col="r", salt="pqr0")
    enc = sim.ivfpq_encode(res, cb)
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = sim.ann_ivfpq_adc(enc, cents, cb, queries, k=5, n_probe=4)
    return out.select(
        "query_id",
        "neighbor_id",
        "adc_dist",
        F.col("rank").cast("int").alias("rank"),
    )


@register(
    "corpus_dsir_weights",
    """
    WITH d AS (SELECT doc_id, (source IN ('src0', 'src1')) AS is_t,
                      list_filter(string_split_regex(text, '\\s+'),
                                  w -> w <> '') AS w
               FROM documents),
    f AS (SELECT doc_id, is_t,
                 list_concat(w, list_transform(generate_series(1, len(w) - 1),
                                               i -> w[i] || ' ' || w[i+1]))
                     AS feats
          FROM d),
    ex AS (SELECT doc_id, is_t,
                  CAST(CAST('0x' || substring(md5(ft || '#dsir0'), 1, 8)
                       AS BIGINT) % 256 AS INT) AS b
           FROM (SELECT doc_id, is_t, unnest(feats) AS ft FROM f)),
    hist AS (SELECT b, sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct,
                    count(*) AS cr
             FROM ex GROUP BY 1),
    tot AS (SELECT sum(ct) AS tt, sum(cr) AS rt FROM hist),
    lam AS (SELECT b, ln((ct + 0.5) / (tt + 0.5 * 256))
                    - ln((cr + 0.5) / (rt + 0.5 * 256)) AS l
            FROM hist, tot),
    sc AS (SELECT ex.doc_id, any_value(ex.is_t) AS is_target,
                  count(*) AS n_feats, sum(lam.l) / count(*) AS wgt
           FROM ex JOIN lam USING (b) GROUP BY 1)
    SELECT doc_id, is_target, CAST(n_feats AS BIGINT) AS n_feats,
           round(wgt, 6) AS dsir_weight
    FROM sc
    """,
)
def corpus_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023): hashed unigram+bigram
    n-gram buckets, target-vs-raw add-alpha log-ratio, map-only scoring
    with the 256-entry lambda table as a constant-folded literal — the
    corpus shuffles zero times (histogram groupBy is bucket-bounded)."""
    from mhealth_spark.pipelines.corpus import dsir_weights

    out = dsir_weights(_docs(spark, sf_dir), "source IN ('src0', 'src1')")
    return out.select(
        "doc_id",
        "is_target",
        "n_feats",
        F.round("dsir_weight", 6).alias("dsir_weight"),
    )


@register(
    "text_line_dedup",
    """
    WITH d AS (SELECT doc_id,
                      list_filter(string_split_regex(text, '\\s+'),
                                  w -> w <> '') AS w
               FROM documents),
    l0 AS (SELECT doc_id,
                  list_transform(
                      generate_series(1, greatest(
                          CAST(ceil(len(w) / 10.0) AS BIGINT), 1)),
                      i -> array_to_string(w[(i-1)*10+1:(i-1)*10+10], ' '))
                      AS lines
           FROM d),
    l1 AS (SELECT doc_id,
                  unnest(list_transform(generate_series(1, len(lines)),
                         i -> {'pos': i - 1, 'line': lines[i]})) AS pl
           FROM l0),
    l AS (SELECT doc_id, CAST(pl.pos AS INT) AS pos, pl.line AS line,
                 md5(lower(trim(pl.line))) AS h
          FROM l1),
    dup AS (SELECT h, min(doc_id) AS first_id
            FROM l GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
    m AS (SELECT l.doc_id, l.pos, l.line,
                 (dup.first_id IS NULL) AS keep
          FROM l LEFT JOIN dup USING (h))
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           md5(COALESCE(string_agg(line, chr(10) ORDER BY pos)
                            FILTER (WHERE keep), '')) AS clean_fp
    FROM m GROUP BY doc_id
    """,
)
def text_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet line-level dedup with reconstruction: the corpus has no
    newlines, so the query first wraps each doc into deterministic
    10-word lines (both engines identically), then drops every line
    whose normalized hash appears in >=2 distinct docs and rebuilds the
    cleaned text (fingerprinted for the compare)."""
    from mhealth_spark.pipelines.text import line_dedup

    docs = _docs(spark, sf_dir)
    w = F.filter(F.split("text", r"\s+"), lambda x: x != F.lit(""))
    wrapped = docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.transform(
                F.sequence(
                    F.lit(1),
                    F.greatest(
                        F.ceil(F.size(w) / 10.0).cast("int"), F.lit(1)
                    ),
                ),
                lambda i: F.concat_ws(
                    " ", F.slice(w, (i - F.lit(1)) * 10 + F.lit(1), F.lit(10))
                ),
            ),
        ).alias("text"),
    )
    out = line_dedup(wrapped, min_docs=2)
    return out.select(
        "doc_id",
        "n_lines",
        "n_kept",
        F.md5("text_clean").alias("clean_fp"),
    )


@register(
    "text_pretokenize",
    r"""
    WITH t AS (SELECT doc_id,
                      list_filter(
                          regexp_extract_all(text,
                              '''(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+'),
                          x -> trim(x) <> '') AS toks
               FROM documents)
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_pretokens,
           md5(array_to_string(toks, chr(31))) AS tok_fp
    FROM t
    """,
)
def text_pretokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-2-style regex pre-tokenization (the deterministic half of BPE):
    unit counts + an exact unit-sequence fingerprint, identical under
    Java and RE2 regex semantics (lookahead-free pattern)."""
    from mhealth_spark.pipelines.text import pretokenize

    out = pretokenize(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        "n_pretokens",
        F.md5(F.concat_ws("\u001f", "pretokens")).alias("tok_fp"),
    )


@register(
    "ann_kmeans_refine",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                      substring(md5(vec_id::VARCHAR || '#ivf0'), 1, 8) AS hx
               FROM embeddings),
    cent AS (SELECT row_number() OVER (ORDER BY hx, vec_id) - 1 AS cid, v
             FROM e ORDER BY hx, vec_id LIMIT 16),
    a0 AS (
      SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                  ORDER BY round(list_cosine_similarity(e.v, c.v), 9) DESC,
                           c.cid) AS rn
        FROM e CROSS JOIN cent c) WHERE rn = 1),
    dims AS (
      SELECT a0.cid, u.dim, avg(a0.v[u.dim]) AS mu
      FROM a0, (SELECT unnest(generate_series(1, 64)) AS dim) u
      GROUP BY 1, 2),
    cent1 AS (
      SELECT cid, list(mu ORDER BY dim) AS v FROM dims GROUP BY cid),
    a1 AS (
      SELECT vec_id, cid FROM (
        SELECT e.vec_id, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                  ORDER BY round(list_cosine_similarity(e.v, c.v), 9) DESC,
                           c.cid) AS rn
        FROM e CROSS JOIN cent1 c) WHERE rn = 1)
    SELECT a0.vec_id, CAST(a0.cid AS INT) AS cid_init,
           CAST(a1.cid AS INT) AS cid_refined
    FROM a0 JOIN a1 USING (vec_id)
    """,
)
def ann_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd iteration over the hash-seeded coarse quantizer:
    per-vector (initial, refined) list assignment. The refinement is a
    map pass + a k×d-bounded posexplode groupBy per iteration; every
    non-empty cluster's centroid moves to its members' per-dim mean.
    Oracle re-derives the iteration fully in SQL."""
    from mhealth_spark.pipelines import similarity as sim

    emb = _emb(spark, sf_dir)
    cents0 = sim.pick_centroids(emb, 16)
    cents1 = sim.lloyd_refine(emb, cents0, n_iters=1)
    a0 = sim.ivf_assign(emb, cents0).select(
        "vec_id", F.col("cid").alias("cid_init")
    )
    a1 = sim.ivf_assign(emb, cents1).select(
        "vec_id", F.col("cid").alias("cid_refined")
    )
    return a0.join(a1, "vec_id").select(
        "vec_id",
        F.col("cid_init").cast("int").alias("cid_init"),
        F.col("cid_refined").cast("int").alias("cid_refined"),
    )


@register(
    "corpus_chunk_windows",
    """
    WITH d AS (SELECT doc_id,
                      list_filter(string_split_regex(text, '\\s+'),
                                  w -> w <> '') AS w
               FROM documents),
    c0 AS (SELECT doc_id, w,
                  CAST(ceil(greatest(len(w) - 64, 0) / 48.0) AS INT) + 1 AS nc
           FROM d),
    c1 AS (SELECT doc_id,
                  unnest(list_transform(generate_series(0, nc - 1),
                         k -> {'chunk_id': k, 'start_word': k * 48,
                               'cw': w[k*48+1 : k*48+64]})) AS c
           FROM c0)
    SELECT doc_id,
           CAST(c.chunk_id AS INT) AS chunk_id,
           CAST(c.start_word AS INT) AS start_word,
           CAST(len(c.cw) AS BIGINT) AS n_words,
           md5(array_to_string(c.cw, ' ')) AS chunk_fp
    FROM c1 WHERE len(c.cw) > 0
    """,
)
def corpus_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG chunking: overlapping 64-word windows every 48 words (16-word
    overlap), one slice per chunk at explode time, fingerprint hashed on
    the exploded column in codegen. Pure map + explode, no shuffle."""
    from mhealth_spark.pipelines.corpus import chunk_windows

    out = chunk_windows(_docs(spark, sf_dir), window=64, stride=48)
    return out.select(
        "doc_id",
        F.col("chunk_id").cast("int").alias("chunk_id"),
        F.col("start_word").cast("int").alias("start_word"),
        "n_words",
        F.md5("chunk_text").alias("chunk_fp"),
    )


@register(
    "corpus_source_stats",
    """
    WITH d AS (SELECT doc_id, source,
                      list_filter(string_split_regex(text, '\\s+'),
                                  w -> w <> '') AS w
               FROM documents),
    ex AS (SELECT doc_id, source, unnest(w) AS word FROM d)
    SELECT source,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_words,
           CAST(count(DISTINCT word) AS BIGINT) AS vocab,
           round(count(DISTINCT word) / CAST(count(*) AS DOUBLE), 6)
               AS type_token_ratio
    FROM ex GROUP BY source
    """,
)
def corpus_source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation stats: docs, words, vocabulary size,
    type-token ratio (low TTR flags templated/boilerplate-heavy
    sources). One explode + a single groupBy with two-phase distinct
    aggregates — Spark expands the multi-distinct into partial
    aggregations; shuffle stays (source × vocab)-bounded, never a
    per-source list."""
    docs = _docs(spark, sf_dir)
    w = F.filter(F.split("text", r"\s+"), lambda x: x != F.lit(""))
    ex = docs.select("doc_id", "source", F.explode(w).alias("word"))
    return ex.groupBy("source").agg(
        F.count_distinct("doc_id").cast("long").alias("n_docs"),
        F.count("*").cast("long").alias("n_words"),
        F.count_distinct("word").cast("long").alias("vocab"),
        F.round(
            F.count_distinct("word") / F.count("*").cast("double"), 6
        ).alias("type_token_ratio"),
    )


@register("ann_ivfpq_probe", _ANN_IVFPQ_SQL)
def ann_ivfpq_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ serving split: the PQ-encoded inverted file (vec_id, cid,
    codes — M bytes of payload per vector) is WRITTEN partitioned by cid
    and probed from disk, so a query batch's selective cid set reaches
    the index scan as a dynamic partition filter and reads
    n_probe/n_centroids of an index that is already ~d·4/M× smaller
    than the raw vectors. Same oracle as ann_ivfpq_adc:
    probe-of-persisted == fused."""
    import hashlib
    import os

    emb = _emb(spark, sf_dir)
    cents = similarity.pick_centroids(emb, 16)
    res = similarity.ivfpq_residuals(emb, cents)
    cb = similarity.pick_pq_codebooks(res, vec_col="r", salt="pqr0")
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    path = f"/tmp/mhealth_spark_ivfpq_index_{tag}"
    # deterministic rebuild per sf_dir; at 100 TB this write happens once
    # at ingest, not per query batch. Cluster by cid before the
    # partitioned write (guide §6 small-files — see ann_ivf_probe)
    similarity.ivfpq_encode(res, cb).repartition("cid").write.mode(
        "overwrite"
    ).partitionBy("cid").parquet(path)
    enc = spark.read.parquet(path)
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = similarity.ann_ivfpq_adc(enc, cents, cb, queries, k=5, n_probe=4)
    return out.select(
        "query_id",
        "neighbor_id",
        "adc_dist",
        F.col("rank").cast("int").alias("rank"),
    )


@register(
    "similarity_outliers",
    """
    WITH j AS (SELECT e.vec_id, d.source,
                      list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
    ex AS (SELECT source, i - 1 AS dim, v[i] AS x
           FROM j, unnest(generate_series(1, len(v))) AS t(i)),
    cd AS (SELECT source, dim, round(avg(x), 12) AS m FROM ex GROUP BY 1, 2),
    cent AS (SELECT source, list(m ORDER BY dim) AS c FROM cd GROUP BY 1),
    sc AS (SELECT j.vec_id, j.source,
                  round(
                    list_sum(list_transform(generate_series(1, len(j.v)),
                             i -> j.v[i] * cent.c[i]))
                    / (sqrt(list_sum(list_transform(generate_series(1, len(j.v)),
                              i -> j.v[i] * j.v[i])))
                       * sqrt(list_sum(list_transform(generate_series(1, len(cent.c)),
                              i -> cent.c[i] * cent.c[i])))), 9) AS ccos
           FROM j JOIN cent USING (source)),
    st AS (SELECT source, avg(ccos) AS mu, stddev_pop(ccos) AS sd
           FROM sc GROUP BY 1)
    SELECT sc.vec_id, sc.source,
           ccos AS centroid_cos,
           round(CASE WHEN sd > 0 THEN (ccos - mu) / sd END, 6) AS affinity_z,
           (sd > 0 AND (ccos - mu) / sd < -3.0) AS is_outlier
    FROM sc JOIN st USING (source)
    """,
)
def similarity_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier detection: per-vector cosine affinity to
    its own source's centroid, within-source z-score, outlier flag at
    z < -3 — the data-quality pass that catches mislabeled/off-domain
    docs before curation statistics ingest them."""
    from mhealth_spark.pipelines.similarity import embedding_outliers

    emb = _emb(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", "source")
    out = embedding_outliers(emb, docs)
    # centroid_cos is already the 9-dp-rounded fold value, bit-identical
    # in both engines; re-rounding a 9-dp decimal to 6 dp lands on exact
    # .5 boundaries where Spark's BigDecimal HALF_UP and a float-path
    # round() disagree by 1 ulp — so it is emitted as-is
    return out.select(
        "vec_id",
        "source",
        "centroid_cos",
        F.round("affinity_z", 6).alias("affinity_z"),
        "is_outlier",
    )


@register(
    "corpus_bigram_logprob",
    f"""
    WITH t AS (SELECT doc_id, tokens FROM {_TOKENS_DUCK}),
    ex AS (SELECT doc_id,
                  unnest(list_transform(generate_series(1, len(tokens) - 1),
                         i -> CAST(tokens[i] AS BIGINT) * 4294967296
                            + CAST(tokens[i+1] AS BIGINT))) AS pair
           FROM t WHERE len(tokens) >= 2),
    c2 AS (SELECT pair, count(*) AS c2 FROM ex GROUP BY 1),
    ex1 AS (SELECT unnest(tokens) AS tok FROM t),
    c1 AS (SELECT tok, count(*) AS c1 FROM ex1 GROUP BY 1),
    v AS (SELECT count(*) AS vocab FROM c1),
    p AS (SELECT c2.pair,
                 ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * v.vocab)) AS logp
          FROM c2
          JOIN c1 ON c1.tok = c2.pair // 4294967296, v)
    SELECT ex.doc_id,
           round(avg(p.logp), 6) AS mean_bigram_logprob,
           CAST(count(*) AS BIGINT) AS n_bigrams
    FROM ex JOIN p USING (pair)
    GROUP BY 1
    """,
)
def corpus_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM quality score: mean conditional token log-prob under
    the corpus's own add-alpha bigram model. Pairs packed into one long
    (fixed-width join keys); counting bounded by the bigram vocabulary;
    probability table broadcast to the scoring join."""
    from mhealth_spark.pipelines.corpus import bigram_logprob_scores

    out = bigram_logprob_scores(_tokens_wide(spark))
    return out.select(
        "doc_id",
        F.round("mean_bigram_logprob", 6).alias("mean_bigram_logprob"),
        "n_bigrams",
    )


@register(
    "corpus_quality_quantiles",
    f"""
    WITH ex AS (SELECT doc_id, unnest(tokens) AS token FROM {_TOKENS_DUCK}),
    c AS (SELECT token, count(*) AS c FROM ex GROUP BY 1),
    t AS (SELECT sum(c) AS total, count(*) AS vocab FROM c),
    p AS (SELECT token, ln((c + 0.5) / (total + 0.5 * vocab)) AS logp
          FROM c, t),
    sc AS (SELECT ex.doc_id, avg(p.logp) AS s
           FROM ex JOIN p USING (token) GROUP BY 1),
    j AS (SELECT d.source, sc.s
          FROM sc JOIN {_TOKENS_DUCK} d ON d.doc_id = sc.doc_id)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           round(quantile_cont(s, 0.1), 6) AS p10,
           round(quantile_cont(s, 0.5), 6) AS p50,
           round(quantile_cont(s, 0.9), 6) AS p90
    FROM j GROUP BY source
    """,
)
def corpus_quality_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source EXACT quantiles of the unigram-LM quality score — the
    adaptive-threshold tier: filters set per-domain cutoffs from these
    instead of one global constant (domains differ in intrinsic
    perplexity). Spark's exact `percentile` and DuckDB's quantile_cont
    share linear interpolation bit-for-bit (verified); the aggregate
    shuffles score rows once on the source key. At 100 TB swap in
    percentile_approx with a documented error bound — same plan shape."""
    from mhealth_spark.pipelines.corpus import unigram_logprob_scores

    toks = _tokens(spark)
    scores = unigram_logprob_scores(toks).select(
        "doc_id", F.col("mean_logprob").alias("s")
    )
    j = scores.join(toks.select("doc_id", "source"), "doc_id")
    return j.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.expr("percentile(s, 0.1)"), 6).alias("p10"),
        F.round(F.expr("percentile(s, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(s, 0.9)"), 6).alias("p90"),
    )


@register(
    "text_winnow_fingerprints",
    """
    WITH d AS (SELECT doc_id,
                      list_filter(string_split_regex(text, '\\s+'),
                                  w -> w <> '') AS w
               FROM documents),
    g AS (SELECT doc_id,
                 unnest(list_transform(
                     generate_series(1, greatest(len(w) - 4, 1)),
                     i -> {'pos': i - 1,
                           'gram': array_to_string(w[i:i+4], ' ')})) AS t
          FROM d),
    l AS (SELECT doc_id, CAST(t.pos AS INT) AS pos, md5(t.gram) AS h
          FROM g WHERE t.gram <> ''),
    k AS (SELECT doc_id, pos,
                 h || '#' || lpad(CAST(1000000000 - pos AS VARCHAR), 10, '0')
                     AS key,
                 count(*) OVER (PARTITION BY doc_id) AS n
          FROM l),
    s AS (SELECT doc_id, pos, n,
                 min(key) OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
          FROM k)
    SELECT DISTINCT doc_id,
           substring(sel, 1, 32) AS h,
           CAST(1000000000 - CAST(substring(sel, 34, 10) AS BIGINT) AS INT)
               AS pos
    FROM s WHERE pos <= n - 4 OR pos = 0
    """,
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprint selection: rightmost minimum of each
    4-window of word 5-gram hashes via one engine-portable encoded sort
    key; density ~2/(w+1) with the shared-run detection guarantee."""
    from mhealth_spark.pipelines.text import winnow_fingerprints

    return winnow_fingerprints(_docs(spark, sf_dir), k=5, w=4)


_WINNOW_PAIRS_SQL = """
    WITH d AS (SELECT doc_id,
                      list_filter(string_split_regex(text, '\\s+'),
                                  w -> w <> '') AS w
               FROM documents),
    g AS (SELECT doc_id,
                 unnest(list_transform(
                     generate_series(1, greatest(len(w) - 4, 1)),
                     i -> {'pos': i - 1,
                           'gram': array_to_string(w[i:i+4], ' ')})) AS t
          FROM d),
    l AS (SELECT doc_id, CAST(t.pos AS INT) AS pos, md5(t.gram) AS h
          FROM g WHERE t.gram <> ''),
    kk AS (SELECT doc_id, pos,
                  h || '#' || lpad(CAST(1000000000 - pos AS VARCHAR), 10, '0')
                      AS key,
                  count(*) OVER (PARTITION BY doc_id) AS n
           FROM l),
    s AS (SELECT doc_id, pos, n,
                 min(key) OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel
          FROM kk),
    fp AS (SELECT DISTINCT doc_id, substring(sel, 1, 32) AS h
           FROM s WHERE pos <= n - 4 OR pos = 0),
    capped AS (SELECT fp.doc_id, fp.h
               FROM fp JOIN (SELECT h, count(*) AS df FROM fp GROUP BY 1) f
                 ON f.h = fp.h AND f.df <= 64)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM capped a JOIN capped b ON a.h = b.h AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 2
    """


@register("dedup_winnow_pairs", _WINNOW_PAIRS_SQL)
def dedup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS detection: candidate pairs sharing >= 2 winnowing
    fingerprints, with the stop-fingerprint DF cap bounding per-hash
    join fan-out before the self-join."""
    from mhealth_spark.pipelines.dedup import winnow_pairs

    return winnow_pairs(_docs(spark, sf_dir))


@register(
    "text_boilerplate_ngrams",
    f"""
    WITH d AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    g AS (SELECT doc_id,
                 unnest(list_distinct(list_transform(
                     generate_series(1, greatest(len(w) - 4, 1)),
                     i -> array_to_string(w[i:i+4], ' ')))) AS gram
          FROM d),
    c AS (SELECT gram, count(*) AS doc_freq FROM g WHERE gram <> ''
          GROUP BY 1),
    r AS (SELECT gram, doc_freq,
                 row_number() OVER (ORDER BY doc_freq DESC, gram) AS rk
          FROM c)
    SELECT gram, CAST(doc_freq AS BIGINT) AS doc_freq,
           CAST(rk AS INT) AS rk
    FROM r WHERE rk <= 50
    """,
)
def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate mining: the 50 word 5-grams appearing in the most
    documents — the candidate list a template-stripping pass (or the
    span/line dedup min_docs threshold) is tuned from. Distinct shingles
    per doc (doc frequency, not raw count), one vocab-bounded groupBy,
    then a top-k window over the AGGREGATED frame only. At 100 TB the
    global rank runs on the collapsed (gram, doc_freq) table — orders of
    magnitude smaller than the corpus; ties break lexically so the
    ranking is total."""
    from mhealth_spark.pipelines.text import shingles_col

    docs = _docs(spark, sf_dir)
    g = docs.select(
        "doc_id", F.explode(shingles_col("text", 5)).alias("gram")
    ).filter(F.col("gram") != "")
    c = g.groupBy("gram").agg(F.count("*").cast("long").alias("doc_freq"))
    # top-k via orderBy().limit() — per-partition top-n + one small
    # reduce (TakeOrderedAndProject), NOT a global single-partition
    # window over the full gram table; the rank window then runs over
    # the 50 surviving rows only
    top = c.orderBy(F.col("doc_freq").desc(), "gram").limit(50)
    w = Window.orderBy(F.col("doc_freq").desc(), "gram")
    return top.withColumn("rk", F.row_number().over(w).cast("int")).select(
        "gram", "doc_freq", "rk"
    )


@register(
    "dedup_winnow_components",
    f"""
    WITH RECURSIVE wp AS ({_WINNOW_PAIRS_SQL}),
    e AS (SELECT id_a AS a, id_b AS b FROM wp
          UNION SELECT id_b, id_a FROM wp),
    walk(node, reach) AS (
      SELECT a, a FROM e
      UNION
      SELECT w.node, e.b FROM walk w JOIN e ON w.reach = e.a)
    SELECT node AS doc_id, min(reach) AS cluster_id
    FROM walk GROUP BY node
    """,
)
def dedup_winnow_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete MOSS dedup chain: winnowing sketch -> shared-
    fingerprint pairs -> connected components (iterative min-label
    propagation vs the DuckDB recursive-CTE transitive closure). The
    pair graph is sketch-derived, so the clustering input is already
    ~2/(w+1) the size of a full-shingle pair graph."""
    from mhealth_spark.pipelines.dedup import neardup_components, winnow_pairs

    pairs = winnow_pairs(_docs(spark, sf_dir)).select("id_a", "id_b")
    return neardup_components(pairs)


@register(
    "ann_ivfpq_refined",
    """
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                      substring(md5(vec_id::VARCHAR || '#ivf0'), 1, 8) AS hx
               FROM embeddings),
    cent0 AS (SELECT row_number() OVER (ORDER BY hx, vec_id) - 1 AS cid, v
              FROM e ORDER BY hx, vec_id LIMIT 16),
    a0 AS (
      SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                  ORDER BY round(list_cosine_similarity(e.v, c.v), 9) DESC,
                           c.cid) AS rn
        FROM e CROSS JOIN cent0 c) WHERE rn = 1),
    dims AS (
      SELECT a0.cid, u.dim, avg(a0.v[u.dim]) AS mu
      FROM a0, (SELECT unnest(generate_series(1, 64)) AS dim) u
      GROUP BY 1, 2),
    cent AS (SELECT cid, list(mu ORDER BY dim) AS v FROM dims GROUP BY cid),
    assign AS (
      SELECT vec_id, v, cid FROM (
        SELECT e.vec_id, e.v, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                  ORDER BY round(list_cosine_similarity(e.v, c.v), 9) DESC,
                           c.cid) AS rn
        FROM e CROSS JOIN cent c) WHERE rn = 1),
    res AS (
      SELECT a.vec_id, a.cid,
             list_transform(generate_series(1, 64),
                            i -> a.v[i] - c.v[i]) AS r
      FROM assign a JOIN cent c USING (cid)),
    cbrows AS (
      SELECT row_number() OVER (
                 ORDER BY substring(md5(vec_id::VARCHAR || '#pqr1'), 1, 8),
                          vec_id) - 1 AS j, r AS cv
      FROM res
      ORDER BY substring(md5(vec_id::VARCHAR || '#pqr1'), 1, 8), vec_id
      LIMIT 16),
    dists AS (
      SELECT res.vec_id, m.m, cbrows.j,
             round(list_sum(list_transform(generate_series(1, 8),
                   i -> (res.r[m.m * 8 + i] - cbrows.cv[m.m * 8 + i])
                      * (res.r[m.m * 8 + i] - cbrows.cv[m.m * 8 + i]))), 9) AS d
      FROM res, generate_series(0, 7) m(m), cbrows),
    best AS (
      SELECT vec_id, m, j, d,
             row_number() OVER (PARTITION BY vec_id, m ORDER BY d, j) AS rk
      FROM dists),
    q AS (SELECT vec_id AS query_id, v FROM e WHERE vec_id < 20),
    probes AS (
      SELECT query_id, qv, cid FROM (
        SELECT q.query_id, q.v AS qv, c.cid,
               row_number() OVER (PARTITION BY q.query_id
                  ORDER BY round(list_cosine_similarity(q.v, c.v), 9) DESC,
                           c.cid) AS rn
        FROM q CROSS JOIN cent c) WHERE rn <= 4),
    qres AS (
      SELECT p.query_id, p.cid,
             list_transform(generate_series(1, 64),
                            i -> p.qv[i] - c.v[i]) AS qr
      FROM probes p JOIN cent c USING (cid)),
    lut AS (
      SELECT s.query_id, s.cid, m.m, cbrows.j,
             round(list_sum(list_transform(generate_series(1, 8),
                   i -> (s.qr[m.m * 8 + i] - cbrows.cv[m.m * 8 + i])
                      * (s.qr[m.m * 8 + i] - cbrows.cv[m.m * 8 + i]))), 9) AS d
      FROM qres s, generate_series(0, 7) m(m), cbrows),
    adc AS (
      SELECT l.query_id, b.vec_id AS neighbor_id,
             sum(l.d ORDER BY l.m) AS adc
      FROM best b
      JOIN assign a ON a.vec_id = b.vec_id
      JOIN lut l ON l.cid = a.cid AND l.m = b.m AND l.j = b.j
      WHERE b.rk = 1 AND b.vec_id <> l.query_id
      GROUP BY 1, 2),
    ranked AS (
      SELECT query_id, neighbor_id, adc,
             row_number() OVER (PARTITION BY query_id
                 ORDER BY round(adc, 9) ASC, neighbor_id) AS rank
      FROM adc)
    SELECT query_id, neighbor_id, adc AS adc_dist,
           CAST(rank AS INT) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def ann_ivfpq_refined(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The fully TRAINED production index: one Lloyd iteration refines
    the coarse quantizer (lloyd_refine), then residual PQ codebooks are
    hash-seeded from the refined residual frame (salt pqr1 — a distinct
    draw from the unrefined tier) and serving runs the standard IVFADC
    probe. Composes ann_kmeans_refine + ann_ivfpq_adc end-to-end; the
    oracle re-derives the entire trained pipeline in SQL."""
    from mhealth_spark.pipelines import similarity as sim

    emb = _emb(spark, sf_dir)
    cents0 = sim.pick_centroids(emb, 16)
    cents = sim.lloyd_refine(emb, cents0, n_iters=1)
    res = sim.ivfpq_residuals(emb, cents)
    cb = sim.pick_pq_codebooks(res, vec_col="r", salt="pqr1")
    enc = sim.ivfpq_encode(res, cb)
    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = sim.ann_ivfpq_adc(enc, cents, cb, queries, k=5, n_probe=4)
    return out.select(
        "query_id",
        "neighbor_id",
        "adc_dist",
        F.col("rank").cast("int").alias("rank"),
    )


@register(
    "corpus_pack_efficiency",
    f"""
    WITH t AS (SELECT doc_id, source, ts, n_tok FROM {_TOKENS_DUCK}),
    c AS (SELECT doc_id, source, n_tok,
                 COALESCE(sum(n_tok) OVER (PARTITION BY source
                          ORDER BY ts, doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                          0) AS prev_cum
          FROM t),
    p AS (SELECT source, CAST(floor(prev_cum / 2048) AS BIGINT) AS pack_id,
                 sum(n_tok) AS fill, count(*) AS n_docs
          FROM c GROUP BY 1, 2),
    lastpack AS (SELECT source, max(pack_id) AS last_id FROM p GROUP BY 1)
    SELECT p.source,
           CAST(count(*) AS BIGINT) AS n_packs,
           CAST(sum(p.fill) AS BIGINT) AS total_tokens,
           CAST(sum(p.n_docs) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN p.pack_id <> l.last_id
                         AND p.fill < 2048
                    THEN 2048 - p.fill ELSE 0 END) AS BIGINT)
               AS underfill_tokens,
           CAST(sum(CASE WHEN p.fill > 2048
                    THEN p.fill - 2048 ELSE 0 END) AS BIGINT)
               AS overflow_tokens
    FROM p JOIN lastpack l USING (source)
    GROUP BY 1
    """,
)
def corpus_pack_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency audit per source: pack counts, total tokens,
    underfill (non-final packs short of the budget — padding a
    concat-and-cut pipeline would burn) and overflow (the chunked
    packer's documented may-overflow-by-one-doc slack). The numbers
    that decide between the chunked and strict-greedy packers for a
    given corpus. Two bounded aggregates over the pack assignment —
    packs, then sources."""
    from mhealth_spark.pipelines.corpus import pack_sequences_chunked

    toks = _tokens(spark)
    packs = (
        pack_sequences_chunked(toks, budget=2048)
        .groupBy("source", "pack_id")
        .agg(F.sum("n_tok").alias("fill"), F.count("*").alias("n_docs"))
    )
    last = packs.groupBy("source").agg(F.max("pack_id").alias("last_id"))
    return (
        packs.join(last, "source")
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_packs"),
            F.sum("fill").cast("long").alias("total_tokens"),
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum(
                F.when(
                    (F.col("pack_id") != F.col("last_id"))
                    & (F.col("fill") < 2048),
                    2048 - F.col("fill"),
                ).otherwise(0)
            ).cast("long").alias("underfill_tokens"),
            F.sum(
                F.when(F.col("fill") > 2048, F.col("fill") - 2048).otherwise(0)
            ).cast("long").alias("overflow_tokens"),
        )
    )


@register(
    "corpus_contamination_provenance",
    f"""
    WITH d AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    sh AS (SELECT doc_id, {_SHINGLES_SQL} AS s FROM d WHERE len(w) > 0),
    ex AS (SELECT doc_id, unnest(s) AS g FROM sh),
    bench AS (SELECT DISTINCT doc_id AS bench_id, g FROM ex
              WHERE doc_id % 10 = 0),
    corpus AS (SELECT doc_id, g FROM ex WHERE doc_id % 10 <> 0)
    SELECT c.doc_id, b.bench_id,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM corpus c JOIN bench b USING (g)
    GROUP BY 1, 2
    """,
)
def corpus_contamination_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination provenance: (corpus doc, benchmark doc, shared
    shingles) — which eval item leaked into which training doc. The
    benchmark (bench_id, shingle) table broadcasts; pair aggregate
    bounded by actual contamination."""
    from mhealth_spark.pipelines.corpus import contamination_provenance

    docs = _docs(spark, sf_dir)
    return contamination_provenance(
        docs.filter(F.col("doc_id") % 10 != 0),
        docs.filter(F.col("doc_id") % 10 == 0),
    )


# ---------------------------------------------------------------------------
# BPE vocabulary learning (pipelines/bpe.py). Runs on a 256-vocab variant
# of the synthetic tokens table so adjacent pairs actually repeat.
# ---------------------------------------------------------------------------
_BPE_PARQUET = f"{TOKENS_CACHE_DIR}/tokens_n3000_seed42_v256.parquet"
_BPE_DUCK = f"read_parquet('{_BPE_PARQUET}/*.parquet')"
_BPE_NEW_ID = 256  # first fresh id above the 256-token vocab


def _bpe_tokens(spark: SparkSession) -> DataFrame:
    from mhealth_spark.synth import materialize_synth_tokens

    path = materialize_synth_tokens(spark, 3000, seed=42, vocab=256)
    # same single-row-group reshuffle rationale as _docs
    return spark.read.parquet(path).repartition(
        spark.sparkContext.defaultParallelism
    )


def _bpe_apply_sql(src: str, top: str, out: str, new_id: int, k: int) -> str:
    """One BPE merge-apply step as DuckDB CTEs: greedy left-to-right
    non-overlap selection via gaps-and-islands run parity (a run of
    consecutive match positions alternates select/skip from its head —
    exactly the greedy scan's choice)."""
    return f"""
    e{k} AS (SELECT doc_id, j, tokens[j] AS v,
                    COALESCE(tokens[j] = (SELECT a FROM {top})
                             AND tokens[j+1] = (SELECT b FROM {top}),
                             FALSE) AS m
             FROM {src},
                  LATERAL (SELECT unnest(generate_series(1, len(tokens))) AS j)),
    g{k} AS (SELECT *, count(*) FILTER (WHERE NOT m)
                        OVER (PARTITION BY doc_id ORDER BY j) AS grp
             FROM e{k}),
    x{k} AS (SELECT *, CASE WHEN m THEN
                    (row_number() OVER (PARTITION BY doc_id, grp, m ORDER BY j)
                     % 2 = 1)
                  ELSE FALSE END AS sel
             FROM g{k}),
    p{k} AS (SELECT doc_id, j,
                    CASE WHEN sel THEN {new_id} ELSE v END AS v2,
                    lag(sel, 1, FALSE)
                        OVER (PARTITION BY doc_id ORDER BY j) AS prev_sel
             FROM x{k}),
    {out} AS (SELECT doc_id, list(CAST(v2 AS INT) ORDER BY j) AS tokens
              FROM p{k} WHERE NOT prev_sel GROUP BY doc_id)"""


def _bpe_count_sql(src: str, cte: str, k: int) -> str:
    return f"""
    pc{k} AS (SELECT tokens[j] AS a, tokens[j+1] AS b,
                     CAST(count(*) AS BIGINT) AS cnt
              FROM {src},
                   LATERAL (SELECT unnest(generate_series(1, len(tokens) - 1))
                            AS j)
              WHERE len(tokens) >= 2 GROUP BY 1, 2),
    {cte} AS (SELECT CAST(a AS INT) AS a, CAST(b AS INT) AS b, cnt
              FROM pc{k} ORDER BY cnt DESC, a, b LIMIT 1)"""


def _bpe_learn_sql(n_steps: int, start_id: int) -> str:
    parts = [f"s1 AS (SELECT doc_id, tokens FROM {_BPE_DUCK})"]
    finals = []
    for k in range(1, n_steps + 1):
        nid = start_id + k - 1
        parts.append(_bpe_count_sql(f"s{k}", f"top{k}", k))
        parts.append(_bpe_apply_sql(f"s{k}", f"top{k}", f"s{k + 1}", nid, k))
        finals.append(
            f"SELECT {k} AS step, a, b, {nid} AS new_id, cnt FROM top{k}"
        )
    union = " UNION ALL ".join(finals)
    return (
        "WITH " + ",".join(parts)
        + f" SELECT CAST(step AS INT) AS step, a, b,"
        f" CAST(new_id AS INT) AS new_id, cnt FROM ({union}) ORDER BY step"
    )


@register(
    "corpus_bpe_top_pairs",
    f"""
    WITH t AS (SELECT tokens FROM {_BPE_DUCK}),
    p AS (SELECT tokens[j] AS a, tokens[j+1] AS b
          FROM t, LATERAL (SELECT unnest(generate_series(1, len(tokens) - 1))
                           AS j)
          WHERE len(tokens) >= 2),
    c AS (SELECT a, b, CAST(count(*) AS BIGINT) AS cnt FROM p GROUP BY a, b)
    SELECT CAST(row_number() OVER (ORDER BY cnt DESC, a, b) AS INT) AS rank,
           CAST(a AS INT) AS a, CAST(b AS INT) AS b, cnt
    FROM c ORDER BY cnt DESC, a, b LIMIT 20
    """,
)
def corpus_bpe_top_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 BPE merge candidates over the 256-vocab tokens table:
    packed-long pair explode, map-side-combined count, totally ordered
    argmax (cnt DESC, a, b) so ranks are layout-independent."""
    from mhealth_spark.pipelines import bpe

    return bpe.top_pairs(_bpe_tokens(spark), 20)


@register(
    "corpus_bpe_merge_apply",
    "WITH s1 AS (SELECT doc_id, tokens FROM " + _BPE_DUCK + "),"
    + _bpe_count_sql("s1", "top1", 1)
    + ","
    + _bpe_apply_sql("s1", "top1", "o1", _BPE_NEW_ID, 1)
    + """
    SELECT s1.doc_id, CAST(len(s1.tokens) AS INT) AS n_before,
           CAST(len(o1.tokens) AS INT) AS n_after,
           array_to_string(o1.tokens, ',') AS tokens
    FROM s1 JOIN o1 USING (doc_id)
    """,
)
def corpus_bpe_merge_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One corpus-wide BPE merge: argmax pair (one-row collect after
    partial agg) then the zero-shuffle greedy rewrite; full token-array
    parity vs the oracle's window-parity formulation.

    ``bpe.apply_merge`` returns ``tokens array<int>``; the registered
    query serializes it to a comma-joined string because the driver's
    oracle canonicalizer sorts rows over all columns and cannot hash
    list-typed cells (round-4 red row — same class as
    ``dedup_span_mask``'s round-3 fix)."""
    from mhealth_spark.pipelines import bpe

    base = _bpe_tokens(spark).withColumn(
        "n_before", F.size("tokens").cast("int")
    )
    top = bpe.top_pairs(base, 1).collect()[0]
    out = bpe.apply_merge(base, top["a"], top["b"], _BPE_NEW_ID)
    return out.select(
        "doc_id",
        "n_before",
        F.size("tokens").cast("int").alias("n_after"),
        F.array_join(F.col("tokens").cast("array<string>"), ",").alias(
            "tokens"
        ),
    )


@register("corpus_bpe_learn", _bpe_learn_sql(3, _BPE_NEW_ID))
def corpus_bpe_learn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three rounds of the BPE training loop (count -> argmax -> greedy
    apply); returns the learned merge table. The oracle replays the
    identical loop as three generated CTE stages."""
    from mhealth_spark.pipelines import bpe

    merges, _ = bpe.learn_bpe(_bpe_tokens(spark), 3, _BPE_NEW_ID)
    return spark.createDataFrame(
        merges, "step int, a int, b int, new_id int, cnt long"
    )


# ---------------------------------------------------------------------------
# Content-defined chunking dedup (pipelines/dedup.py cdc_*)
# ---------------------------------------------------------------------------
_CDC_SQL = f"""
    d AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    cex AS (SELECT doc_id, j - 1 AS i, w[j] AS word
            FROM d, LATERAL (SELECT unnest(generate_series(1, len(w))) AS j)
            WHERE len(w) >= 1),
    csh AS (SELECT *, array_to_string(list(word) OVER
                (PARTITION BY doc_id ORDER BY i
                 ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), chr(31)) AS win
            FROM cex),
    cbn AS (SELECT *, (i >= 3 AND substring(md5(win), 1, 1) = '0') AS b
            FROM csh),
    cck AS (SELECT *, COALESCE(CAST(sum(CASE WHEN b THEN 1 ELSE 0 END) OVER
                (PARTITION BY doc_id ORDER BY i
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS INT),
                0) AS chunk_id
            FROM cbn),
    chunks AS (SELECT doc_id, chunk_id,
                      md5(string_agg(word, chr(31) ORDER BY i)) AS chunk_hash,
                      CAST(count(*) AS INT) AS n_words
               FROM cck GROUP BY doc_id, chunk_id)"""


@register(
    "dedup_cdc_chunks",
    f"WITH {_CDC_SQL} SELECT doc_id, chunk_id, chunk_hash, n_words FROM chunks",
)
def dedup_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunk table: boundaries from the md5 of the
    trailing 4-word shingle (rate 1/16), so chunking resynchronizes
    after insertions — the rsync/LBFS property fixed-stride spans lack."""
    from mhealth_spark.pipelines.dedup import cdc_chunks

    return cdc_chunks(_docs(spark, sf_dir))


@register(
    "dedup_cdc_stats",
    f"""
    WITH {_CDC_SQL},
    per_doc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
                       CAST(sum(n_words) AS BIGINT) AS n_words
                FROM chunks GROUP BY doc_id),
    shared AS (SELECT chunk_hash
               FROM (SELECT DISTINCT chunk_hash, doc_id FROM chunks)
               GROUP BY chunk_hash HAVING count(*) >= 2),
    dup AS (SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_dup_chunks,
                   CAST(sum(c.n_words) AS BIGINT) AS n_dup_words
            FROM chunks c JOIN shared USING (chunk_hash)
            GROUP BY c.doc_id)
    SELECT p.doc_id, p.n_chunks, COALESCE(d.n_dup_chunks, 0) AS n_dup_chunks,
           p.n_words, COALESCE(d.n_dup_words, 0) AS n_dup_words,
           CAST((COALESCE(d.n_dup_words, 0) * 1000000) // p.n_words
                AS BIGINT) AS dup_ppm
    FROM per_doc p LEFT JOIN dup d USING (doc_id)
    """,
)
def dedup_cdc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc CDC dedup coverage: words living in chunks that occur in
    another document. dup_ppm is exact integer parts-per-million (floor
    division) — no float rounding to diverge cross-engine."""
    from mhealth_spark.pipelines.dedup import cdc_dup_stats

    out = cdc_dup_stats(_docs(spark, sf_dir))
    return out.select(
        "doc_id",
        "n_chunks",
        "n_dup_chunks",
        "n_words",
        "n_dup_words",
        F.expr("CAST((n_dup_words * 1000000) DIV n_words AS BIGINT)").alias(
            "dup_ppm"
        ),
    )


@register(
    "corpus_source_overlap",
    """
    WITH hs AS (SELECT DISTINCT md5(text) AS h, source FROM documents)
    SELECT a.source AS src_a, b.source AS src_b,
           CAST(count(*) AS BIGINT) AS n_shared
    FROM hs a JOIN hs b ON a.h = b.h AND a.source < b.source
    GROUP BY 1, 2
    """,
)
def corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source duplicate matrix: distinct shared texts per source
    pair, via one row per content hash + in-row pair expansion (no
    self-join)."""
    from mhealth_spark.pipelines.corpus import source_overlap

    return source_overlap(_docs(spark, sf_dir))


@register(
    "tokens_ngram_diversity",
    f"""
    WITH t AS (SELECT source, tokens FROM {_TOKENS_DUCK} WHERE len(tokens) >= 3),
    ex AS (SELECT source,
                  CAST(tokens[j] AS BIGINT) * 1099511627776
                  + CAST(tokens[j+1] AS BIGINT) * 1048576
                  + CAST(tokens[j+2] AS BIGINT) AS g
           FROM t, LATERAL (SELECT unnest(generate_series(1, len(tokens) - 2))
                            AS j))
    SELECT source, CAST(count(*) AS BIGINT) AS n_ngrams,
           CAST(count(DISTINCT g) AS BIGINT) AS n_distinct,
           CAST((count(DISTINCT g) * 1000000) // count(*) AS BIGINT)
               AS distinct_ppm
    FROM ex GROUP BY source
    """,
)
def tokens_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source trigram diversity over the tokens table: packed-long
    trigrams (2^40/2^20 place values = the oracle's constants), exact
    distinct via map-side-combined two-stage aggregation."""
    from mhealth_spark.pipelines.corpus import ngram_diversity

    return ngram_diversity(_tokens_wide(spark))


@register(
    "corpus_split_leakage",
    f"""
    WITH d AS (SELECT doc_id,
                      md5(array_to_string({_WORDS_SQL}, ' ')) AS fp,
                      CASE WHEN {_SPLIT_HX} < '{{thr_train}}' THEN 'train'
                           WHEN {_SPLIT_HX} < '{{thr_val}}' THEN 'val'
                           ELSE 'test' END AS split
               FROM documents)
    SELECT fp, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(DISTINCT split) AS BIGINT) AS n_splits,
           array_to_string(list_sort(list(DISTINCT split)), ',') AS splits,
           array_to_string(list_sort(list(doc_id)), ',') AS doc_ids
    FROM d GROUP BY fp
    HAVING count(*) > 1 AND count(DISTINCT split) > 1
    """.format(
        thr_train=_hx_thresh(0.5), thr_val=_hx_thresh(0.75)
    ),
)
def corpus_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train/val/test leakage audit: exact-duplicate content groups that
    span splits (the split hashes doc_id, dedup hashes content — after
    dedup this must be empty; before it, it prices the contamination).
    50/25/25 split so the audit has teeth on the small synth corpora
    (4 real leak groups at sf0.1); crafted-corpus pytest value-checks
    the group structure.

    ``corpus.split_leakage`` returns ``splits``/``doc_ids`` as arrays;
    the registered query comma-joins both (driver canonicalizer cannot
    hash list cells — this query passed round 4 only because its result
    was empty at the driver's parameterization)."""
    from mhealth_spark.pipelines.corpus import split_leakage

    out = split_leakage(
        _docs(spark, sf_dir),
        weights={"train": 0.5, "val": 0.25, "test": 0.25},
    )
    return out.select(
        "fp",
        "n_docs",
        "n_splits",
        F.array_join("splits", ",").alias("splits"),
        F.array_join(F.col("doc_ids").cast("array<string>"), ",").alias(
            "doc_ids"
        ),
    )


@register(
    "corpus_contrastive_negatives",
    """
    WITH r AS (SELECT doc_id, source,
                      ('0x' || substr(md5(doc_id || '#neg0'), 1, 8))::BIGINT
                          AS ring
               FROM documents),
    b AS (SELECT doc_id, source, ring, ring % 64 AS bkt,
                 row_number() OVER (PARTITION BY ring % 64
                                    ORDER BY ring, doc_id) AS rn
          FROM r),
    cand AS (SELECT a.doc_id AS doc_id, a.source AS source,
                    b2.doc_id AS neg_id, b2.source AS neg_source,
                    b2.rn - a.rn AS d
             FROM b a JOIN b b2
               ON b2.bkt = a.bkt AND b2.rn > a.rn AND b2.rn <= a.rn + 9
             WHERE b2.source <> a.source),
    rk AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY d)
                         AS neg_rank
           FROM cand)
    SELECT doc_id, source, CAST(neg_rank AS INT) AS neg_rank,
           neg_id, neg_source
    FROM rk WHERE neg_rank <= 3
    """,
)
def corpus_contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic contrastive negative sampling: up to 3 cross-source
    negatives per doc from the md5 hash ring, 64 independent bucket
    windows (no global sort), 9-row lookahead margin absorbing the Zipf
    same-source head."""
    from mhealth_spark.pipelines.corpus import contrastive_negatives

    return contrastive_negatives(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Sparse retrieval (pipelines/text.py bm25_scores / inverted_postings)
# ---------------------------------------------------------------------------
_BM25_TERMS = ["hash", "join", "vector"]


@register(
    "text_bm25_topk",
    f"""
    WITH d AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    base AS (SELECT doc_id, w, len(w) AS dl FROM d),
    stats AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
                     count(*) AS nd FROM base),
    tf AS (SELECT doc_id, dl, t AS term, count(*) AS tf
           FROM (SELECT doc_id, dl,
                        unnest(list_filter(w, x -> list_contains(
                            ['hash', 'join', 'vector'], x))) AS t
                 FROM base)
           GROUP BY 1, 2, 3),
    dft AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
    ctb AS (SELECT tf.doc_id, tf.term,
                   ln(1 + ((SELECT nd FROM stats) - df + 0.5) / (df + 0.5))
                   * (tf * 2.2)
                   / (tf + 1.2 * (0.25 + 0.75 * dl
                                  / (SELECT avgdl FROM stats))) AS c
            FROM tf JOIN dft USING (term)),
    sc AS (SELECT doc_id, list_sum(list(c ORDER BY term)) AS s
           FROM ctb GROUP BY doc_id)
    SELECT doc_id, round(s, 6) AS bm25
    FROM sc ORDER BY round(s, 6) DESC, doc_id LIMIT 50
    """,
)
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-50 for the query {hash, join, vector}: broadcast global
    stats (N, avgdl, per-term idf as literals), per-doc sum folded in
    sorted term order (bit-identical to the oracle's list_sum), ranking
    on the rounded score so the cut cannot flip on float ulps."""
    from mhealth_spark.pipelines.text import bm25_scores

    return bm25_scores(_docs(spark, sf_dir), _BM25_TERMS)


@register(
    "text_bm25_expr_all",
    f"""
    WITH d AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    base AS (SELECT doc_id, w, len(w) AS dl FROM d),
    stats AS (SELECT CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl,
                     count(*) AS nd FROM base),
    tf AS (SELECT doc_id, dl, t AS term, count(*) AS tf
           FROM (SELECT doc_id, dl,
                        unnest(list_filter(w, x -> list_contains(
                            ['hash', 'join', 'vector'], x))) AS t
                 FROM base)
           GROUP BY 1, 2, 3),
    dft AS (SELECT term, count(DISTINCT doc_id) AS df FROM tf GROUP BY term),
    ctb AS (SELECT tf.doc_id, tf.term,
                   ln(1 + ((SELECT nd FROM stats) - df + 0.5) / (df + 0.5))
                   * (tf * 2.2)
                   / (tf + 1.2 * (0.25 + 0.75 * dl
                                  / (SELECT avgdl FROM stats))) AS c
            FROM tf JOIN dft USING (term)),
    sc AS (SELECT doc_id, list_sum(list(c ORDER BY term)) AS s
           FROM ctb GROUP BY doc_id)
    SELECT base.doc_id, round(coalesce(s, 0.0), 6) AS bm25
    FROM base LEFT JOIN sc USING (doc_id)
    """,
)
def text_bm25_expr_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frozen-stats BM25 face: ``bm25_stats`` freezes (idf, avgdl)
    from the corpus, ``bm25_score_expr`` scores EVERY doc as a pure
    map-side Column expression (no shuffle, no Python — the ingest-gate
    shape ``streaming.stream_bm25_score`` ships to a live stream). Docs
    sharing no query term score exactly 0.0; matched docs are
    bit-identical to ``bm25_scores``' grouped fold before rounding."""
    from mhealth_spark.pipelines.text import bm25_score_expr, bm25_stats

    docs = _docs(spark, sf_dir)
    idf, avgdl = bm25_stats(docs, _BM25_TERMS)
    return docs.select(
        "doc_id",
        F.round(bm25_score_expr(idf, avgdl), 6).alias("bm25"),
    )


@register(
    "text_inverted_postings",
    f"""
    WITH d AS (SELECT doc_id, {_WORDS_SQL} AS w FROM documents),
    ex AS (SELECT DISTINCT doc_id, unnest(w) AS term FROM d)
    SELECT term, CAST(count(*) AS BIGINT) AS df,
           array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
    FROM ex GROUP BY term
    """,
)
def text_inverted_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted index over the corpus: distinct (term, doc) map-side
    combined, one groupBy(term) builds each sorted posting list.

    ``text.inverted_postings`` returns ``postings array``; the registered
    query comma-joins it (driver canonicalizer cannot hash list cells)."""
    from mhealth_spark.pipelines.text import inverted_postings

    out = inverted_postings(_docs(spark, sf_dir))
    return out.select(
        "term",
        "df",
        F.array_join(F.col("postings").cast("array<string>"), ",").alias(
            "postings"
        ),
    )
