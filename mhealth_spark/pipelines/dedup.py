"""Deduplication for training-data pipelines (exact, MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup).

Scale notes (100 TB posture):
- exact dedup is a hash groupBy — one shuffle on the fingerprint; at
  scale, pre-partition by fingerprint prefix and use AQE skew splitting
  for pathological duplicates (boilerplate pages).
- MinHash+LSH: shingle → k minhashes → band buckets → equi-JOIN on
  (band, bucket) — the cross product only forms inside buckets, never
  globally. Candidates are then verified with exact Jaccard.
- all-pairs n-gram Jaccard (``ngram_jaccard_pairs``) is the small-data /
  verification tool: the inverted-index self-join bounds the blowup to
  docs sharing a shingle, but at web scale you run MinHash first.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from mhealth_spark.pipelines.text import shingles_col, words_col


def exact_dedup_groups(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact dedup by normalized-text md5: per doc, its group's size and
    canonical (min-id) representative. Keep rows where doc_id == keep_id."""
    norm = F.concat_ws(" ", words_col(text_col))
    fp = df.select(F.col(id_col), F.md5(norm).alias("fp"))
    groups = fp.groupBy("fp").agg(
        F.count("*").alias("group_size"), F.min(id_col).alias("keep_id")
    )
    return fp.join(groups, "fp").select(id_col, "group_size", "keep_id")


def exact_dedup_groups_xxh(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Scale tier of ``exact_dedup_groups``: xxhash64 over the normalized
    text instead of md5 — one 64-bit JVM hash, no 32-char string
    materialization or shuffle of it. Group STRUCTURE (who deduplicates
    with whom) is identical to the md5 tier modulo hash collisions
    (~2^-64 per pair); the md5 tier stays as the DuckDB-portable oracle.
    Differential: tests/test_domains.py asserts identical
    (group_size, keep_id) per doc across both tiers."""
    norm = F.concat_ws(" ", words_col(text_col))
    fp = df.select(F.col(id_col), F.xxhash64(norm).alias("fp"))
    groups = fp.groupBy("fp").agg(
        F.count("*").alias("group_size"), F.min(id_col).alias("keep_id")
    )
    return fp.join(groups, "fp").select(id_col, "group_size", "keep_id")


def exact_dedup_token_groups(
    tokens: DataFrame, id_col: str = "doc_id", tokens_col: str = "tokens"
) -> DataFrame:
    """Exact dedup on the TOKEN ARRAY (post-tokenization dedup — catches
    docs whose raw text differs only in ways the tokenizer erases). md5
    over the comma-joined ids keeps the fingerprint portable to any
    engine; at 10^12 rows swap in ``xxhash64(tokens)`` (one 64-bit hash,
    no string materialization) — groupBy shape is identical."""
    fp_col = F.md5(
        F.concat_ws(",", F.transform(tokens_col, lambda t: t.cast("string")))
    )
    fp = tokens.select(F.col(id_col), fp_col.alias("fp"))
    groups = fp.groupBy("fp").agg(
        F.count("*").alias("group_size"), F.min(id_col).alias("keep_id")
    )
    return fp.join(groups, "fp").select(id_col, "group_size", "keep_id")


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    shingle_n: int = 5,
    hash_fn: str = "xxh",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """k MinHash values per doc over word n-gram shingles.

    hash_fn='xxh' (default, the scale path) → 64-bit minima: one cheap
    xxhash64 per (shingle, i), 8 bytes per hash, JVM-only.
    hash_fn='md5' is the ORACLE-ONLY parity tier (string minima,
    byte-identical in DuckDB) — 8 full md5s per shingle, never the
    production path. Docs with no shingles are dropped (no signature).
    ``extra_cols`` ride through untouched (the streaming face needs the
    event-time column next to the signature)."""
    sh = shingles_col(text_col, shingle_n)
    base = df.select(
        F.col(id_col), *[F.col(c) for c in extra_cols], sh.alias("sh")
    ).filter(F.size("sh") > 0)

    # NB: closures via factory functions, NOT default args — PySpark
    # introspects lambda arity, and `lambda s, i=i:` becomes the 2-arg
    # (element, index) form with the array index bound to i.
    def md5_hasher(i: int):
        return lambda s: F.md5(F.concat(s, F.lit(f"#{i}")))

    def xxh_hasher(i: int):
        return lambda s: F.xxhash64(s, F.lit(i))

    # ONE fold carries all k running minima in a struct accumulator:
    # k separate array_min(transform(...)) columns each materialize an
    # intermediate hash array per row (Catalyst does not CSE across
    # higher-order lambdas) — measured ~2x slower than the single pass.
    if hash_fn == "md5":
        hasher, init = md5_hasher, F.lit("~")  # '~' > any md5 hex char
    else:
        hasher, init = xxh_hasher, F.lit((1 << 63) - 1).cast("long")
    zero = F.struct(*[init.alias(f"m{i}") for i in range(num_hashes)])

    def step(acc, s):
        return F.struct(
            *[
                F.least(acc[f"m{i}"], hasher(i)(s)).alias(f"m{i}")
                for i in range(num_hashes)
            ]
        )

    return base.withColumn("_acc", F.aggregate("sh", zero, step)).select(
        id_col,
        *[F.col(c) for c in extra_cols],
        *[F.col(f"_acc.m{i}").alias(f"mh{i}") for i in range(num_hashes)],
    )


def band_buckets(
    sig: DataFrame,
    num_hashes: int = 8,
    band_size: int = 2,
    id_col: str = "doc_id",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """(id, band, bucket) rows from a signature frame: ONE band-struct
    array exploded per row — a union of per-band selects would re-run the
    whole signature fold once per band (each union branch is its own
    subplan; the fold is ~all the cost). Shared by the batch candidate
    generator and the streaming near-dup flagger."""
    n_bands = num_hashes // band_size
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "|",
                    *[f"mh{b * band_size + j}" for j in range(band_size)],
                ).alias("bucket"),
            )
            for b in range(n_bands)
        ]
    )
    return sig.select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.explode(band_structs).alias("_bb"),
    ).select(
        id_col,
        *extra_cols,
        F.col("_bb.band").alias("band"),
        F.col("_bb.bucket").alias("bucket"),
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 5,
    hash_fn: str = "xxh",
    max_bucket: int | None = None,
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become a candidate pair
    (id_a < id_b). The join key is (band_index, band_hash) — a plain
    shuffled equi-join; no global cross product.

    Pair generation goes through ``bucket_pairs`` (groupBy-bucket
    expansion instead of a self-join: a self-join would compute the
    signature table TWICE — the testdata repartition is round-robin/
    nondeterministic, which blocks Catalyst's ReuseExchange — and the
    signatures are ~all the query's cost. One signature pass, ONE
    shuffle on (band, bucket)).

    ``max_bucket`` is the hot-bucket skew guard (same cap pattern as
    ``embedding_neardup_pairs``): LSH buckets are small by construction
    for genuinely random content, but a NEAR-identical template family
    (non-exact, so an exact-dup pre-collapse cannot catch it) lands k
    ids in one bucket → one collect_list row of k ids expanding to
    k²/2 pairs in a single task no AQE split can break. Buckets above
    the cap are dropped from candidate generation — bounded recall for
    a hard cost ceiling; audit the skipped set with ``hot_buckets``."""
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n, hash_fn)
    exploded = band_buckets(sig, num_hashes, band_size, id_col)
    return bucket_pairs(exploded, id_col, max_bucket=max_bucket)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 5,
    threshold: float = 0.1,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """n-gram Jaccard over an inverted-index self-join:
    |A∩B| from shared shingles, |A|,|B| from per-doc distinct counts.

    ``max_doc_freq`` drops shingles appearing in more than that many docs
    BEFORE the self-join (standard stop-shingle pruning): without it, one
    boilerplate shingle shared by k docs creates a k² join blowup, which
    is fatal at web scale. Jaccard is then computed over the pruned
    shingle universe (sizes come from the same filtered set, so the
    measure stays a true Jaccard on informative shingles)."""
    # the (id, shingle) posting table feeds the stop-shingle cap, the
    # per-doc sizes and both sides of the intersection join — five
    # references that would each re-run the shingle explode (round-robin
    # input repartitions block ReuseExchange). Materialize the raw and
    # the pruned postings once each, lazily: this is the inverted-index
    # artifact every n-gram dedup pipeline persists anyway.
    sh = df.select(
        F.col(id_col), F.explode(shingles_col(text_col, shingle_n)).alias("s")
    ).localCheckpoint(eager=True)
    if max_doc_freq is not None:
        dfreq = sh.groupBy("s").agg(F.count("*").alias("_df"))
        sh = sh.join(dfreq.filter(F.col("_df") <= max_doc_freq), "s").select(
            id_col, "s"
        ).localCheckpoint(eager=True)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.s") == F.col("b.s"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    out = (
        inter.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "inter", "sz_a", "sz_b", "jaccard")


def jaccard_verify_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 5,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard VERIFICATION of candidate pairs — the standard
    second stage after MinHash-LSH (candidates are probabilistic; the
    verify pass removes band-collision false positives before clustering).

    Cost is bounded by the CANDIDATE set, never the corpus: shingle sets
    are computed only for docs appearing in a pair (semi-join pruning),
    and the intersection join fans out each pair by its doc's shingles —
    O(|pairs| x doc_len), the verify cost every fuzzy-dedup pipeline
    pays. Pairs sharing zero shingles survive to the left join with
    jaccard 0 and are dropped by the threshold. Jaccard is over DISTINCT
    shingles (``text.shingles_col``), matching ``ngram_jaccard_pairs``'s
    universe when no DF cap is set.

    ``pairs`` is referenced THREE times below (id-set union, intersection
    join, final left join) and the shingle frame three more — when the
    candidate frame is itself an LSH composition, naive lazy reuse
    re-derives the whole signature pipeline per reference (the
    pre-materialization explain showed 28 parquet scans / 96 exchanges;
    round-robin test repartitions block Catalyst's ReuseExchange). Both
    are candidate-bounded (small by the LSH premise), so they are
    localCheckpoint-materialized ONCE and every downstream reference
    reads the in-memory blocks — at corpus scale this is the difference
    between one verify pass and O(10) extra corpus scans."""
    # EAGER on purpose: pairs feeds three references inside the final
    # action (id-set union, intersection join, left join) — concurrent
    # stages each recompute an unmaterialized checkpoint, so lazy here
    # multiplies the LSH pipeline instead of sharing it (measured 3x)
    pairs = pairs.localCheckpoint(eager=True)
    ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .union(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    cand_docs = df.join(ids, id_col, "left_semi")
    sh = cand_docs.select(
        F.col(id_col), F.explode(shingles_col(text_col, shingle_n)).alias("s")
    ).localCheckpoint(eager=True)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("sz"))
    a = sh.select(F.col(id_col).alias("id_a"), "s")
    b = sh.select(F.col(id_col).alias("id_b"), "s")
    inter = (
        pairs.join(a, "id_a")
        .join(b, ["id_b", "s"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    out = (
        pairs.join(inter, ["id_a", "id_b"], "left")
        .join(
            sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a")),
            "id_a",
        )
        .join(
            sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b")),
            "id_b",
        )
        .withColumn("inter", F.coalesce("inter", F.lit(0)))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "jaccard")


def _simhash_from_word_hash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    hash_col_fn,
    bit_contrib_sql,
    n_bits: int,
    out_col: str,
) -> DataFrame:
    """Single-pass SimHash skeleton: explode words → compute the word hash
    ONCE (a projection — Catalyst does not CSE a hash referenced by 64
    separate aggregate expressions, so it must be materialized first) →
    all bit-contribution sums in ONE groupBy. Map-side partial aggregation
    collapses the exploded rows to ~1 row/doc before the shuffle, so
    shuffle volume is docs × n_bits ints, not words. Docs with no words
    keep signature 0 (empty contributions = all bits 0), via left join.

    ``bit_contrib_sql(j)`` returns the per-word ±1 contribution for bit
    ``j`` as SQL TEXT over the ``_h`` column; the n_bits aggregate
    expressions and the signature shift-chain are built with ``F.expr``
    — per-Column py4j construction of 64 agg trees measured ~1 s of
    driver time per query vs ~0.1 s for parsed text (same reasoning as
    similarity._arr_lit; the parsed expressions are identical)."""
    ids = df.select(F.col(id_col))
    words = df.select(
        F.col(id_col), F.explode(words_col(text_col)).alias("_w")
    ).select(F.col(id_col), hash_col_fn(F.col("_w")).alias("_h"))
    contribs = words.groupBy(id_col).agg(
        *[
            F.expr(f"sum({bit_contrib_sql(j)})").alias(f"_c{j}")
            for j in range(n_bits)
        ]
    )
    # sig = fold_j (sig << 1) + (1 if _cj > 0 else 0), exactly the old
    # Column chain, as one parsed expression
    sig_sql = "CAST(0 AS BIGINT)"
    for j in range(n_bits):
        sig_sql = (
            f"(shiftleft({sig_sql}, 1) + "
            f"CAST(CASE WHEN _c{j} > 0 THEN 1 ELSE 0 END AS BIGINT))"
        )
    signed = contribs.select(F.col(id_col), F.expr(sig_sql).alias(out_col))
    return ids.join(signed, id_col, "left").select(
        id_col, F.coalesce(F.col(out_col), F.lit(0).cast("long")).alias(out_col)
    )


def simhash16(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """16-bit SimHash from the high bit of each md5 hex digit per word
    (parity tier — byte-identical in SQL). The scale path is
    ``simhash64``. Word hash computed once per word (single md5), not
    once per bit."""
    high = ",".join(repr(c) for c in "89abcdef")
    return _simhash_from_word_hash(
        df,
        id_col,
        text_col,
        hash_col_fn=lambda w: F.md5(w),
        bit_contrib_sql=lambda j: (
            f"CASE WHEN substring(_h, {j + 1}, 1) IN ({high}) "
            "THEN 1 ELSE -1 END"
        ),
        n_bits=16,
        out_col="simhash16",
    )


def simhash64(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    hash_fn: str = "xxh",
) -> DataFrame:
    """64-bit SimHash word hashes: one hash per word, 64 shift/and bit
    contributions in one groupBy. Near-dups = signatures within small
    Hamming distance; see ``simhash_neardup_candidates`` for the
    sub-quadratic block search.

    hash_fn='xxh' (default, the scale path): one cheap JVM xxhash64 per
    word. hash_fn='md5' is the ORACLE parity tier — the 64-bit word hash
    is the first 16 hex digits of md5(word) (bit j = bit (3 - j%4) of
    nibble j//4), byte-identical in DuckDB via the same hex arithmetic,
    so the FULL 64-bit block/bucket pipeline gets a driver-gradable
    twin (the xxh tier itself has no DuckDB equivalent)."""
    if hash_fn == "md5":
        hexd = "0123456789abcdef"

        def md5_bit_contrib_sql(j: int) -> str:
            # bit j (0 = MSB of the 64-bit value) lives in hex nibble
            # j//4 at in-nibble position (3 - j%4); set-membership on the
            # hex char avoids a conv() per bit
            chars = ",".join(
                repr(c) for c in hexd if (int(c, 16) >> (3 - j % 4)) & 1
            )
            return (
                f"CASE WHEN substring(_h, {j // 4 + 1}, 1) IN ({chars}) "
                "THEN 1 ELSE -1 END"
            )

        return _simhash_from_word_hash(
            df,
            id_col,
            text_col,
            hash_col_fn=lambda w: F.md5(w),
            bit_contrib_sql=md5_bit_contrib_sql,
            n_bits=64,
            out_col="simhash64",
        )
    return _simhash_from_word_hash(
        df,
        id_col,
        text_col,
        hash_col_fn=lambda w: F.xxhash64(w),
        bit_contrib_sql=lambda j: (
            f"CASE WHEN (shiftright(_h, {63 - j}) & 1) = 1 "
            "THEN 1 ELSE -1 END"
        ),
        n_bits=64,
        out_col="simhash64",
    )


def simhash_neardup_candidates(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "simhash64",
    sig_bits: int = 64,
    n_blocks: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Hamming-bucket near-dup search over SimHash signatures: split the
    signature into ``n_blocks`` disjoint bit blocks; pairs sharing ANY
    identical block become candidates (equi-join on (block, value) — no
    cross product), refined by exact Hamming distance <= max_hamming
    (bit_count of xor). Pigeonhole guarantees FULL recall whenever
    max_hamming < n_blocks; larger distances need more blocks or
    multi-probe."""
    if max_hamming >= n_blocks:
        raise ValueError(
            f"recall guarantee needs max_hamming < n_blocks "
            f"(got {max_hamming} >= {n_blocks})"
        )
    block_bits = sig_bits // n_blocks
    mask = (1 << block_bits) - 1
    # Materialize the signature table ONCE before the self-join: the
    # upstream fold (explode + n_bits aggregate sums) is ~all the cost and
    # ReuseExchange does not fire on this input, so joining the lazy frame
    # would compute it per side. Unlike minhash (fine-grained 64-bit band
    # hashes), simhash block VALUES can be coarse (4-bit parity tier → 16
    # buckets), so in-bucket groupBy pair expansion would build O(k²)
    # structs in single rows; the join keeps pair generation distributed
    # and AQE-skew-splittable. Checkpoint size is docs × 16 B — the
    # standard "materialize the small derived table" trade at any scale.
    sigs = sigs.select(F.col(id_col), F.col(sig_col)).localCheckpoint(
        eager=True
    )
    sig = F.col(sig_col)
    blocks = sigs.select(
        F.col(id_col).alias("id"),
        sig.alias("sig"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("block"),
                        F.shiftright(sig, b * block_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("val"),
                    )
                    for b in range(n_blocks)
                ]
            )
        ).alias("bv"),
    ).select("id", "sig", F.col("bv.block").alias("block"), F.col("bv.val").alias("val"))
    a = blocks.alias("a")
    b = blocks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.block") == F.col("b.block"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
        )
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    return pairs.select("id_a", "id_b", "hamming")


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    band_bits: int = 4,
    n_bands: int = 16,
    max_bucket: int | None = None,
    broadcast_vectors: bool = True,
) -> DataFrame:
    """Embedding-cosine near-dup pairs (id_a < id_b, cosine >= threshold),
    LSH-banded: candidates are vectors sharing at least one band signature
    (sign bits of a disjoint dim block, similarity.sign_signature), so the
    only join is an equi-join on (band, signature) — never a global cross
    product. Candidates are refined with the exact cosine.

    Recall depends on (threshold, band_bits, n_bands): per-bit agreement
    for a pair at cosine t under the sign family is ~1 - arccos(t)/pi, so
    a band collides with p = agree**band_bits and recall is
    1 - (1 - p)**n_bands. The 4x16 default gives >0.95 recall at t >= 0.4
    on the synthetic corpus (measured; see tests/test_domains.py); push
    band_bits up for true near-dup thresholds (>=0.9) where selectivity
    then becomes exponential. ``embedding_neardup_bruteforce`` is the
    exact all-pairs verification tier.

    SIZING AT SCALE: candidate volume is sum-over-buckets of k², and
    bucket count per band is 2**band_bits, so band_bits must GROW with
    the corpus (rule of thumb: 2**band_bits ≳ n/50, i.e. band_bits ≈
    log2(n) - 5) or uniform buckets alone produce O(n²/2**band_bits)
    candidates. That is only viable at true near-dup thresholds (>=0.85)
    where per-band recall stays high — at low thresholds (0.4) the
    answer ITSELF is Ω(n²) on real embedding distributions (measured:
    ~5e-4 of random unit-vector pairs at d=64 clear 0.4), so low-
    threshold all-pairs similarity is a quadratic workload no banding
    can fix; treat it as search (ANN top-k), not dedup. ``max_bucket``
    is the skew guard: buckets larger than the cap (degenerate bands —
    e.g. strongly clustered embeddings, zero vectors) are dropped from
    candidate generation, trading bounded recall for a hard cost ceiling,
    the same cap pattern as ``ngram_jaccard_pairs(max_doc_freq)`` and
    streaming's ``max_bucket_ids``.
    """
    # one pass: per-row norm + all band signatures (cheap, per-row only)
    from mhealth_spark.pipelines.similarity import (
        _cos_side,
        _normed,
        _pair_cosine,
        sign_signature,
    )

    v = _normed(df, id_col, vec_col)
    bands = v.select(
        "id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        sign_signature(F.col("v"), band_bits, b * band_bits).alias(
                            "sig"
                        ),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bs"),
    ).select("id", F.col("bs.band").alias("band"), F.col("bs.sig").alias("sig"))
    # groupBy-bucket pair expansion (not a self-join): one scan, one
    # shuffle on (band, sig) — same reasoning as minhash_lsh_candidates
    grouped = (
        bands.groupBy("band", "sig")
        .agg(F.array_sort(F.collect_list("id")).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    if max_bucket is not None:
        grouped = grouped.filter(F.size("ids") <= max_bucket)
    n_ids = F.size(F.col("ids"))
    pair_structs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, n_ids),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    # broadcast_vectors=True (default): NO distinct on raw candidates — a
    # pair colliding in k bands appears k times, but duplication is small
    # for NON-matching pairs (they rarely collide twice) and those are
    # ~all the volume. A global distinct would shuffle every raw
    # candidate (measured at sf1/20k vecs: 200M rows, 217 s — 2/3 of the
    # whole query); instead refine duplicates through map-side BROADCAST
    # joins of the projected vector table (id + doubles + norm — tiny
    # relative to candidates) and dedup AFTER the threshold filter, where
    # only true matches remain (output-sized: bounded by n_bands ×
    # |answer|). The broadcast hint is EXPLICIT because Catalyst cannot
    # size the exploded candidate side and would otherwise broadcast IT.
    # broadcast_vectors=False is the huge-vector-table fallback (vectors
    # exceed the executor broadcast budget): distinct the candidates
    # first, then let the planner shuffle both sides.
    #
    # CRITICAL without the distinct: the post-groupBy frame is tiny (one
    # row per (band, sig) bucket carrying a collected-id array), so AQE
    # coalesces it to ~1 partition — and the explode + refine joins +
    # cosine filter all FUSE into that single task (measured: 4.9 s →
    # 19.6 s at sf0.1, timeout at sf1). Round-robin repartition of the
    # GROUP ROWS (KBs per row) restores explode/refine parallelism for
    # the cost of shuffling one array per bucket, not one row per pair.
    if broadcast_vectors:
        par = df.sparkSession.sparkContext.defaultParallelism
        grouped = grouped.repartition(4 * par)
    cand = grouped.select(F.explode(pair_structs).alias("p")).select(
        F.col("p.id_a"), F.col("p.id_b")
    )
    va, vb = _cos_side(v, "a"), _cos_side(v, "b")
    if broadcast_vectors:
        va, vb = F.broadcast(va), F.broadcast(vb)
    else:
        cand = cand.distinct()
    # exact refine: ONE fold per candidate pair (norms precomputed per row)
    out = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", _pair_cosine())
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )
    if broadcast_vectors:
        out = out.dropDuplicates(["id_a", "id_b"])
    return out


def embedding_neardup_bruteforce(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
) -> DataFrame:
    """Exact all-pairs near-dup (verification tier for
    embedding_neardup_pairs recall tests). O(n^2) — never the scale path."""
    from mhealth_spark.pipelines.similarity import cosine_expr

    v = df.select(
        F.col(id_col),
        F.transform(vec_col, lambda x: x.cast("double")).alias("v"),
    )
    a = v.alias("a")
    b = v.alias("b")
    return (
        a.join(b, F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            cosine_expr(F.col("a.v"), F.col("b.v")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# largest edge list that is resolved on the driver: a few MB of
# (long, long) rows, far under any driver budget
_MAX_DRIVER_EDGES = 200_000


def neardup_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    max_driver_edges: int = _MAX_DRIVER_EDGES,
) -> DataFrame:
    """Connected components over near-dup candidate pairs → one
    ``cluster_id`` (the minimum member id) per involved document.

    The missing middle of every fuzzy-dedup pipeline: LSH emits PAIRS,
    retention needs CLUSTERS (A~B, B~C must collapse to one survivor even
    when A~C was never emitted).

    Size-adaptive execution (guide §2 — derive the shape from the input,
    the same reasoning as broadcast-vs-shuffle join selection): the
    DISTINCT edge list is first materialized and counted. At or below
    ``max_driver_edges`` (a few MB of (long, long) rows — far under any
    driver budget) the closure runs as a driver-side union-find over the
    collected edges: exact, deterministic, zero iterative jobs — on a
    small dup graph the iterative path's cost is pure per-round job
    overhead, ~0.4 s × O(diameter) rounds for milliseconds of actual
    work. Above the threshold it falls back to distributed min-label
    propagation with pointer jumping (``label := min(label, min(neighbor
    labels), label[label])`` per round — O(log diameter) rounds, each
    localCheckpoint-truncated so the plan does not grow). Both paths
    yield the identical fixpoint: every involved node labeled with its
    component's minimum id. Raises if ``max_iter`` is hit without
    convergence rather than returning half-merged clusters.

    Only documents that appear in ``pairs`` are returned; singleton docs
    are their own implicit cluster (see ``dedup_survivors``).
    """
    # lazy checkpoints: the edge count below materializes the (tiny,
    # pair-bounded) edge list once; every later reference reads blocks
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_edges = edges.count()
    if n_edges <= max_driver_edges:
        rows = edges.collect()
        if any(r["src"] is None or r["dst"] is None for r in rows):
            # NULL ids cannot be ordered by the union-find; the
            # distributed path reproduces the legacy equi-join
            # semantics for them (no upstream candidate generator
            # emits NULLs — defensive only)
            rows = None
    else:
        rows = None
    if rows is not None:
        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for r in rows:
            a, b = r["src"], r["dst"]
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                # min-id root so the final label IS the component min
                if rb < ra:
                    ra, rb = rb, ra
                parent[rb] = ra
        out = [(n, find(n)) for n in parent]
        from pyspark.sql.types import StructField, StructType

        node_t = edges.schema["src"].dataType
        schema = StructType(
            [
                StructField("doc_id", node_t, False),
                StructField("cluster_id", node_t, False),
            ]
        )
        return pairs.sparkSession.createDataFrame(out, schema)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        # eager: round 1's single action references labels twice (message
        # join + self rows) and concurrent stages would each recompute an
        # unmaterialized checkpoint; edges is already cached by the count
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        # one fused pass per round (guide §2.4 — fewer shuffles): the
        # neighbor-label messages and each node's own label union into a
        # single groupBy(node) min. Equivalent to the former
        # join→groupBy→left-join chain (new = min(old, min(neighbor
        # labels))) with one exchange less, and the node's previous label
        # rides along (``_old``, non-null only on the self row) so the
        # convergence check is a cheap filter over the checkpointed
        # result instead of a second join against the old labels.
        msgs = edges.join(
            labels.select(
                F.col("node").alias("dst"), F.col("label").alias("cand")
            ),
            "dst",
        ).select(
            F.col("src").alias("node"),
            "cand",
            F.lit(None).cast(labels.schema["label"].dataType).alias("_old"),
        )
        self_rows = labels.select(
            "node", F.col("label").alias("cand"), F.col("label").alias("_old")
        )
        prop = (
            msgs.unionByName(self_rows)
            .groupBy("node")
            .agg(F.min("cand").alias("label"), F.max("_old").alias("_old"))
        )
        # pointer jump (label := min(label, label[label])): labels are
        # always ids of nodes in the same component, so following one
        # hop of the label chain per round turns O(diameter) rounds into
        # O(log diameter) — the semantic-dup graph at low thresholds
        # forms CHAINS, and each round is a fixed-overhead Spark job.
        # Same monotone fixpoint (the component-min label) as plain
        # propagation; the convergence check is unchanged.
        jump = prop.select(
            F.col("node").alias("label"), F.col("label").alias("_jl")
        )
        # lazy checkpoint + count: ONE job per round (the count action
        # materializes the checkpoint blocks as its side effect; an eager
        # checkpoint would run a second, separate job for the same scan)
        new_labels = (
            prop.join(jump, "label", "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("_jl", F.col("label"))
                ).alias("label"),
                "_old",
            )
            .localCheckpoint(eager=False)
        )
        changed = new_labels.filter(F.col("label") != F.col("_old")).count()
        labels = new_labels.drop("_old")
        if changed == 0:
            return labels.select(F.col("node").alias("doc_id"),
                                 F.col("label").alias("cluster_id"))
    raise RuntimeError(
        f"neardup_components did not converge in {max_iter} rounds "
        "(pathological chain in the pair graph; raise max_iter)"
    )


def dedup_survivors(
    docs: DataFrame,
    components: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep one document per near-dup cluster (the minimum id — i.e. the
    cluster_id itself) plus every singleton untouched: anti-join the
    non-survivor members. ``components`` is ``neardup_components`` output."""
    losers = components.filter(F.col("doc_id") != F.col("cluster_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return docs.join(losers, id_col, "left_anti")


def exact_dedup_prefix_groups(
    tokens: DataFrame,
    prefix_len: int = 32,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """Prefix dedup: group docs by the md5 of their FIRST ``prefix_len``
    token ids — catches shared boilerplate headers / templated openings
    that full-content dedup misses (bodies differ, heads repeat). Same
    one-shuffle shape as the other exact tiers."""
    fp_col = F.md5(
        F.concat_ws(
            ",",
            F.transform(
                F.slice(tokens_col, 1, prefix_len), lambda t: t.cast("string")
            ),
        )
    )
    fp = tokens.select(F.col(id_col), fp_col.alias("fp"))
    groups = fp.groupBy("fp").agg(
        F.count("*").alias("group_size"), F.min(id_col).alias("keep_id")
    )
    return fp.join(groups, "fp").select(id_col, "group_size", "keep_id")


# ---------------------------------------------------------------------------
# Cross-document exact span dedup (Lee et al. 2021, "Deduplicating Training
# Data Makes Language Models Better": substring-level duplication is what
# survives document-level dedup). Suffix arrays don't distribute; the
# Spark-native equivalent is fixed-length span hashing: every length-`span`
# word window is hashed, a span is "duplicated" when it occurs in >=
# `min_docs` DISTINCT documents, and each document is scored by the
# fraction of its spans that are duplicated elsewhere.
# ---------------------------------------------------------------------------
def span_hashes(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span: int = 12,
) -> DataFrame:
    """One row per (doc, position) word window: (id, pos, h) with
    h = md5 of the space-joined span (md5 for DuckDB oracle parity; at
    100 TB swap the hash expression for xxhash64 — the plan is identical).

    Span strings come from the shifted-slice builder (text._gram_strings):
    n column-level slice+zip_with ops per DOCUMENT instead of one slice
    per POSITION, the Catalyst-friendly form every shingle consumer here
    uses. Documents shorter than `span` words contribute their single
    whole-document gram (the _gram_strings boundary), so short exact
    dupes are still caught. `pos` is 0-based."""
    from mhealth_spark.pipelines.text import _gram_strings

    grams = _gram_strings(words_col(text_col), span)
    return (
        df.select(F.col(id_col), F.posexplode(grams).alias("pos", "gram"))
        .filter(F.col("gram") != F.lit(""))
        .select(id_col, "pos", F.md5("gram").alias("h"))
    )


def span_duplicate_hashes(
    spans: DataFrame,
    id_col: str = "doc_id",
    min_docs: int = 2,
) -> DataFrame:
    """Hashes occurring in >= min_docs distinct documents: (h, n_docs).

    SCALE SHAPE: groupBy(h).agg(count_distinct(id)) is Spark's two-phase
    distinct aggregate — it shuffles (h, id) pairs and never materializes
    a per-hash list, so a boilerplate span shared by millions of documents
    costs a counter, not an OOM (the collect_list alternative skews on
    exactly the spans this operator exists to find). Shuffling every
    span hash once is the algorithm's lower bound — the same bound the
    sort of a suffix array pays."""
    return (
        spans.groupBy("h")
        .agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )


def span_dedup_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span: int = 12,
    min_docs: int = 2,
    broadcast_dups: bool = True,
) -> DataFrame:
    """Per-document duplicated-span exposure: (id, n_spans, n_dup_spans,
    dup_frac). The standard pretraining filter drops (or trims) documents
    whose dup_frac exceeds a threshold; repetition_stats is the WITHIN-doc
    twin, this is the CROSS-doc one.

    Two corpus scans, one bounded shuffle: scan 1 aggregates span hashes
    to the duplicated-hash set (output-sized: only hashes seen in >=
    min_docs docs survive); scan 2 re-derives spans map-side and marks
    hits with a BROADCAST semi-join against that set, then folds to
    per-doc counts in the same shuffle as the final groupBy. With
    broadcast_dups=False the hit-marking join falls back to a shuffled
    join for corpora whose duplicated-span set exceeds the broadcast
    budget (heavily templated crawls)."""
    spans = span_hashes(df, id_col, text_col, span)
    dups = span_duplicate_hashes(spans, id_col, min_docs).select("h")
    if broadcast_dups:
        dups = F.broadcast(dups)
    hits = spans.join(dups, "h", "left_semi")
    per_doc = spans.groupBy(id_col).agg(F.count("*").alias("n_spans"))
    dup_counts = hits.groupBy(id_col).agg(F.count("*").alias("n_dup_spans"))
    return (
        per_doc.join(dup_counts, id_col, "left")
        .fillna(0, subset=["n_dup_spans"])
        .select(
            id_col,
            "n_spans",
            "n_dup_spans",
            (F.col("n_dup_spans") / F.col("n_spans")).alias("dup_frac"),
        )
    )


def span_dedup_mask(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    span: int = 12,
    min_docs: int = 2,
    broadcast_dups: bool = True,
) -> DataFrame:
    """The actionable form of span dedup: per document, the sorted 0-based
    word positions opening a duplicated span — (id, dup_positions,
    n_dup_spans). Lee et al. REMOVE duplicated substrings rather than drop
    documents; a trimming pass expands each position p to words
    [p, p+span) and cuts the union. Same two-phase shape as
    span_dedup_stats; the collect_list here groups by DOCUMENT (bounded
    by doc length), never by hash (unbounded), so the boilerplate-span
    skew cannot recreate the OOM the stats pass avoids."""
    spans = span_hashes(df, id_col, text_col, span)
    dups = span_duplicate_hashes(spans, id_col, min_docs).select("h")
    if broadcast_dups:
        dups = F.broadcast(dups)
    return (
        spans.join(dups, "h", "left_semi")
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list("pos")).alias("dup_positions"))
        .select(
            id_col,
            "dup_positions",
            F.size("dup_positions").alias("n_dup_spans"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental fuzzy dedup: dedup a NEW ingest batch against an already-
# indexed corpus without recomputing (or reshuffling) the corpus. The
# persistable artifact is the band-bucket table; probing is a bucket-key
# equi-join with the small side broadcast, so daily-ingest cost is
# proportional to the BATCH, not the 100 TB corpus behind the index.
# ---------------------------------------------------------------------------
def minhash_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 5,
    hash_fn: str = "xxh",
) -> DataFrame:
    """The persistable LSH index: (id, band, bucket) rows, exactly the
    frame ``minhash_lsh_candidates`` derives internally. At scale, write
    it bucketed/partitioned by (band, bucket) so incremental probes read
    only the touched buckets (partition pruning on the probe keys) and
    the candidate join is co-located with zero index-side shuffle."""
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_n, hash_fn)
    return band_buckets(sig, num_hashes, band_size, id_col)


def minhash_lsh_candidates_incremental(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    band_size: int = 2,
    shingle_n: int = 5,
    hash_fn: str = "xxh",
    broadcast_new: bool = True,
    max_bucket: int | None = None,
) -> DataFrame:
    """Candidate pairs introduced by a new ingest batch: new-vs-indexed
    plus new-vs-new, as (id_a < id_b) — the same pair set the full-batch
    ``minhash_lsh_candidates`` would emit restricted to pairs touching
    the batch (asserted by the split-parity pytest).

    Scale shape: the batch's band buckets BROADCAST into the probe join
    against the index (broadcast_new=False falls back to a shuffled
    equi-join on (band, bucket) for jumbo backfill batches), so the
    index is scanned once and never shuffled; in-batch pairs reuse the
    groupBy-bucket expansion (pre-distinct — ONE trailing distinct
    covers both sources). The batch bucket frame feeds both paths —
    recomputing its signature fold twice costs batch-sized work, which
    incremental ingest treats as negligible by definition.

    ``max_bucket`` mirrors the batch op's hot-bucket guard with the SAME
    semantics (split parity preserved): a bucket is skipped when its
    TOTAL population — indexed ids plus batch ids — exceeds the cap.
    Costs one extra aggregation over the TOUCHED index rows (batch-
    proportional, only when the cap is set); audit skips by comparing
    bucket totals, e.g. via ``hot_buckets`` on index ∪ batch buckets."""
    nb = minhash_index(
        new_docs, id_col, text_col, num_hashes, band_size, shingle_n, hash_fn
    )
    old = index.select(
        F.col(id_col).alias("_old_id"), "band", "bucket"
    )
    if max_bucket is not None:
        nb_keys = nb.select("band", "bucket").distinct()
        old_counts = (
            old.join(F.broadcast(nb_keys), ["band", "bucket"])
            .groupBy("band", "bucket")
            .agg(F.count("*").alias("_n_old"))
        )
        new_counts = nb.groupBy("band", "bucket").agg(
            F.count("*").alias("_n_new")
        )
        ok_keys = (
            new_counts.join(old_counts, ["band", "bucket"], "left")
            .filter(
                F.coalesce("_n_old", F.lit(0)) + F.col("_n_new")
                <= F.lit(max_bucket)
            )
            .select("band", "bucket")
        )
        nb = nb.join(F.broadcast(ok_keys), ["band", "bucket"], "left_semi")
    probe = F.broadcast(nb) if broadcast_new else nb
    cross = (
        old.join(probe.withColumnRenamed(id_col, "_new_id"), ["band", "bucket"])
        .filter(F.col("_old_id") != F.col("_new_id"))
        .select(
            F.least("_old_id", "_new_id").alias("id_a"),
            F.greatest("_old_id", "_new_id").alias("id_b"),
        )
    )
    # in-batch buckets already filtered through ok_keys above, so no
    # second cap here; raw (pre-distinct) pairs + ONE trailing distinct
    within = bucket_pairs_raw(nb, id_col)
    return cross.union(within).distinct()


def _bucket_groups(buckets: DataFrame, id_col: str) -> DataFrame:
    """(band, bucket, sorted id array) for buckets holding >1 id — the
    shared first stage of within-bucket pair expansion and the hot-bucket
    audit."""
    return (
        buckets.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_list(F.col(id_col))).alias("ids"))
        .filter(F.size("ids") > 1)
    )


def hot_buckets(
    buckets: DataFrame, id_col: str, max_bucket: int
) -> DataFrame:
    """Audit face of the ``max_bucket`` skew guard: the (band, bucket,
    n_ids) rows that ``bucket_pairs(max_bucket=...)`` SKIPS. Count/log
    this next to any capped run so dropped recall is visible, never
    silent."""
    return (
        _bucket_groups(buckets, id_col)
        .filter(F.size("ids") > max_bucket)
        .select("band", "bucket", F.size("ids").alias("n_ids"))
    )


def bucket_pairs_raw(
    buckets: DataFrame, id_col: str, max_bucket: int | None = None
) -> DataFrame:
    """``bucket_pairs`` WITHOUT the trailing distinct — for callers that
    union several pair sources and dedup once at the end (the
    incremental candidate path), avoiding an extra shuffle over the
    intermediate pair set."""
    grouped = _bucket_groups(buckets, id_col)
    if max_bucket is not None:
        # hot-bucket skew guard: a degenerate bucket of k ids is ONE
        # grouped row whose expansion is k²/2 structs in a single task —
        # un-splittable by AQE. Dropping over-cap buckets trades bounded
        # recall for a hard ceiling (audit with ``hot_buckets``).
        grouped = grouped.filter(F.size("ids") <= max_bucket)
    return _pairs_from_groups(grouped)


def _pairs_from_groups(grouped: DataFrame) -> DataFrame:
    """Expand a ``_bucket_groups`` frame into (id_a < id_b) pairs via the
    shifted-slice transform — split out so callers that also audit the
    SAME groups frame (the online gate's hot-bucket count) aggregate
    once, not twice."""
    n = F.size(F.col("ids"))
    pair_structs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, n),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return grouped.select(F.explode(pair_structs).alias("p")).select(
        F.col("p.id_a"), F.col("p.id_b")
    )


def bucket_pairs(
    buckets: DataFrame, id_col: str, max_bucket: int | None = None
) -> DataFrame:
    """Within-bucket candidate pairs (id_a < id_b) from an (id, band,
    bucket) frame via the groupBy-bucket expansion — one collected-id
    array per bucket, pairs expanded by shifted-slice transform (no
    self-join). Shared by the batch candidates, the incremental path
    and the online ingest gate so the subtle i+2 slice bound lives in
    ONE place. ``max_bucket`` skips over-cap buckets (see
    ``bucket_pairs_raw`` / ``hot_buckets``)."""
    return bucket_pairs_raw(buckets, id_col, max_bucket).distinct()


def semantic_pairs(
    emb: DataFrame,
    n_clusters: int = 16,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "sem0",
    broadcast_vectors: bool = True,
) -> DataFrame:
    """SemDeDup candidate stage (Abbas et al. 2023, arXiv:2303.09540):
    semantic duplicates are pairs that land in the SAME coarse embedding
    cluster AND have cosine >= threshold. Clustering makes the workload
    tractable — pairwise cosine is only ever computed within a cluster,
    so cost is sum-over-clusters of k², never global n².

    Clusters are the deterministic one-shot hash-seeded quantizer shared
    with the IVF index (similarity.pick_centroids / ivf_assign): a
    map-only assignment with centroid literals, no shuffle. At scale
    n_clusters GROWS with the corpus (SemDeDup uses ~n/1000 clusters) so
    per-cluster lists stay bounded; here the cid join key is COARSE, so
    pair generation uses a self-join (AQE-skew-splittable, stays
    distributed) rather than the groupBy-bucket expansion used for
    fine-grained minhash buckets — same reasoning as
    ``simhash_neardup_candidates``. The narrow (id, cid, ccos) assignment
    is localCheckpoint-materialized ONCE (the argmax-over-centroids map is
    the expensive part; 16 B/row), and vectors rejoin via broadcast for
    the exact refine, exactly the ``embedding_neardup_pairs`` shape.

    Returns (id_a, id_b, cid, cosine) with id_a < id_b.
    """
    from mhealth_spark.pipelines.similarity import pick_centroids, ivf_assign

    cents = pick_centroids(emb, n_clusters, id_col, vec_col, salt)
    assigned = (
        ivf_assign(emb, cents, id_col, vec_col)
        .select(F.col(id_col).alias("id"), "cid")
        .localCheckpoint(eager=True)
    )
    return _semantic_pairs_from(
        assigned, emb, threshold, id_col, vec_col, broadcast_vectors
    )


def _semantic_pairs_from(
    assigned: DataFrame,
    emb: DataFrame,
    threshold: float,
    id_col: str,
    vec_col: str,
    broadcast_vectors: bool = True,
) -> DataFrame:
    """Within-cluster pair expansion + exact-cosine refine over a
    materialized narrow (id, cid) assignment. ``broadcast_vectors=False``
    swaps the vector-rejoin broadcasts for shuffled hash joins keyed on
    id — required once the embedding table exceeds the broadcast budget
    (the 100-TB default; both paths emit identical pairs)."""
    from mhealth_spark.pipelines.similarity import _cos_side, _normed, _pair_cosine

    a, b = assigned.alias("a"), assigned.alias("b")
    cand = a.join(
        b, (F.col("a.cid") == F.col("b.cid")) & (F.col("a.id") < F.col("b.id"))
    ).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.col("a.cid").alias("cid"),
    )
    v = _normed(emb, id_col, vec_col)
    va, vb = _cos_side(v, "a"), _cos_side(v, "b")
    if broadcast_vectors:
        va, vb = F.broadcast(va), F.broadcast(vb)
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", _pair_cosine())
        .filter(F.round("cosine", 9) >= threshold)
        .select("id_a", "id_b", "cid", "cosine")
    )


def semantic_keep(
    emb: DataFrame,
    n_clusters: int = 16,
    threshold: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "sem0",
    broadcast_vectors: bool = True,
) -> DataFrame:
    """Full SemDeDup keep/drop decision per vector: semantic-duplicate
    pairs (``semantic_pairs``) are closed into groups (connected
    components — duplicate groups never span coarse clusters since pairs
    are intra-cluster by construction) and each group keeps exactly ONE
    member: the one FARTHEST from its cluster centroid (lowest ``ccos``),
    the paper's low-centroid-similarity retention rule — extreme points
    carry the most signal; ties break toward the lower id. Docs in no
    pair keep themselves.

    Returns one row per input vector: (id, cid, ccos, group_id, keep) —
    ``group_id`` is the min member id of the semantic-duplicate group
    (the vector's own id for singletons)."""
    from mhealth_spark.pipelines.similarity import pick_centroids, ivf_assign

    cents = pick_centroids(emb, n_clusters, id_col, vec_col, salt)
    # ONE assignment pass, materialized narrow (24 B/row): feeds both the
    # pair stage and the keep rule — the argmax-over-centroids map never
    # recomputes
    assigned = (
        ivf_assign(emb, cents, id_col, vec_col, with_score=True)
        .select(F.col(id_col).alias("id"), "cid", "ccos")
        .localCheckpoint(eager=True)
    )
    pairs = _semantic_pairs_from(
        assigned.select("id", "cid"), emb, threshold, id_col, vec_col,
        broadcast_vectors,
    )
    # the duplicate-group map is one row per DUPLICATE doc — unbounded on
    # a dup-heavy corpus, so it follows the same broadcast budget switch
    # as the vector rejoin (shuffled left join keyed on id past it)
    comp = neardup_components(pairs).select(
        F.col("doc_id").alias("id"), "cluster_id"
    )
    if broadcast_vectors:
        comp = F.broadcast(comp)
    labeled = assigned.join(comp, "id", "left").withColumn(
        "group_id", F.coalesce("cluster_id", F.col("id"))
    )
    # winner per duplicate group: lowest centroid affinity, then lowest id
    from pyspark.sql import Window

    w = Window.partitionBy("group_id").orderBy(
        F.col("ccos").asc(), F.col("id").asc()
    )
    return (
        labeled.withColumn("keep", F.row_number().over(w) == 1)
        .select("id", "cid", "ccos", "group_id", "keep")
    )


def winnow_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    max_doc_freq: int | None = 64,
) -> DataFrame:
    """Near-dup candidate pairs from shared WINNOWING fingerprints —
    the detection half of the MOSS sketch: docs sharing >= ``min_shared``
    selected fingerprint hashes are candidates, at ~2/(w+1) of the cost
    of the full inverted-index Jaccard (the sketch replaces the shingle
    universe). Same scale guards as ``ngram_jaccard_pairs``: the
    ``max_doc_freq`` stop-fingerprint cap bounds the per-hash join
    fan-out before the self-join, so a boilerplate fingerprint shared by
    a million docs costs a filter, not a 10^12 pair explosion. Output
    counts shared distinct hashes per (id_a < id_b) pair."""
    from mhealth_spark.pipelines.text import winnow_fingerprints

    # the selected-fingerprint table is the MOSS sketch — ~2/(w+1) of the
    # corpus' grams, the artifact winnowing systems persist. It feeds the
    # doc-frequency cap AND both sides of the self-join; without a cut,
    # the rolling-min fingerprint pass re-runs once per reference (the
    # test repartition is round-robin, which blocks ReuseExchange).
    # EAGER: the self-join references it twice inside one action, and
    # concurrent stages each recompute an unmaterialized checkpoint.
    fp = (
        winnow_fingerprints(df, k, w, id_col, text_col)
        .select(id_col, "h")
        .distinct()
        .localCheckpoint(eager=True)
    )
    if max_doc_freq is not None:
        dfreq = fp.groupBy("h").agg(F.count("*").alias("_df"))
        fp = fp.join(
            dfreq.filter(F.col("_df") <= max_doc_freq), "h"
        ).select(id_col, "h")
    a = fp.alias("a")
    b = fp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count("*").cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# ---------------------------------------------------------------------------
# Content-defined chunking (CDC) dedup
# ---------------------------------------------------------------------------
def cdc_chunks(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 4,
    boundary_hex: tuple[str, ...] = ("0",),
) -> DataFrame:
    """Content-defined chunk table: ``(id, chunk_id, chunk_hash, n_words)``.

    A chunk boundary falls AFTER word ``i`` when the md5 of the trailing
    ``window``-word shingle starts with one of ``boundary_hex`` (rate =
    len/16 -> mean chunk ~ 16/len words). Boundaries depend only on
    LOCAL content, so an insertion early in a document shifts every
    fixed n-gram span but CDC chunking resynchronizes at the next
    boundary — the property rsync/LBFS-style dedup is built on, and what
    ``span_exact_*`` (fixed stride) cannot give.

    Shape: posexplode words -> per-doc window (``collect_list`` over the
    trailing ``window`` rows) -> md5 as a TOP-LEVEL codegen expression
    (never inside a HOF lambda — the DSIR lesson) -> boundary counts via
    a strictly-preceding running sum -> one groupBy(doc, chunk) rebuild.
    The only corpus-wide shuffle keys on (id, chunk hash) pairs.
    """
    w = Window.partitionBy(id_col).orderBy("i")
    trail = w.rowsBetween(-(window - 1), 0)
    before = w.rowsBetween(Window.unboundedPreceding, -1)
    ex = docs.select(
        F.col(id_col), F.posexplode(words_col(text_col)).alias("i", "word")
    )
    sh = ex.withColumn(
        "_win", F.array_join(F.collect_list("word").over(trail), "\x1f")
    )
    bnd = sh.withColumn(
        "_b",
        (F.col("i") >= window - 1)
        & F.substring(F.md5("_win"), 1, 1).isin(*boundary_hex),
    ).withColumn(
        "chunk_id",
        F.coalesce(
            F.sum(F.col("_b").cast("int")).over(before), F.lit(0)
        ).cast("int"),
    )
    return (
        bnd.groupBy(id_col, "chunk_id")
        .agg(F.sort_array(F.collect_list(F.struct("i", "word"))).alias("_ws"))
        .select(
            id_col,
            "chunk_id",
            F.md5(
                F.array_join(
                    F.transform(F.col("_ws"), lambda s: s["word"]), "\x1f"
                )
            ).alias("chunk_hash"),
            F.size("_ws").cast("int").alias("n_words"),
        )
    )


def cdc_dup_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 4,
    boundary_hex: tuple[str, ...] = ("0",),
    broadcast_dups: bool = True,
) -> DataFrame:
    """Per-doc CDC dedup stats: how much of each document is made of
    chunks that also occur in ANOTHER document. ``(id, n_chunks,
    n_dup_chunks, n_words, n_dup_words, dup_word_ratio)``.

    The duplicated-chunk-hash set is corpus-dependent and unbounded: on
    a boilerplate-heavy 100 TB crawl it can far exceed the broadcast
    budget. ``broadcast_dups=False`` switches the hit-marking semi-join
    to a shuffled join — same results, same pattern as
    ``span_dedup_stats``/``span_dedup_mask``."""
    # the chunk table feeds three references below (shared-hash agg, the
    # hit-marking semi-join, per-doc totals) — without a cut the whole
    # explode + trailing-window + rebuild pipeline re-runs per reference.
    # EAGER materialization (multi-reference single action, see the
    # checkpoint-discipline note in neardup_components); the chunk table
    # is ~words/window rows — the artifact every CDC dedup system
    # persists anyway.
    ch = cdc_chunks(docs, id_col, text_col, window, boundary_hex).localCheckpoint(
        eager=True
    )
    # chunk hashes seen in >= 2 distinct docs; distinct-per-doc first so
    # a doc repeating its own chunk does not self-mark
    shared = (
        ch.select("chunk_hash", id_col)
        .distinct()
        .groupBy("chunk_hash")
        .agg(F.count("*").alias("_nd"))
        .filter(F.col("_nd") >= 2)
        .select("chunk_hash")
    )
    if broadcast_dups:
        shared = F.broadcast(shared)
    marked = ch.join(shared, "chunk_hash", "left_semi").select(
        id_col, "chunk_id", "n_words"
    )
    per_doc = ch.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_chunks"),
        F.sum("n_words").cast("long").alias("n_words"),
    )
    dup = marked.groupBy(id_col).agg(
        F.count("*").cast("long").alias("n_dup_chunks"),
        F.sum("n_words").cast("long").alias("n_dup_words"),
    )
    return (
        per_doc.join(dup, id_col, "left")
        .fillna(0, ["n_dup_chunks", "n_dup_words"])
        .select(
            id_col,
            "n_chunks",
            "n_dup_chunks",
            "n_words",
            "n_dup_words",
            F.round(F.col("n_dup_words") / F.col("n_words"), 6).alias(
                "dup_word_ratio"
            ),
        )
    )
