"""Text analysis for training-data pipelines: tokenization, quality
scoring, language ID, fingerprinting. All JVM-side expressions (no UDFs),
so they run at 100 TB inside whole-stage codegen with pushdown intact.

Two hash tiers:
- ``xxhash64`` — the scale path (cheap 64-bit, Spark-native);
- ``md5`` — the parity path, byte-identical in DuckDB oracles.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

STOPWORDS_EN = ["the", "a", "an", "of", "and", "to", "in", "is", "it", "that"]

# tiny marker lexicons for n-gram-free language ID (deterministic heuristic)
LANG_MARKERS = {
    "en": ["the", "a", "of", "and", "is"],
    "de": ["der", "die", "das", "und", "ist"],
    "es": ["el", "la", "de", "que", "es"],
    "fr": ["le", "la", "et", "est", "que"],
}

WORD_SPLIT = r"\s+"


def words_col(text_col: str = "text") -> Column:
    """Whitespace tokenization (empty strings removed)."""
    return F.filter(
        F.split(F.col(text_col), WORD_SPLIT), lambda w: w != F.lit("")
    )


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + a BPE-ish subword estimate
    (⌈chars/4⌉ per word, the common ~4-chars-per-token heuristic)."""
    w = words_col(text_col)
    return df.withColumn("n_words", F.size(w)).withColumn(
        "n_subwords_est",
        F.aggregate(
            w, F.lit(0), lambda acc, x: acc + F.ceil(F.length(x) / 4).cast("int")
        ),
    )


# column names added by quality_features / repetition grams — the
# single source of truth for quality_filter's keep_cols clash guard
# (tests assert these match the columns the functions actually add, so
# a new feature column cannot silently reopen the overwrite hole)
QUALITY_FEATURE_COLS = (
    "q_n_chars",
    "q_n_words",
    "q_mean_word_len",
    "q_punct_ratio",
    "q_alpha_ratio",
    "q_stopword_ratio",
)
REPETITION_GRAM_COLS = ("dup_gram_frac_2", "dup_gram_frac_5")


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword / word-shape quality signals
    (adds exactly ``QUALITY_FEATURE_COLS``)."""
    w = words_col(text_col)
    t = F.col(text_col)
    n_chars = F.length(t)
    n_words = F.size(w)
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    n_alpha = F.length(F.regexp_replace(t, r"[^A-Za-z]", ""))
    n_stop = F.size(F.filter(w, lambda x: F.lower(x).isin(STOPWORDS_EN)))
    return (
        df.withColumn("q_n_chars", n_chars)
        .withColumn("q_n_words", n_words)
        .withColumn(
            "q_mean_word_len",
            F.when(n_words > 0, n_chars / n_words).otherwise(F.lit(None)),
        )
        .withColumn(
            "q_punct_ratio",
            F.when(n_chars > 0, n_punct / n_chars).otherwise(F.lit(None)),
        )
        .withColumn(
            "q_alpha_ratio",
            F.when(n_chars > 0, n_alpha / n_chars).otherwise(F.lit(None)),
        )
        .withColumn(
            "q_stopword_ratio",
            F.when(n_words > 0, n_stop / n_words).otherwise(F.lit(None)),
        )
    )


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Marker-lexicon language ID: argmax of per-language marker hits
    (ties → lexicon order; zero hits → 'unknown')."""
    w = words_col(text_col)

    def marker_pred(markers: list[str]):
        # factory, not a default-arg lambda: PySpark reads lambda arity and
        # a 2nd parameter would be bound to the array index
        return lambda x: F.lower(x).isin(markers)

    counts = {
        lang: F.size(F.filter(w, marker_pred(markers)))
        for lang, markers in LANG_MARKERS.items()
    }
    best = F.lit("unknown")
    best_n = F.lit(0)
    for lang, n in counts.items():
        is_better = n > best_n
        best = F.when(is_better, F.lit(lang)).otherwise(best)
        best_n = F.when(is_better, n).otherwise(best_n)
    return df.withColumn("lang_pred", best)


def _gram_strings(w: Column, n: int) -> Column:
    """Word n-grams as space-joined strings, built from n SHIFTED SLICES
    zipped elementwise — n array allocations per doc instead of one slice
    per gram position (the naive transform(sequence, i -> slice(w,i+1,n))
    allocates ~|doc| subarrays and was the measured hotspot of every
    shingle consumer). Output strings are identical to the naive form:
    for len(w) < n the single gram is the whole doc joined (matching the
    sequence(0, greatest(len-n, 0)) boundary)."""
    size = F.size(w)
    m = size - (n - 1)
    parts = [F.slice(w, k + 1, m) for k in range(n)]
    g = parts[0]
    for p in parts[1:]:
        g = F.zip_with(g, p, lambda a, b: F.concat(a, F.lit(" "), b))
    return F.when(size >= n, g).otherwise(F.array(F.concat_ws(" ", w)))


def shingles_col(text_col: str = "text", n: int = 5) -> Column:
    """Distinct word n-gram shingles as space-joined strings."""
    w = words_col(text_col)
    sh = _gram_strings(w, n)
    return F.array_distinct(F.filter(sh, lambda s: s != F.lit("")))


def fingerprint_md5(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Content fingerprint: md5 of the whitespace-normalized text
    (byte-identical to the DuckDB oracle)."""
    norm = F.concat_ws(" ", words_col(text_col))
    return df.withColumn("fingerprint", F.md5(norm))


def rolling_fingerprint_xxh(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Scale-path rolling fingerprint: xxhash64 folded over word hashes
    (order-sensitive, 64-bit) — the cheap dedup key at 100 TB."""
    w = words_col(text_col)
    fp = F.aggregate(
        w,
        F.lit(1469598103934665603).cast("long"),  # FNV offset basis seed
        lambda acc, x: F.xxhash64(acc, x),
    )
    return df.withColumn("fingerprint64", fp)


def shingles_all_col(text_col: str = "text", n: int = 5) -> Column:
    """Word n-gram shingles WITHOUT dedup (repetition analysis needs the
    multiplicity that ``shingles_col`` deliberately discards)."""
    w = words_col(text_col)
    sh = _gram_strings(w, n)
    return F.filter(sh, lambda s: s != F.lit(""))


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Intra-document repetition quality signals (the Gopher/RefinedWeb
    repetition-filter family): fraction of duplicate word 2-grams and
    5-grams inside each document. Machine-generated and boilerplate text
    scores high; the standard pretraining filter drops docs above a
    threshold. Pure JVM expressions — per-row array math, no shuffle."""
    out = df.select(F.col(id_col), F.col(text_col))
    for n in (2, 5):
        grams = shingles_all_col(text_col, n)
        total = F.size(grams)
        distinct = F.size(F.array_distinct(grams))
        out = out.withColumn(f"n_grams_{n}", total).withColumn(
            f"dup_gram_frac_{n}",
            F.when(total > 0, (total - distinct) / total).otherwise(F.lit(0.0)),
        )
    return out.drop(text_col)


DEFAULT_QUALITY_THRESHOLDS = dict(
    min_words=10,
    max_words=100_000,
    min_mean_word_len=2.0,
    max_mean_word_len=12.0,
    max_punct_ratio=0.3,
    min_alpha_ratio=0.5,
    min_stopword_ratio=0.01,
    max_dup_frac_2=0.3,
    max_dup_frac_5=0.15,
)


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_cols: bool = False,
    **overrides: float,
) -> DataFrame:
    """Composite pretraining quality filter (the Gopher/RefinedWeb rule
    family): length, word shape, punctuation/alpha balance, stopword
    presence, and intra-doc n-gram repetition, folded into one keep/drop
    decision with the failed rule names in ``reasons`` (deterministic
    rule order, comma-joined — auditable and groupable).

    Single-pass JVM expressions over each row — no shuffle, no UDF; at
    100 TB this is a map-only pass that composes with any scan. All
    ratios are exact integer-division doubles, so thresholds compare
    identically in any IEEE engine (the DuckDB oracle replays them
    verbatim).

    ``keep_cols=True`` returns every input column plus keep/reasons
    instead of the narrow (id, keep, reasons) projection — the shape a
    STREAMING pipeline needs, where the decision cannot be joined back
    onto the stream (no stream self-joins); still map-only."""
    th = {**DEFAULT_QUALITY_THRESHOLDS, **overrides}
    if keep_cols:
        # the guard must cover EVERY internally-added name, not just the
        # two output columns: withColumn silently REPLACES a same-named
        # input column, so a user column called e.g. q_n_words would be
        # overwritten by the computed feature and returned corrupted via
        # select(*df.columns) with no error at all. Derived from the
        # shared constants, never hand-listed here.
        internal = {"keep", "reasons", *QUALITY_FEATURE_COLS, *REPETITION_GRAM_COLS}
        clash = internal & set(df.columns)
        if clash:
            raise ValueError(
                f"keep_cols=True would shadow existing column(s) {sorted(clash)}"
            )
    base = df if keep_cols else df.select(F.col(id_col), F.col(text_col))
    q = quality_features(base, text_col)
    for n in (2, 5):
        grams = shingles_all_col(text_col, n)
        total = F.size(grams)
        distinct = F.size(F.array_distinct(grams))
        q = q.withColumn(
            f"dup_gram_frac_{n}",
            F.when(total > 0, (total - distinct) / total).otherwise(F.lit(0.0)),
        )
    checks = [
        ("words_lt_min", F.col("q_n_words") < th["min_words"]),
        ("words_gt_max", F.col("q_n_words") > th["max_words"]),
        (
            "mean_word_len_out",
            (F.col("q_mean_word_len") < th["min_mean_word_len"])
            | (F.col("q_mean_word_len") > th["max_mean_word_len"]),
        ),
        ("punct_ratio_high", F.col("q_punct_ratio") > th["max_punct_ratio"]),
        ("alpha_ratio_low", F.col("q_alpha_ratio") < th["min_alpha_ratio"]),
        (
            "stopword_ratio_low",
            F.col("q_stopword_ratio") < th["min_stopword_ratio"],
        ),
        ("dup_2gram_high", F.col("dup_gram_frac_2") > th["max_dup_frac_2"]),
        ("dup_5gram_high", F.col("dup_gram_frac_5") > th["max_dup_frac_5"]),
    ]
    fails = F.array_compact(
        F.array(*[F.when(cond, F.lit(name)) for name, cond in checks])
    )
    out = q.withColumn("reasons", F.concat_ws(",", fails)).withColumn(
        "keep", F.col("reasons") == ""
    )
    if keep_cols:
        return out.select(*df.columns, "keep", "reasons")
    return out.select(id_col, "keep", "reasons")


PII_PATTERNS = [
    # order matters: emails before bare domains-ish tokens; phone last so
    # digit runs inside emails are already gone
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ipv4", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d\- ]{7,}\d", "<PHONE>"),
]


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrubbing pass: replace emails / IPv4s / phone-number-shaped
    digit runs with typed placeholder tokens, and count replacements per
    doc (the audit signal a corpus build logs). Sequential
    ``regexp_replace`` chain — pure map, whole-stage codegen, no UDF;
    the pattern order is part of the contract (emails first so their
    digit runs never re-match as phones)."""
    out = F.col(text_col)
    n_hits = F.lit(0)
    for _, pat, repl in PII_PATTERNS:
        n_hits = n_hits + F.size(F.regexp_extract_all(out, F.lit(pat), F.lit(0)))
        out = F.regexp_replace(out, pat, repl)
    return df.withColumn("text_redacted", out).withColumn(
        "n_pii_redacted", n_hits.cast("int")
    )


def _line_hash(line: Column) -> Column:
    """The boilerplate-line key: md5 of the trimmed, lower-cased line
    (Spark ``trim`` strips spaces only, so ``\\r`` and ``\\t`` count)."""
    return F.md5(F.lower(F.trim(line)))


def line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    line_sep: str = "\n",
    min_docs: int = 2,
    keep_first: bool = False,
    broadcast_dups: bool = True,
) -> DataFrame:
    """CCNet-style line-level dedup with RECONSTRUCTION (Wenzek et al.
    2020): a line whose normalized hash appears in >= ``min_docs``
    distinct documents is boilerplate (headers, nav bars, license
    blurbs); this drops those lines and rebuilds each document's
    cleaned text. ``keep_first=True`` keeps each duplicated line in the
    single lowest-``id_col`` document instead of dropping it everywhere
    (CCNet's shard-order rule, made deterministic corpus-wide).

    Output: (id, n_lines, n_kept, text_clean) — docs whose every line
    is boilerplate survive with ``text_clean = ''``.

    Scale shape (span_dedup_stats' two-phase, plus a doc-bounded
    rebuild): scan 1 aggregates line hashes with a two-phase
    count-distinct + min — never a per-hash list, so a footer shared by
    millions of docs costs two counters; the surviving duplicated-hash
    set is output-sized and broadcasts back (``broadcast_dups=False``
    falls back to a shuffled join for heavily templated crawls); scan 2
    re-derives lines map-side, marks hits, and folds straight into the
    per-document rebuild groupBy — sorting (pos, line) structs INSIDE
    the aggregate so reconstruction order is deterministic under any
    physical plan. Normalization (trim + lower) applies to the HASH
    only; reconstruction keeps the original line text."""
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), line_sep)).alias("pos", "line"),
    ).withColumn("h", _line_hash(F.col("line")))
    dup_agg = lines.groupBy("h").agg(
        F.count_distinct(F.col(id_col)).alias("n_docs"),
        F.min(F.col(id_col)).alias("first_id"),
    )
    dups = dup_agg.filter(F.col("n_docs") >= min_docs).select("h", "first_id")
    if broadcast_dups:
        dups = F.broadcast(dups)
    marked = lines.join(dups, "h", "left")
    keep = F.col("first_id").isNull()
    if keep_first:
        keep = keep | (F.col(id_col) == F.col("first_id"))
    rebuilt = (
        marked.groupBy(id_col)
        .agg(
            F.count("*").alias("n_lines"),
            F.sum(F.when(keep, 1).otherwise(0)).cast("long").alias("n_kept"),
            F.concat_ws(
                line_sep,
                F.array_sort(
                    F.collect_list(
                        F.when(
                            keep,
                            F.struct(
                                F.col("pos").alias("pos"),
                                F.col("line").alias("line"),
                            ),
                        )
                    )
                ).getField("line"),
            ).alias("text_clean"),
        )
    )
    return rebuilt.select(
        id_col, F.col("n_lines").cast("long").alias("n_lines"), "n_kept", "text_clean"
    )


# GPT-2-style pre-tokenizer pattern, restricted to the regex subset that
# Java (Spark) and RE2 (DuckDB/production scanners) interpret identically:
# contraction suffixes, space-prefixed letter runs, digit runs, punctuation
# runs, whitespace runs. (The original GPT-2 pattern's trailing-space
# lookahead is dropped — RE2 has no lookahead.)
PRETOKEN_PATTERN = r"'(?:[sdmt]|ll|ve|re)| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+"


def pretokenize(
    df: DataFrame,
    text_col: str = "text",
    drop_space_runs: bool = True,
) -> DataFrame:
    """BPE-family pre-tokenization: split text into the GPT-2 pretoken
    units (contractions, space-prefixed words, number runs, punctuation
    runs) that a byte-pair merge table would then operate on. This is
    the deterministic, engine-portable half of real tokenization — the
    unit count is the input-length driver for packing/batching budgets,
    and the unit sequence is what n-gram/fingerprint ops should consume
    when whitespace words are too coarse. ``drop_space_runs`` removes
    pure-whitespace units (they carry no merge information without the
    lookahead form). Pure map — one regexp_extract_all per row, no
    shuffle."""
    toks = F.regexp_extract_all(F.col(text_col), F.lit(PRETOKEN_PATTERN), 0)
    if drop_space_runs:
        toks = F.filter(toks, lambda t: F.trim(t) != F.lit(""))
    return df.withColumn("pretokens", toks).withColumn(
        "n_pretokens", F.size("pretokens").cast("long")
    )


def line_duplicate_hashes(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    line_sep: str = "\n",
    min_docs: int = 2,
) -> DataFrame:
    """The boilerplate-line artifact on its own: (h, n_docs, first_id)
    for every normalized line hash appearing in >= ``min_docs`` distinct
    documents. Same two-phase count-distinct aggregate as ``line_dedup``;
    persist it once per reference corpus and probe it from the streaming
    ingest face (``streaming.stream_line_dedup``)."""
    lines = docs.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), line_sep)).alias("line"),
    ).select(id_col, _line_hash(F.col("line")).alias("h"))
    return (
        lines.groupBy("h")
        .agg(
            F.count_distinct(F.col(id_col)).alias("n_docs"),
            F.min(F.col(id_col)).alias("first_id"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )


def _winnow_key(h: Column, pos: Column) -> Column:
    """The winnowing sort key ``h || '#' || lpad(10^9 − pos)``: its minimum
    over a window is the smallest hash, on ties the LARGEST position."""
    return F.concat(
        h,
        F.lit("#"),
        F.lpad((F.lit(1_000_000_000) - pos).cast("string"), 10, "0"),
    )


def winnow_fingerprints(
    docs: DataFrame,
    k: int = 5,
    w: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Winnowing fingerprint selection (Schleimer, Wilkerson, Aiken 2003
    — the MOSS algorithm): from the sequence of word ``k``-gram hashes,
    every window of ``w`` consecutive hashes contributes its RIGHTMOST
    MINIMUM; the distinct selected (pos, hash) pairs are the document's
    fingerprint sketch. Density ≈ 2/(w+1) of all grams, with the
    guarantee that any shared run of ≥ w+k−1 words between two documents
    shares at least one fingerprint — local, position-robust near-dup
    detection (insertions shift positions but not local minima).

    Engine-portable rightmost-min: each gram encodes one sortable key
    ``h || '#' || lpad(10^9 − pos)`` — a windowed ``min`` over it picks
    the smallest hash and, on ties, the LARGEST position, in one
    aggregate that Spark and any SQL engine evaluate identically (no
    struct-min or nested-window gymnastics). One explode + one
    (doc)-keyed window + distinct; hashing happens on the exploded
    column in codegen."""
    grams = _gram_strings(words_col(text_col), k)
    rows = (
        docs.select(F.col(id_col), F.posexplode(grams).alias("pos", "gram"))
        .filter(F.col("gram") != F.lit(""))
        .select(
            id_col,
            "pos",
            F.md5("gram").alias("h"),
        )
    )
    key = _winnow_key(F.col("h"), F.col("pos"))
    win = (
        Window.partitionBy(id_col)
        .orderBy("pos")
        .rowsBetween(Window.currentRow, w - 1)
    )
    n_grams = Window.partitionBy(id_col)
    staged = rows.select(
        id_col,
        "pos",
        key.alias("_key"),
        F.count("*").over(n_grams).alias("_n"),
    ).withColumn("_sel", F.min("_key").over(win))
    # only full windows select (pos <= n-w); short docs keep window 0
    sel = staged.filter(
        (F.col("pos") <= F.col("_n") - w) | (F.col("pos") == 0)
    ).select(
        id_col,
        F.substring(F.col("_sel"), 1, 32).alias("h"),
        (
            F.lit(1_000_000_000)
            - F.substring(F.col("_sel"), 34, 10).cast("long")
        ).cast("int").alias("pos"),
    )
    return sel.distinct()


# ---------------------------------------------------------------------------
# Sparse retrieval: BM25 + inverted postings (the sparse complement to
# the dense ANN family in pipelines/similarity.py)
# ---------------------------------------------------------------------------
def bm25_scores(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    top_k: int = 50,
) -> DataFrame:
    """Lucene-style BM25 over whitespace terms for one query:
    ``score(d) = sum_t ln(1 + (N-df+0.5)/(df+0.5)) * tf*(k1+1) /
    (tf + k1*(1-b+b*dl/avgdl))``.

    Two driver collects, both O(|query|)-tiny: corpus stats (N, total
    words -> avgdl, embedded as an exact double literal) and the df
    table (folded into a literal ``map``) — the same pattern a real
    engine uses (global stats are broadcast, postings streamed). The
    per-doc sum folds contributions in SORTED term order via
    ``array_sort`` + ``aggregate`` so float summation order is pinned
    (bit-identical to DuckDB's ``list_sum`` over ``ORDER BY term`` —
    see the similarity_outliers precedent), and ranking happens on the
    ROUNDED score so the top-k boundary cannot flip on a 1-ulp
    cross-engine divergence."""
    w = words_col(text_col)
    base = docs.select(F.col(id_col), w.alias("w")).withColumn(
        "dl", F.size("w")
    )
    stats = base.agg(
        F.sum("dl").alias("tw"), F.count("*").alias("nd")
    ).collect()[0]
    n_docs, avgdl = stats["nd"], stats["tw"] / stats["nd"]
    qlit = F.array(*[F.lit(t) for t in sorted(set(query_terms))])
    tf = (
        base.select(
            F.col(id_col),
            "dl",
            F.explode(
                F.filter(F.col("w"), lambda x: F.array_contains(qlit, x))
            ).alias("term"),
        )
        .groupBy(id_col, "dl", "term")
        .agg(F.count("*").alias("tf"))
        # (doc × query-term)-bounded, referenced by the df collect AND
        # the scoring pass — materialize once instead of re-running the
        # tokenize/filter/explode per reference
        .localCheckpoint(eager=True)
    )
    dft = {
        r["term"]: r["df"]
        for r in tf.groupBy("term")
        .agg(F.countDistinct(id_col).alias("df"))
        .collect()
    }
    import math

    idf_entries = []
    for t, dfv in sorted(dft.items()):
        idf_entries += [
            F.lit(t),
            F.lit(math.log(1.0 + (n_docs - dfv + 0.5) / (dfv + 0.5))),
        ]
    idf = F.create_map(*idf_entries) if idf_entries else F.create_map()
    contrib = idf[F.col("term")] * (
        F.col("tf") * (k1 + 1.0)
    ) / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl)))
    scored = (
        tf.select(F.col(id_col), F.col("term"), contrib.alias("c"))
        .groupBy(id_col)
        .agg(
            F.aggregate(
                F.array_sort(F.collect_list(F.struct("term", "c"))),
                F.lit(0.0),
                lambda acc, s: acc + s["c"],
            ).alias("s")
        )
    )
    return (
        scored.select(F.col(id_col), F.round("s", 6).alias("bm25"))
        .orderBy(F.desc("bm25"), id_col)
        .limit(top_k)
    )


def inverted_postings(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_df: int = 1,
) -> DataFrame:
    """Inverted index: ``(term, df, postings)`` with postings the sorted
    distinct doc ids. Distinct (term, doc) first (map-side combined),
    then one groupBy(term) building the posting list — the shuffle
    carries each posting exactly once. At 100 TB terms are range-bucketed
    by term hash and posting lists chunked per bucket; here the list fits
    a row."""
    ex = (
        docs.select(
            F.col(id_col), F.explode(words_col(text_col)).alias("term")
        )
        .distinct()
    )
    return (
        ex.groupBy("term")
        .agg(
            F.count("*").cast("long").alias("df"),
            F.sort_array(F.collect_list(id_col)).alias("postings"),
        )
        .filter(F.col("df") >= min_df)
    )


def bm25_stats(
    docs: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> tuple[dict[str, float], float]:
    """Freeze the corpus-global BM25 stats for one query: per-term
    ``idf = ln(1 + (N-df+0.5)/(df+0.5))`` and ``avgdl``. Same formulas
    (and the same Python ``math.log``) as ``bm25_scores`` computes
    inline, so an expression built from these literals scores
    bit-identically to the batch op. Two O(|query|)-tiny collects —
    train once on the static reference corpus, ship ~|query| doubles."""
    import math

    w = words_col(text_col)
    base = docs.select(F.col(id_col).alias("_id"), w.alias("w")).withColumn(
        "dl", F.size("w")
    )
    stats = base.agg(
        F.sum("dl").alias("tw"), F.count("*").alias("nd")
    ).collect()[0]
    n_docs, avgdl = stats["nd"], stats["tw"] / stats["nd"]
    qlit = F.array(*[F.lit(t) for t in sorted(set(query_terms))])
    dft = {
        r["term"]: r["df"]
        for r in base.select(
            "_id",
            F.explode(
                F.array_distinct(
                    F.filter(F.col("w"), lambda x: F.array_contains(qlit, x))
                )
            ).alias("term"),
        )
        .groupBy("term")
        .agg(F.count("*").alias("df"))
        .collect()
    }
    idf = {
        t: math.log(1.0 + (n_docs - dfv + 0.5) / (dfv + 0.5))
        for t, dfv in dft.items()
    }
    return idf, avgdl


def bm25_score_expr(
    idf: dict[str, float],
    avgdl: float,
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> Column:
    """Per-ROW BM25 score from FROZEN stats (idf map + avgdl, see
    ``bm25_stats``) — a pure Column expression: tf per query term via
    in-row filters, contributions folded in sorted term order.
    Summation is bit-identical to ``bm25_scores``' grouped fold (an
    absent term has tf=0 so its contribution is an exact +0.0, which
    cannot perturb the running sum). Zero state, zero shuffle — usable
    on a streaming frame as-is (see ``streaming.stream_bm25_score``)."""

    def eq_term(t: str):
        lit = F.lit(t)
        return lambda x: x == lit

    w = words_col(text_col)
    norm = k1 * (1.0 - b + b * F.size(w).cast("double") / F.lit(float(avgdl)))
    acc = F.lit(0.0)
    for t in sorted(idf):
        tf = F.size(F.filter(w, eq_term(t))).cast("double")
        acc = acc + F.lit(float(idf[t])) * (tf * (k1 + 1.0)) / (tf + norm)
    return acc
