"""Text-analysis operators for training-data curation.

All hot-path expressions are built-in ``pyspark.sql.functions`` (JVM,
codegen'd): regex counts, array intersections, md5.  No Python per row.

- token counting: whitespace tokens + a BPE-ish regex segmentation;
- quality scoring: length / punctuation-ratio / stopword-ratio features
  combined into a [0,1] score;
- language ID: stopword-hit scoring over a small marker-word table per
  language, argmax row-locally;
- fingerprinting: md5 over whitespace-normalized lowercase content
  (stable across engines — DuckDB md5 matches bit-for-bit).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .staging import stage

# Small, deterministic marker-word tables (top function words).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "it", "was", "for"],
    "es": ["el", "la", "de", "que", "y", "en", "los", "se", "del", "las"],
    "fr": ["le", "la", "de", "et", "les", "des", "est", "un", "une", "du"],
    "de": ["der", "die", "und", "das", "ist", "von", "den", "mit", "für", "auf"],
}

# BPE-ish segmentation: word pieces or single non-space symbols —
# approximates subword token counts without a vocab file.
BPE_ISH_PATTERN = r"[a-zA-Z]+|[0-9]+|[^\sa-zA-Z0-9]"

STOPWORDS_EN = LANG_MARKERS["en"]


def _tokens(col: F.Column) -> F.Column:
    """Tokenize via a higher-order filter().

    The filter() LAMBDA is load-bearing beyond its semantics: Catalyst
    treats the HOF as non-cheap, so CollapseProject will NOT inline a
    `_tokens` column into every downstream expression that references
    it (with_quality_score / with_language_id reference the token
    array 4-5x through derived scalars; with a plain-expression
    tokenizer the projections collapse and the split+filter re-runs
    per reference — measured 3-4x slower at sf0.1, r13 optimization
    round).  Use :func:`_tokens_arr` ONLY where the array is consumed
    once (explode / arrays_zip feeding an aggregate)."""
    toks = F.split(F.lower(F.trim(col)), r"[^a-zA-Z0-9]+")
    return F.filter(toks, lambda t: t != "")


def _tokens_arr(col: F.Column) -> F.Column:
    """Tokenize via array_remove — identical output to :func:`_tokens`
    (split() never yields NULL elements), but a plain codegen'd
    expression instead of an interpreted per-element lambda (~15%
    faster).  ONLY for single-consumption sites (the array feeds one
    explode/zip): as a multiply-referenced projection column it gets
    inlined per reference by CollapseProject — see :func:`_tokens`."""
    toks = F.split(F.lower(F.trim(col)), r"[^a-zA-Z0-9]+")
    return F.array_remove(toks, "")


def with_token_count(
    df: DataFrame, text_col: str = "text", out_prefix: str = ""
) -> DataFrame:
    """Whitespace and BPE-ish token counts as new columns."""
    ws = F.size(F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != ""))
    bpe = F.regexp_count(F.col(text_col), F.lit(BPE_ISH_PATTERN))
    return df.withColumn(f"{out_prefix}ws_tokens", ws).withColumn(
        f"{out_prefix}bpe_tokens", bpe
    )


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic document-quality features + combined score in [0, 1].

    Features (all JVM-side): character length, punctuation ratio,
    English-stopword ratio, mean word length.  Score = weighted blend,
    clamped.  Deterministic; SQL-expressible for the oracle.
    """
    t = F.col(text_col)
    toks = _tokens(t)
    # two-stage projection: expensive expressions (tokenize, regex
    # count) land in named columns FIRST, ratios/score reference the
    # columns.  A single projection would let Catalyst inline the
    # tokenizer into every ratio that mentions n_words (~5 evaluations
    # per row — measured 2.7× slower at sf0.1); CollapseProject keeps
    # the split because the inner expressions are non-cheap and
    # multiply-referenced.
    feats = df.withColumns(
        {
            "n_chars_q": F.length(t),
            "__n_punct": F.regexp_count(t, F.lit(r"[^\w\s]")),
            "n_words": F.size(toks),
            "__stop_hits": F.size(
                F.array_intersect(toks, F.array(*[F.lit(w) for w in STOPWORDS_EN]))
            ),
        }
    )
    n_chars = F.col("n_chars_q")
    n_words = F.col("n_words")
    punct_ratio = F.when(
        n_chars > 0, F.col("__n_punct").cast("double") / n_chars
    ).otherwise(0.0)
    stop_ratio = F.when(
        n_words > 0, F.col("__stop_hits").cast("double") / n_words
    ).otherwise(0.0)
    mean_word_len = F.when(n_words > 0, n_chars.cast("double") / n_words).otherwise(0.0)
    score = (
        F.least(n_words.cast("double") / F.lit(100.0), F.lit(1.0)) * 0.4
        + F.least(stop_ratio * F.lit(5.0), F.lit(1.0)) * 0.4
        + (F.lit(1.0) - F.least(punct_ratio * F.lit(4.0), F.lit(1.0))) * 0.2
    )
    return (
        feats.withColumn("punct_ratio", F.round(punct_ratio, 6))
        .withColumn("stop_ratio", F.round(stop_ratio, 6))
        .withColumn("mean_word_len", F.round(mean_word_len, 6))
        .withColumn("quality_score", F.round(score, 6))
        .drop("__n_punct", "__stop_hits")
    )


def with_language_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """n-gram-heuristic language ID: distinct-marker-word hits per
    language, argmax with deterministic tiebreak (language code asc);
    'und' (undetermined) when nothing matches."""
    toks = _tokens(F.col(text_col))
    scores = [
        F.size(
            F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))
        ).alias(f"score_{lang}")
        for lang, words in sorted(LANG_MARKERS.items())
    ]
    langs = sorted(LANG_MARKERS)
    scored = df.withColumns({f"score_{lang}": c for lang, c in zip(langs, scores)})
    best = F.greatest(*[F.col(f"score_{lang}") for lang in langs])
    pick = F.lit("und")
    # later languages in reverse order so earlier (asc) wins ties
    for lang in reversed(langs):
        pick = F.when(
            (F.col(f"score_{lang}") == best) & (best > 0), F.lit(lang)
        ).otherwise(pick)
    return scored.withColumn("lang_id", pick).drop(*[f"score_{lang}" for lang in langs])


def with_fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Content fingerprint: md5 of whitespace-normalized lowercase text.

    A stable engine-portable stand-in for a rolling hash — identical
    output in Spark and DuckDB, so it is oracle-checkable.  (A 64-bit
    rolling/polynomial variant would use xxhash64 — Spark-only.)
    """
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    return df.withColumn("fingerprint", F.md5(norm))


def word_frequencies(
    df: DataFrame, text_col: str = "text", min_count: int = 1
) -> DataFrame:
    """Corpus word frequencies: explode tokens → count.

    The groupBy gets map-side partial aggregation; at 100 TB this is
    the canonical two-phase distributed word count.
    """
    return (
        df.select(F.explode(_tokens_arr(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .filter(F.col("freq") >= min_count)
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Top-k TF-IDF terms per document — fully JVM, oracle-checkable.

    tf = term occurrences within the doc; idf = ln(N / df_t) where df_t
    counts documents containing the term.  Ranking is on the ROUNDED
    score (6 dp) with the term as tiebreak, so the ordering is identical
    across engines even when libm ln() differs in the last ulp.

    Scale shape: explode → (doc, term) counts (one partial-agged
    shuffle) → term doc-frequencies (second partial-agged shuffle, tiny
    output) → join back on term (AQE broadcasts the df_t side when it
    fits) → per-doc window top-k.  The corpus size N stays in-plan via
    a broadcast 1-row aggregate — no driver-side count.
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col), F.explode(_tokens_arr(F.col(text_col))).alias("term")
    )
    # tf feeds both df_t and the score join: staged so the
    # tokenize+count pass runs once, not once per consumer (r13 opt)
    tf = toks.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    tf = stage(tf, "tfidf_tf", eager=False)
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    n = df.agg(F.count_distinct(F.col(id_col)).alias("n_docs"))
    scored = (
        tf.join(df_t, on="term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df_t")), 6
            ),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "tfidf", "rank")
    )


def chunk_text_windows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_size: int = 64,
    overlap: int = 16,
) -> DataFrame:
    """Split documents into overlapping fixed-size token windows — the
    standard pre-tokenization chunking step of an LLM training/RAG
    pipeline (context-window packing, embedding-index chunks).

    Convention: whitespace tokens; window k covers tokens
    [k·stride, k·stride + chunk_size) with stride = chunk_size − overlap,
    and the number of windows is max(1, ceil((n − chunk_size)/stride) + 1)
    — every token is covered, and no window is a subset of its
    predecessor (no redundant tail chunk).  Emits (id, chunk_idx,
    chunk_text, n_tokens); token-free docs emit nothing.

    All JVM expressions: split → sequence → posexplode → slice →
    array_join.  Row-local (no shuffle); the explode multiplies rows by
    ~n_tokens/stride, which is the operator's output, not overhead.
    """
    if overlap >= chunk_size:
        raise ValueError(f"overlap {overlap} must be < chunk_size {chunk_size}")
    stride = chunk_size - overlap
    toks = F.filter(
        F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != ""
    )
    n = F.size(toks)
    n_chunks = F.greatest(
        F.lit(1).cast("long"),
        F.ceil((n - F.lit(chunk_size)) / F.lit(float(stride))) + F.lit(1),
    )
    return (
        df.select(
            F.col(id_col),
            toks.alias("__toks"),
            F.posexplode(F.sequence(F.lit(0), n_chunks - 1)).alias(
                "chunk_idx", "__k"
            ),
        )
        .filter(F.size("__toks") > 0)
        .select(
            id_col,
            "chunk_idx",
            F.array_join(
                F.slice(
                    F.col("__toks"),
                    F.col("chunk_idx") * stride + 1,
                    chunk_size,
                ),
                " ",
            ).alias("chunk_text"),
            F.least(
                F.lit(chunk_size),
                F.size("__toks") - F.col("chunk_idx") * stride,
            ).cast("int").alias("n_tokens"),
        )
    )


# PII patterns restricted to syntax both Java regex (Spark) and RE2
# (DuckDB oracle) support identically: character classes and bounded
# repetition only — no lookaround, no backreferences.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ssn": r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b",
    "phone": r"\+?[0-9]{1,3}[-.][0-9]{3}[-.][0-9]{3,4}",
}


def scrub_pii(
    df: DataFrame,
    text_col: str = "text",
    replacement: str = "[PII]",
    out_col: str = "scrubbed",
) -> DataFrame:
    """Redact emails / SSNs / phone numbers — the PII-removal stage of a
    training-data curation pipeline.

    Patterns apply in the fixed order email → ssn → phone (ssn is a
    phone-shaped string, so it must be claimed first); replacement is
    sequential ``regexp_replace``, all JVM-side, row-local, no shuffle.
    Per-pattern match counts (``n_email``/``n_ssn``/``n_phone``) are
    computed on the ORIGINAL text, so overlapping patterns can both
    count the same span — counts are audit telemetry, not a partition
    of the matches.

    Pre-gates (r9 verdict item 3; exact — NECESSARY conditions of the
    patterns, so gated output is byte-identical to the ungated
    sequential replace): the email pass only runs on rows containing
    ``@``, and the ssn/phone passes only on rows whose CURRENT
    (post-email-scrub) text contains a digit-[-.]-digit run.  Each
    gate is evaluated on the same text its replace would apply to
    (r10 ADVICE: gating on the ORIGINAL text was only equivalent for
    replacements that cannot create ``@`` or digit junctions — a
    digit-bearing ``replacement`` could splice a new ssn/phone shape
    into the scrubbed text that an original-text gate would skip).
    On a real crawl corpus most documents carry no PII shape, so the
    expensive full-pattern scans are skipped entirely for clean rows.
    Each pass lands in its own projection so the gate and the replace
    share one named column instead of duplicating the growing
    expression tree (the with_quality_score two-stage trick).

    Per-pattern match counts (``n_email``/``n_ssn``/``n_phone``)
    stay defined against the ORIGINAL text — audit telemetry of what
    arrived, gated by the same necessary conditions on the original.
    """
    t = F.col(text_col)

    def gate(src: F.Column, name: str) -> F.Column:
        if name == "email":
            return src.contains("@")
        # both the ssn and phone patterns require digit [-.] digit
        return src.rlike("[0-9][-.][0-9]")

    counts = {
        f"n_{name}": F.when(
            gate(t, name), F.regexp_count(t, F.lit(pat))
        ).otherwise(F.lit(0))
        for name, pat in PII_PATTERNS.items()
    }
    out = df.withColumns(counts)
    cur = text_col
    stages = list(PII_PATTERNS.items())
    for i, (name, pat) in enumerate(stages):
        nxt = out_col if i == len(stages) - 1 else f"__scrub{i}"
        src = F.col(cur)
        out = out.withColumn(
            nxt,
            F.when(
                gate(src, name), F.regexp_replace(src, pat, replacement)
            ).otherwise(src),
        )
        cur = nxt
    return out.drop(*[f"__scrub{i}" for i in range(len(stages) - 1)])


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ns: tuple[int, ...] = (2, 3),
    round_dp: int = 6,
) -> DataFrame:
    """Per-document n-gram repetition metrics — the Gopher-style
    repetition quality filter (machine-generated and boilerplate text
    repeats itself; natural text doesn't).

    For each document and each n in ``ns`` emits one row with:

    - ``top_gram_frac``: occurrences of the single most frequent
      n-gram / total n-gram occurrences;
    - ``dup_gram_frac``: fraction of n-gram occurrences whose n-gram
      appears more than once.

    Documents with fewer than n tokens emit no row for that n.

    Plan shape (all JVM, no Python): the lookahead that a window
    `lead()` would compute is built ROW-LOCALLY instead —
    ``arrays_zip(toks, slice(toks, 2, n), slice(toks, 3, n))`` zips
    each token with its successors (zip pads the shorter slices with
    null, exactly lead's end-of-partition semantics) — so the only
    shuffle in the whole plan is the two-phase count per
    (doc, n, xxhash64(gram)), whose key is high-cardinality and a
    FIXED 8 bytes (the gram string never materializes — see
    gram_struct below for the collision argument).  Nothing is
    quadratic in document length and no per-doc ordering ever
    crosses the wire.
    """
    max_n = max(ns)
    toks = _tokens_arr(F.col(text_col))
    big = F.size(toks)
    zipped = F.arrays_zip(
        toks.alias("w"),
        *[
            F.slice(toks, i + 1, big).alias(f"w{i}")
            for i in range(1, max_n)
        ],
    )
    leads = df.select(id_col, F.explode(zipped).alias("z")).select(
        id_col,
        F.col("z.w").alias("w"),
        *[F.col(f"z.w{i}").alias(f"w{i}") for i in range(1, max_n)],
    )

    def gram_struct(n: int) -> F.Column:
        # the gram string itself never reaches the output — only its
        # IDENTITY within a (doc, n) group matters — so the count key
        # is xxhash64 over the token columns: no per-gram string
        # allocation, and the count shuffle carries a fixed 8-byte key
        # instead of the gram text (r11: 173 s -> 126 s at sf10, 27%).
        # Collision exposure is within-(doc, n) only — ~(grams/doc)²/2⁶⁵
        # per doc, ~1e-13 at 1e3-token docs — and deterministic (the
        # same inputs hash the same everywhere), the same class of
        # assumption as the md5-prefix simhash signatures.
        parts = [F.col("w")] + [F.col(f"w{i}") for i in range(1, n)]
        return F.struct(
            F.lit(n).alias("n"),
            F.when(parts[-1].isNotNull(), F.xxhash64(*parts)).alias("gh"),
        )

    allg = (
        leads.select(
            id_col, F.explode(F.array(*[gram_struct(n) for n in ns])).alias("g")
        )
        .select(id_col, F.col("g.n").alias("n"), F.col("g.gh").alias("gh"))
        .filter(F.col("gh").isNotNull())
    )
    counts = allg.groupBy(id_col, "n", "gh").agg(F.count("*").alias("cnt"))
    return (
        counts.groupBy(id_col, "n")
        .agg(
            F.round(
                F.try_divide(F.max("cnt").cast("double"), F.sum("cnt")),
                round_dp,
            ).alias("top_gram_frac"),
            F.round(
                F.try_divide(
                    F.coalesce(
                        F.sum(F.when(F.col("cnt") > 1, F.col("cnt"))), F.lit(0)
                    ).cast("double"),
                    F.sum("cnt"),
                ),
                round_dp,
            ).alias("dup_gram_frac"),
        )
    )


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int = 6,
) -> DataFrame:
    """Unigram negative-log-likelihood per document — the perplexity
    proxy (CCNet-style) quality signal.

    Scores each document by the token-weighted average of
    ``-ln(p(w))`` where ``p(w)`` is the corpus unigram distribution:
    gibberish and boilerplate-free rare-token noise score HIGH,
    templated/duplicated text scores LOW — both tails are curation
    candidates.  Self-contained: the language model IS the corpus, no
    external artifacts.

    Scale design: the naive shape joins every TOKEN OCCURRENCE to the
    vocabulary (the 'the' key alone carries ~5% of the corpus through
    one shuffle partition).  This computes per-(doc, term) counts
    FIRST — one partial-agged shuffle — and joins the tf rows to the
    vocabulary, so the join key skew is bounded by document frequency,
    not occurrence count, and AQE's skew-join splits whatever remains.
    The corpus total rides a 1-row broadcast (in-plan scalar, no
    driver round-trip).  ln() at 6-dp rounding is the same
    libm-portability contract `tfidf_top_terms` certifies.
    """
    toks = df.select(
        F.col(id_col), F.explode(_tokens_arr(F.col(text_col))).alias("w")
    )
    # tf feeds both the vocabulary count and the score join: staged so
    # the tokenize+count pass runs once (r13 opt)
    tf = toks.groupBy(id_col, "w").agg(F.count(F.lit(1)).alias("tf"))
    tf = stage(tf, "unigram_tf", eager=False)
    cnt = tf.groupBy("w").agg(F.sum("tf").alias("c"))
    tot = cnt.agg(F.sum("c").alias("n"))
    return (
        tf.join(cnt, "w")
        .crossJoin(F.broadcast(tot))
        .groupBy(id_col)
        .agg(
            F.round(
                F.sum(F.col("tf") * -F.log(F.col("c") / F.col("n")))
                / F.sum("tf"),
                round_dp,
            ).alias("avg_nll"),
            F.sum("tf").cast("long").alias("n_tokens"),
        )
    )


def segment_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seg_len: int = 8,
) -> DataFrame:
    """Corpus-wide duplicate-span removal (the C4 / RefinedWeb line-dedup
    step, expressed over fixed token spans since this corpus has no
    newlines).

    Every document is cut into NON-overlapping ``seg_len``-token
    segments; a segment that occurs in multiple places corpus-wide is
    kept only at its globally-first occurrence (min ``(doc_id,
    seg_idx)``) and deleted everywhere else; surviving segments are
    re-joined in order.  This is the within-corpus complement of
    document-level dedup: boilerplate shared across otherwise-distinct
    documents is removed exactly once.

    Scale shape: segment explode is row-local; the keeper rule is ONE
    partial-agged groupBy on the segment text (``min(struct(id, idx))``
    — the keeper row itself carries everything needed, so no join-back),
    then one groupBy on ``id_col`` to reassemble; a final doc-keyed
    equi-join restores documents that lost every segment.  At
    production scale the segment key would be ``xxhash64(seg)`` with a
    string residual (same pattern as ngram_jaccard); the plain string
    key keeps the oracle exact here.

    Output: (id, clean_text, n_segs, n_kept) — ``clean_text`` is ''
    for fully-deduplicated documents.
    """
    toks = F.filter(F.split(F.trim(F.col(text_col)), r"\s+"), lambda t: t != "")
    base = df.select(
        F.col(id_col),
        toks.alias("__toks"),
        F.ceil(F.size(toks) / F.lit(float(seg_len))).cast("long").alias("n_segs"),
    )
    # n_segs == 0 guard: Spark's sequence(0, -1) infers step -1 and
    # yields [0, -1] instead of []; empty docs are restored by the
    # final left join.
    segs = base.filter(F.col("n_segs") > 0).select(
        id_col,
        F.posexplode(F.sequence(F.lit(0).cast("long"), F.col("n_segs") - 1)).alias(
            "__k", "seg_idx"
        ),
        F.col("__toks"),
    ).select(
        id_col,
        F.col("seg_idx").cast("long").alias("seg_idx"),
        F.array_join(
            F.slice(F.col("__toks"), F.col("seg_idx") * seg_len + 1, seg_len), " "
        ).alias("seg"),
    )
    keepers = segs.groupBy("seg").agg(
        F.min(F.struct(F.col(id_col), F.col("seg_idx"))).alias("__keep")
    )
    rebuilt = (
        keepers.select(
            F.col(f"__keep.{id_col}").alias(id_col),
            F.col("__keep.seg_idx").alias("seg_idx"),
            "seg",
        )
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))),
                    lambda s: s["seg"],
                ),
                " ",
            ).alias("clean_text"),
            F.count("*").cast("long").alias("n_kept"),
        )
    )
    return (
        base.select(id_col, "n_segs")
        .join(rebuilt, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            "n_segs",
            F.coalesce(F.col("n_kept"), F.lit(0).cast("long")).alias("n_kept"),
        )
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_dp: int = 6,
) -> DataFrame:
    """Bigram conditional-NLL per document — the order-sensitive
    perplexity proxy (`unigram_logprob`'s context-aware sibling).

    Scores each document by the token-weighted average of
    ``-ln(p(w | prev))`` where the conditional comes from corpus bigram
    counts over corpus context counts.  Unlike the unigram score this
    penalizes scrambled word order, so it separates fluent text from
    bag-of-frequent-words spam the unigram model scores identically.
    Only observed bigrams are scored (the LM is the corpus, which
    contains the document), so no smoothing term is needed and the
    probability is exactly ``c2/c1`` — a ratio of integers, stable
    under the 6-dp ln() contract.

    Scale design: bigrams are built ROW-LOCALLY by zipping the token
    array against itself shifted one position (``slice`` +
    ``arrays_zip``) — no window shuffle, no per-position explode-join.
    Per-(doc, bigram) counts come first, so the vocabulary join's skew
    is bounded by document frequency exactly as in
    :func:`unigram_logprob`; the context-count table derives from the
    (small) bigram vocabulary, never from occurrences.
    """
    toks = df.select(
        F.col(id_col), _tokens_arr(F.col(text_col)).alias("t")
    ).filter(F.size("t") >= 2)
    bg = toks.select(
        id_col,
        F.explode(
            F.arrays_zip(
                F.slice(F.col("t"), 1, F.size("t") - 1).alias("prev"),
                F.slice(F.col("t"), 2, F.size("t") - 1).alias("w"),
            )
        ).alias("b"),
    ).select(id_col, F.col("b.prev").alias("prev"), F.col("b.w").alias("w"))
    # tf feeds both the bigram vocabulary and the score join: staged so
    # the bigram build runs once (r13 opt)
    tf = bg.groupBy(id_col, "prev", "w").agg(F.count(F.lit(1)).alias("tf"))
    tf = stage(tf, "bigram_tf", eager=False)
    c2 = tf.groupBy("prev", "w").agg(F.sum("tf").alias("c2"))
    c1 = c2.groupBy("prev").agg(F.sum("c2").alias("c1"))
    return (
        tf.join(c2, ["prev", "w"])
        .join(c1, "prev")
        .groupBy(id_col)
        .agg(
            F.round(
                F.sum(F.col("tf") * -F.log(F.col("c2") / F.col("c1")))
                / F.sum("tf"),
                round_dp,
            ).alias("avg_bigram_nll"),
            F.sum("tf").cast("long").alias("n_bigrams"),
        )
    )
