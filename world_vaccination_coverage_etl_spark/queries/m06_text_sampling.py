"""LLM-data extensions: text analysis + sampling / splits.

Split from the former single-file queries.py (r5 verdict item 8);
registration order is preserved by the package __init__ import order.
"""

from ._core import *  # noqa: F401,F403

# --------------------------------------------------------------------- #
# LLM-data-pipeline extensions: text analysis over `documents`
# (SURVEY §7.2 M3; operators in operators/text.py)

# DuckDB token expression mirroring operators.text._tokens
_DUCK_TOKS = (
    "list_filter(string_split_regex(lower(trim(text)), '[^a-zA-Z0-9]+'),"
    " x -> x <> '')"
)
# DuckDB trigram word-shingle CTE mirroring operators.dedup.shingles_udf(3)
_DUCK_SHINGLES = r"""
    toks AS (
      SELECT doc_id, lang,
             list_filter(string_split_regex(
                 lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                 '[^a-z0-9]+'), x -> x <> '') AS toks
      FROM documents),
    sh AS (
      SELECT doc_id, lang,
             list_distinct(list_transform(
                 range(0, greatest(len(toks) - 3, 0) + 1),
                 i -> array_to_string(toks[i+1:i+3], ' '))) AS grams
      FROM toks WHERE len(toks) > 0)
"""

DOC_SHIFT = 1_000_000   # id shift for the self-union dedup fixtures
VEC_SHIFT = 100_000


def _duck_list(words: list[str]) -> str:
    inner = ", ".join("'" + w.replace("'", "''") + "'" for w in words)
    return f"[{inner}]"


@register(
    "doc_fingerprint",
    r"""
    SELECT doc_id,
           md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fingerprint
    FROM documents ORDER BY doc_id
    """,
    note="md5 content fingerprint over normalized text (operators/text.py with_fingerprint; engine-portable)",
)
def q_doc_fingerprint(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return with_fingerprint(d).select("doc_id", "fingerprint").orderBy("doc_id")


@register(
    "doc_token_counts",
    r"""
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(trim(text), '\s+'),
                                x -> x <> '')) AS INT) AS ws_tokens,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^\sa-zA-Z0-9]')) AS INT) AS bpe_tokens
    FROM documents ORDER BY doc_id
    """,
    note="whitespace + BPE-ish token counts (operators/text.py with_token_count; JVM regexp_count, no per-row Python)",
)
def q_doc_token_counts(spark, sf_dir):
    d = fan_out(
        _t(spark, sf_dir, "documents"), sf_dir, min_bytes=16 << 20
    )
    return (
        with_token_count(d)
        .select(
            "doc_id",
            F.col("ws_tokens").cast("int").alias("ws_tokens"),
            F.col("bpe_tokens").cast("int").alias("bpe_tokens"),
        )
        .orderBy("doc_id")
    )


def _lang_id_oracle() -> str:
    langs = sorted(LANG_MARKERS)
    scores = ",\n           ".join(
        f"len(list_intersect(toks, {_duck_list(LANG_MARKERS[lang])})) AS score_{lang}"
        for lang in langs
    )
    best = "greatest(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    cases = "\n             ".join(
        f"WHEN score_{lang} = {best} THEN '{lang}'" for lang in langs[:-1]
    )
    return f"""
    WITH toks AS (SELECT doc_id, {_DUCK_TOKS} AS toks FROM documents),
    s AS (SELECT doc_id,
           {scores}
          FROM toks)
    SELECT doc_id,
           CASE WHEN {best} = 0 THEN 'und'
             {cases}
             ELSE '{langs[-1]}' END AS lang_id
    FROM s ORDER BY doc_id
    """


@register(
    "doc_language_id",
    _lang_id_oracle(),
    note="marker-word language ID, argmax with asc-code tiebreak (operators/text.py with_language_id)",
)
def q_doc_language_id(spark, sf_dir):
    d = fan_out(
        _t(spark, sf_dir, "documents"), sf_dir, min_bytes=16 << 20
    )
    return with_language_id(d).select("doc_id", "lang_id").orderBy("doc_id")


@register(
    "doc_quality_score",
    rf"""
    WITH feats AS (
      SELECT doc_id,
             length(text) AS n_chars,
             len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
             {_DUCK_TOKS} AS toks
      FROM documents),
    ratios AS (
      SELECT doc_id, n_chars,
             len(toks) AS n_words,
             CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars ELSE 0.0 END AS punct_ratio,
             CASE WHEN len(toks) > 0
                  THEN len(list_intersect(toks, {_duck_list(STOPWORDS_EN)}))::DOUBLE / len(toks)
                  ELSE 0.0 END AS stop_ratio,
             CASE WHEN len(toks) > 0 THEN n_chars::DOUBLE / len(toks) ELSE 0.0 END AS mean_word_len
      FROM feats)
    SELECT doc_id, n_words,
           round(punct_ratio, 6) AS punct_ratio,
           round(stop_ratio, 6) AS stop_ratio,
           round(mean_word_len, 6) AS mean_word_len,
           round(least(n_words::DOUBLE / 100.0, 1.0) * 0.4
                 + least(stop_ratio * 5.0, 1.0) * 0.4
                 + (1.0 - least(punct_ratio * 4.0, 1.0)) * 0.2, 6) AS quality_score
    FROM ratios ORDER BY doc_id
    """,
    note="heuristic quality features + combined score (operators/text.py with_quality_score; all JVM expressions)",
)
def q_doc_quality_score(spark, sf_dir):
    d = fan_out(_t(spark, sf_dir, "documents"), sf_dir, min_bytes=16 << 20)
    return (
        with_quality_score(d)
        .select(
            "doc_id",
            "n_words",
            "punct_ratio",
            "stop_ratio",
            "mean_word_len",
            "quality_score",
        )
        .orderBy("doc_id")
    )


@register(
    "word_frequencies",
    f"""
    SELECT word, CAST(count(*) AS BIGINT) AS freq
    FROM (SELECT unnest({_DUCK_TOKS}) AS word FROM documents)
    GROUP BY word ORDER BY freq DESC, word LIMIT 100
    """,
    note="two-phase distributed word count (operators/text.py word_frequencies; map-side partial agg)",
)
def q_word_frequencies(spark, sf_dir):
    d = fan_out(
        _t(spark, sf_dir, "documents"), sf_dir, min_bytes=16 << 20
    )
    return word_frequencies(d).orderBy(F.desc("freq"), F.asc("word")).limit(100)


@register(
    "doc_unigram_logprob",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS w FROM documents),
    tf AS (SELECT doc_id, w, count(*) AS tf FROM toks GROUP BY 1, 2),
    cnt AS (SELECT w, sum(tf) AS c FROM tf GROUP BY w),
    tot AS (SELECT sum(c) AS n FROM cnt)
    SELECT tf.doc_id,
           round(sum(tf.tf * -ln(cnt.c / tot.n)) / sum(tf.tf), 6) AS avg_nll,
           CAST(sum(tf.tf) AS BIGINT) AS n_tokens
    FROM tf JOIN cnt USING (w), tot
    GROUP BY tf.doc_id ORDER BY tf.doc_id
    """,
    note="unigram NLL perplexity proxy (operators/text.py unigram_logprob, "
    "CCNet-style quality signal; the LM is the corpus itself): per-(doc, "
    "term) counts FIRST so the vocabulary join's skew is bounded by "
    "document frequency (not occurrence count — the naive shape funnels "
    "'the' through one partition), corpus total as an in-plan 1-row "
    "broadcast, token-weighted average; ln() certified at 6-dp rounding, "
    "the tfidf libm-portability contract",
)
def q_doc_unigram_logprob(spark, sf_dir):
    from ..operators.text import unigram_logprob

    # fan the tokenize/explode stage out past the scan's split count
    # once the table is big enough for the exchange to pay (r10
    # verdict item 8; no-op at real split counts — see _core.fan_out)
    d = fan_out(_t(spark, sf_dir, "documents"), sf_dir, min_bytes=16 << 20)
    return unigram_logprob(d).orderBy("doc_id")


@register(
    "corpus_health_by_source",
    """
    WITH lang_mix AS (
      SELECT source, lang, count(*) AS nl FROM documents GROUP BY 1, 2),
    tot AS (SELECT source, sum(nl) AS n FROM lang_mix GROUP BY source),
    ent AS (
      SELECT l.source,
             round(-sum((l.nl / t.n) * ln(l.nl / t.n)), 6) AS lang_entropy
      FROM lang_mix l JOIN tot t ON t.source = l.source
      GROUP BY l.source)
    SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(d.n_chars), 4) AS avg_chars,
           CAST(count(DISTINCT d.lang) AS BIGINT) AS n_langs,
           e.lang_entropy
    FROM documents d JOIN ent e ON e.source = d.source
    GROUP BY d.source, e.lang_entropy
    ORDER BY d.source
    """,
    note="per-source corpus health report — the monitoring query a "
    "training-data pipeline runs per ingest batch: volume, mean length, "
    "and the language-mix Shannon entropy per source (a sudden entropy "
    "drop flags a crawler stuck in one language; a spike flags "
    "mis-routed content). Two partial-agged shuffles on the source key "
    "plus a broadcast of the tiny per-source entropy — integral sums "
    "keep avg() exact, entropy under the 6-dp ln() contract",
)
def q_corpus_health_by_source(spark, sf_dir):
    d = fan_out(
        _t(spark, sf_dir, "documents"), sf_dir, min_bytes=16 << 20
    )
    lang_mix = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("nl"))
    tot = lang_mix.groupBy("source").agg(F.sum("nl").alias("n"))
    p = F.col("nl") / F.col("n")
    ent = (
        lang_mix.join(tot, "source")
        .groupBy("source")
        .agg(F.round(-F.sum(p * F.log(p)), 6).alias("lang_entropy"))
    )
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
        )
        .join(F.broadcast(ent), "source")
        .select(
            "source", "n_docs", "avg_chars", "n_langs", "lang_entropy"
        )
        .orderBy("source")
    )


@register(
    "tfidf_top_terms",
    f"""
    WITH toks AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS term FROM documents),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM toks GROUP BY doc_id, term),
    dft AS (
      SELECT term, CAST(count(*) AS BIGINT) AS df_t FROM tf GROUP BY term),
    n AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf,
             round(tf.tf * ln(n.n_docs::DOUBLE / dft.df_t), 6) AS tfidf
      FROM tf JOIN dft USING (term) CROSS JOIN n),
    ranked AS (
      SELECT doc_id, term, tf, tfidf,
             CAST(row_number() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, term) AS INT) AS rank
      FROM scored)
    SELECT doc_id, term, tf, tfidf, rank
    FROM ranked WHERE rank <= 3 AND doc_id < 200
    ORDER BY doc_id, rank
    """,
    note="top-3 TF-IDF terms per doc (operators/text.py tfidf_top_terms): two "
    "partial-agged shuffles (doc-term counts, term doc-freqs) + AQE-broadcast "
    "join back + per-doc window top-k; corpus size N stays in-plan as a "
    "broadcast 1-row aggregate — no driver-side count. Ranking compares the "
    "6-dp-rounded score with the term tiebreak so libm ln() ulp differences "
    "can't reorder engines; output bounded to doc_id < 200 for the oracle",
)
def q_tfidf_top_terms(spark, sf_dir):
    from ..operators.text import tfidf_top_terms

    d = fan_out(_t(spark, sf_dir, "documents"), sf_dir, min_bytes=16 << 20)
    out = tfidf_top_terms(d, k=3)
    return out.filter(F.col("doc_id") < 200).orderBy("doc_id", "rank")


@register(
    "weighted_sample_docs",
    """
    WITH w AS (
      SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS weight,
             round(ln((('0x' || substr(md5('wsample:' || doc_id::VARCHAR), 1, 8))::BIGINT
                       + 0.5) / 4294967296.0) / length(text), 9) AS key
      FROM documents WHERE length(text) > 0),
    r AS (
      SELECT doc_id, lang, weight,
             row_number() OVER (PARTITION BY lang ORDER BY key DESC, doc_id) AS rk
      FROM w)
    SELECT lang, doc_id, weight FROM r WHERE rk <= 5 ORDER BY lang, doc_id
    """,
    note="weighted sampling without replacement, Efraimidis-Spirakis "
    "exponential race (operators/sampling.py weighted_sample_topk): key = "
    "ln(u)/weight with u from the salted-md5 contract — engine-portable, "
    "run-stable, inclusion probability proportional to length(text); top-5 per "
    "lang stratum via one window shuffle (9-dp-rounded key + id tiebreak keeps "
    "both engines' rankings identical)",
)
def q_weighted_sample_docs(spark, sf_dir):
    from ..operators.sampling import weighted_sample_topk

    d = _t(spark, sf_dir, "documents").withColumn(
        "weight", F.length("text").cast("long")
    )
    out = weighted_sample_topk(d, weight_col="weight", k=5, strata_col="lang")
    return out.select("lang", "doc_id", "weight").orderBy("lang", "doc_id")


@register(
    "doc_repetition_stats",
    f"""
    WITH ex AS (
      SELECT doc_id, unnest({_DUCK_TOKS}) AS w,
             generate_subscripts({_DUCK_TOKS}, 1) AS pos
      FROM documents),
    l AS (
      SELECT doc_id, w,
             lead(w, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS w2,
             lead(w, 2) OVER (PARTITION BY doc_id ORDER BY pos) AS w3
      FROM ex),
    g AS (
      SELECT doc_id, 2 AS n, w || ' ' || w2 AS gram FROM l WHERE w2 IS NOT NULL
      UNION ALL
      SELECT doc_id, 3, w || ' ' || w2 || ' ' || w3 FROM l WHERE w3 IS NOT NULL),
    c AS (
      SELECT doc_id, n, gram, count(*) AS cnt FROM g GROUP BY doc_id, n, gram)
    SELECT doc_id, n,
           round(max(cnt)::DOUBLE / sum(cnt), 6) AS top_gram_frac,
           round(coalesce(sum(cnt) FILTER (cnt > 1), 0)::DOUBLE / sum(cnt), 6)
             AS dup_gram_frac
    FROM c GROUP BY doc_id, n ORDER BY doc_id, n
    """,
    note="Gopher-style n-gram repetition quality filter (operators/text.py "
    "repetition_stats): per-doc top-gram and duplicate-gram occurrence fractions "
    "for n=2,3 — machine-generated/boilerplate text repeats itself. All-JVM plan: "
    "posexplode + lead() over one doc-key window shuffle, then two-phase gram "
    "counts (high-cardinality fixed-width shuffle key; nothing quadratic in doc "
    "length)",
)
def q_doc_repetition_stats(spark, sf_dir):
    from ..operators.text import repetition_stats

    d = fan_out(_t(spark, sf_dir, "documents"), sf_dir, min_bytes=16 << 20)
    return repetition_stats(d).withColumn("n", F.col("n").cast("int")).orderBy(
        "doc_id", "n"
    )


@register(
    "doc_pii_scrub",
    r"""
    WITH w AS (
      SELECT doc_id,
             text || ' Contact user' || CAST(doc_id AS VARCHAR)
                  || '@example.com or call +1-555-'
                  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                  || ' now.' AS text
      FROM documents)
    SELECT doc_id,
           regexp_replace(
             regexp_replace(
               regexp_replace(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[PII]', 'g'),
               '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '[PII]', 'g'),
             '\+?[0-9]{1,3}[-.][0-9]{3}[-.][0-9]{3,4}', '[PII]', 'g')
             AS scrubbed,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_email,
           CAST(len(regexp_extract_all(text,
             '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b')) AS INT) AS n_ssn,
           CAST(len(regexp_extract_all(text,
             '\+?[0-9]{1,3}[-.][0-9]{3}[-.][0-9]{3,4}')) AS INT) AS n_phone
    FROM w ORDER BY doc_id
    """,
    note="PII redaction (email/SSN/phone -> '[PII]') over a corpus with "
    "deterministically synthesized PII per doc (the driver corpus has none) — "
    "the privacy-scrub stage of a curation pipeline (operators/text.py scrub_pii). "
    "Sequential JVM regexp_replace, row-local; patterns restricted to the "
    "Java-regex/RE2 common subset so Spark and the DuckDB oracle match exactly",
)
def q_doc_pii_scrub(spark, sf_dir):
    from ..operators.text import scrub_pii

    # six regex passes per doc: fan the row-local compute out past the
    # source's split count (see _core.fan_out)
    d = fan_out(_t(spark, sf_dir, "documents"), sf_dir).select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" Contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or call +1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
            F.lit(" now."),
        ).alias("text"),
    )
    return (
        scrub_pii(d)
        .select("doc_id", "scrubbed", "n_email", "n_ssn", "n_phone")
        .orderBy("doc_id")
    )


@register(
    "doc_chunk_windows",
    r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(trim(text), '\s+'),
                         x -> x <> '') AS toks
      FROM documents),
    c AS (
      SELECT doc_id, toks, len(toks) AS n,
             unnest(range(0, greatest(1,
               CAST(ceil((len(toks) - 64) / 48.0) AS BIGINT) + 1)))
               AS chunk_idx
      FROM t WHERE len(toks) > 0)
    SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
           array_to_string(toks[chunk_idx * 48 + 1 : chunk_idx * 48 + 64], ' ')
             AS chunk_text,
           CAST(least(64, n - chunk_idx * 48) AS INT) AS n_tokens
    FROM c ORDER BY doc_id, chunk_idx
    """,
    note="overlapping fixed-size token windows (chunk 64, overlap 16 -> stride 48) — "
    "the context-window packing / RAG-chunking step of an LLM data pipeline "
    "(operators/text.py chunk_text_windows). Pure JVM split->sequence->posexplode->"
    "slice, row-local (no shuffle); output multiplicity IS the operator's product",
)
def q_doc_chunk_windows(spark, sf_dir):
    from ..operators.text import chunk_text_windows

    d = fan_out(_t(spark, sf_dir, "documents"), sf_dir, min_bytes=16 << 20)
    return chunk_text_windows(d, chunk_size=64, overlap=16).orderBy(
        "doc_id", "chunk_idx"
    )


# --------------------------------------------------------------------- #
# deterministic sampling / dataset splits (operators/sampling.py)


@register(
    "split_counts",
    """
    SELECT CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 4) < 'cccc'
                THEN 'train' ELSE 'val' END AS split,
           lang, CAST(count(*) AS BIGINT) AS n_docs
    FROM documents GROUP BY 1, 2 ORDER BY 1, 2
    """,
    note="deterministic engine-portable train/val split via salted-md5 bucket "
    "(operators/sampling.py hash_split; row-local, zero shuffle, membership stable "
    "under corpus growth) — counts per (split, lang)",
)
def q_split_counts(spark, sf_dir):
    from ..operators.sampling import hash_split

    d = _t(spark, sf_dir, "documents")
    return (
        hash_split(d, train_frac=0.8)
        .groupBy("split", "lang")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .orderBy("split", "lang")
    )


@register(
    "salted_agg_events",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(value), 6) AS sum_value_r
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    note="two-phase SALTED aggregation over a low-cardinality key (operators/"
    "sampling.py salted_agg_count, 16 salt parts): hot keys spread across partial "
    "aggregates, merged in phase 2 — oracle pins bit-identity with the unsalted "
    "aggregation (counts/sums are associative)",
)
def q_salted_agg_events(spark, sf_dir):
    from ..operators.sampling import salted_agg_count

    e = _t(spark, sf_dir, "events")
    out = salted_agg_count(e, ["event_type"], salt_parts=16, value_col="value")
    return out.select(
        "event_type",
        "n_rows",
        F.round("sum_value", 6).alias("sum_value_r"),
    ).orderBy("event_type")


@register(
    "skew_join_segment",
    """
    SELECT c.c_mktsegment, CAST(count(*) AS BIGINT) AS n_events,
           round(sum(e.value), 6) AS sum_value
    FROM events e JOIN customer c ON c.c_custkey = e.user_id
    GROUP BY c.c_mktsegment ORDER BY c.c_mktsegment
    """,
    note="explicit salted skew join (operators/skewjoin.py salted_skew_join, 8 "
    "parts): big side salted per-row, small side replicated per salt, so a hot "
    "join key spreads over 8 reducers instead of one — the manual form of AQE "
    "skew-join for the cases AQE can't see. Output is salt-invariant by "
    "construction; the oracle is the plain unsalted join+agg, so the hash check "
    "proves the equivalence",
)
def q_skew_join_segment(spark, sf_dir):
    from ..operators.skewjoin import salted_skew_join

    e = _t(spark, sf_dir, "events").select(
        F.col("user_id").alias("c_custkey"), "value"
    )
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    joined = salted_skew_join(e, c, ["c_custkey"], salt_parts=8)
    return (
        joined.groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .orderBy("c_mktsegment")
    )


@register(
    "det_sample_ids",
    """
    SELECT doc_id FROM documents
    WHERE substr(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 4) < '0ccc'
    ORDER BY doc_id
    """,
    note="hash-threshold deterministic ~5% sample (operators/sampling.py "
    "deterministic_sample; row-local filter, no shuffle, reproducible across engines)",
)
def q_det_sample_ids(spark, sf_dir):
    from ..operators.sampling import deterministic_sample

    d = _t(spark, sf_dir, "documents")
    return deterministic_sample(d, fraction=0.05).select("doc_id").orderBy("doc_id")


@register(
    "exact_k_sample_docs",
    """
    WITH s AS (
      SELECT doc_id, lang, source
      FROM documents
      ORDER BY md5('ksample:' || CAST(doc_id AS VARCHAR)), doc_id
      LIMIT 100)
    SELECT doc_id, lang, source FROM s ORDER BY doc_id
    """,
    note="exactly-k uniform sample (operators/sampling.py exact_k_sample): the "
    "100 smallest salted-md5 digests — the fixed-budget companion to the "
    "hash-threshold sample (whose size is binomial).  ORDER BY hash LIMIT k "
    "plans as TakeOrderedAndProject: per-partition k-row heaps + one merge of "
    "k x partitions rows, never a full sort — the eval-slice / human-review "
    "draw a curation pipeline makes at fixed budget",
)
def q_exact_k_sample_docs(spark, sf_dir):
    from ..operators.sampling import exact_k_sample

    d = _t(spark, sf_dir, "documents")
    return (
        exact_k_sample(d, k=100)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


@register(
    "stratified_sample_docs",
    """
    WITH h AS (
      SELECT doc_id, lang,
             substr(md5('strata:' || CAST(doc_id AS VARCHAR)), 1, 4) AS hk
      FROM documents),
    r AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rk,
             count(*) OVER (PARTITION BY lang) AS n
      FROM h)
    SELECT doc_id, lang FROM r WHERE rk <= ceil(n * 0.2) ORDER BY doc_id
    """,
    note="exact-count stratified sample, ceil(0.2 x |stratum|) docs per lang chosen "
    "by hash order (operators/sampling.py stratified_exact_sample; one window shuffle)",
)
def q_stratified_sample_docs(spark, sf_dir):
    from ..operators.sampling import stratified_exact_sample

    d = _t(spark, sf_dir, "documents")
    return (
        stratified_exact_sample(d, strata_col="lang", fraction=0.2)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


@register(
    "mixture_sample_docs",
    """
    WITH c AS (
      SELECT doc_id, lang,
             CASE lang
               WHEN 'en' THEN 0 + CASE WHEN substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 4)
                                            < '8000' THEN 1 ELSE 0 END
               WHEN 'zh' THEN 2 + CASE WHEN substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 4)
                                            < '4000' THEN 1 ELSE 0 END
               ELSE 1
             END AS n_copies
      FROM documents)
    SELECT doc_id, lang,
           CAST(unnest(range(0, n_copies)) AS INT) AS copy_idx
    FROM c ORDER BY doc_id, copy_idx
    """,
    note="per-language mixture resampling (operators/sampling.py mixture_sample): "
    "en x0.5 (hash-threshold downsample), zh x2.25 (explode upsample with a "
    "deterministic fractional third copy), other langs x1 — the domain re-weighting "
    "step of a training-data mix; zero shuffle, rates quantized to 1/65536",
)
def q_mixture_sample_docs(spark, sf_dir):
    from ..operators.sampling import mixture_sample

    d = _t(spark, sf_dir, "documents")
    return (
        mixture_sample(d, "lang", {"en": 0.5, "zh": 2.25})
        .select("doc_id", "lang", "copy_idx")
        .orderBy("doc_id", "copy_idx")
    )


@register(
    "pack_token_bins_docs",
    r"""
    WITH RECURSIVE t AS (
      SELECT doc_id, lang,
             CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                                  x -> x <> '')) AS BIGINT) AS n_tokens,
             row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      FROM documents),
    p AS (
      SELECT lang, rn, doc_id, n_tokens,
             CAST(0 AS BIGINT) AS bin_idx, n_tokens AS bin_fill
      FROM t WHERE rn = 1
      UNION ALL
      SELECT t.lang, t.rn, t.doc_id, t.n_tokens,
             CASE WHEN p.bin_fill + t.n_tokens > 256
                  THEN p.bin_idx + 1 ELSE p.bin_idx END,
             CASE WHEN p.bin_fill + t.n_tokens > 256
                  THEN t.n_tokens ELSE p.bin_fill + t.n_tokens END
      FROM p JOIN t ON t.lang = p.lang AND t.rn = p.rn + 1)
    SELECT doc_id, lang, n_tokens, bin_idx, bin_fill
    FROM p ORDER BY doc_id
    """,
    note="greedy sequential token-bin packing per language, capacity 256 ws-tokens "
    "(operators/packing.py pack_token_bins): the sequence-packing step before "
    "tokenized-shard writing. One shuffle on the group key, Arrow-batched linear "
    "scan per group; oracle reproduces the greedy rule with a recursive CTE, so "
    "the full per-doc bin assignment is hash-checked",
)
def q_pack_token_bins_docs(spark, sf_dir):
    from ..operators.packing import pack_token_bins

    d = _t(spark, sf_dir, "documents")
    toks = d.withColumn(
        "n_tokens",
        F.size(
            F.array_remove(F.split(F.trim(F.col("text")), r"\s+"), "")
        ).cast("long"),
    )
    return pack_token_bins(toks, "n_tokens", 256, "lang").orderBy("doc_id")


@register(
    "kmeans_clusters",
    """
    WITH init AS (
      SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, embedding
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)),
    dims AS (
      SELECT unnest(range(1, len(embedding) + 1)) AS pos
      FROM (SELECT embedding FROM embeddings LIMIT 1)),
    c0 AS (
      SELECT i.cid, d.pos, round(i.embedding[d.pos]::DOUBLE, 6) AS v
      FROM init i CROSS JOIN dims d),
    a1 AS (
      SELECT e.vec_id, c.cid,
             round(sum((e.embedding[c.pos]::DOUBLE - c.v)
                       * (e.embedding[c.pos]::DOUBLE - c.v)), 6) AS d
      FROM embeddings e CROSS JOIN c0 c
      GROUP BY e.vec_id, c.cid),
    s1 AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM a1) WHERE rn = 1),
    upd AS (
      SELECT s1.cid, d.pos, avg(e.embedding[d.pos]::DOUBLE) AS v
      FROM s1 JOIN embeddings e USING (vec_id) CROSS JOIN dims d
      GROUP BY s1.cid, d.pos),
    c1 AS (
      SELECT c0.cid, c0.pos, round(coalesce(u.v, c0.v), 6) AS v
      FROM c0 LEFT JOIN upd u ON u.cid = c0.cid AND u.pos = c0.pos),
    a2 AS (
      SELECT e.vec_id, c.cid,
             round(sum((e.embedding[c.pos]::DOUBLE - c.v)
                       * (e.embedding[c.pos]::DOUBLE - c.v)), 6) AS d
      FROM embeddings e CROSS JOIN c1 c
      GROUP BY e.vec_id, c.cid)
    SELECT vec_id, CAST(cid AS INT) AS cluster FROM (
      SELECT vec_id, cid,
             row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
      FROM a2) WHERE rn = 1
    ORDER BY vec_id
    """,
    note="distributed k-means, k=8, one Lloyd iteration + final assignment "
    "(operators/clustering.py kmeans_fit_predict) — the IVF coarse-quantizer "
    "trainer behind knn_blocked_lsh. Assignment = broadcast centroids into an "
    "Arrow argmin kernel (zero shuffle); update = posexplode + per-(cluster,pos) "
    "mean (map-side partials, k x dim collected = the model). Deterministic "
    "contract (round-before-argmin, lowest-cid ties, first-k init) lets the "
    "oracle unroll both iterations in SQL — full per-vector assignment hash-checked",
)
def q_kmeans_clusters(spark, sf_dir):
    from ..operators.clustering import kmeans_fit_predict

    e = _t(spark, sf_dir, "embeddings")
    out, _cents = kmeans_fit_predict(e, k=8, n_iter=1, round_dp=6)
    return out.select("vec_id", "cluster").orderBy("vec_id")


