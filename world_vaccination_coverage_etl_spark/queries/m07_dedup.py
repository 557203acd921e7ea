"""Deduplication over `documents` (operators/dedup.py).

Split from the former single-file queries.py (r5 verdict item 8);
registration order is preserved by the package __init__ import order.
"""

from ._core import *  # noqa: F401,F403
from .m06_text_sampling import (  # shared oracle-SQL fragments
    DOC_SHIFT,
    _DUCK_SHINGLES,
    _DUCK_TOKS,
    _duck_list,
)

# --------------------------------------------------------------------- #
# deduplication over `documents` (operators/dedup.py)
#
# The driver corpus has no exact duplicates, so the exact-dedup queries
# run over a self-union with shifted ids — every text occurs exactly
# twice with a known keeper (min id), making the operator's effect
# observable and oracle-checkable rather than a vacuous identity.


def _docs_self_union(spark, sf_dir, spread=True):
    # gated fan-out (no-op under 16 MiB, i.e. at every driver SF): the
    # self-union feeds tokenize/shingle kernels and the curation gate
    # chain, all pinned to the scan's split count on a single-file
    # warehouse (sf10 probe: 1-2 tasks on 32 cores).  sf10 deltas:
    # curation 148->118 s, dup_cluster_sizes 289->203 s, exact dedup
    # 7.5->4.7 s warm.  simhash's vectorized signature kernel is cheap
    # enough that the text shuffle costs MORE than the parallelism
    # pays (22.8->30.7 s) — it opts out via spread=False.
    d = _t(spark, sf_dir, "documents")
    if spread:
        d = fan_out(d, sf_dir, min_bytes=16 << 20)
    d = d.select("doc_id", "text")
    return d.unionAll(
        d.select((F.col("doc_id") + DOC_SHIFT).alias("doc_id"), "text")
    )


@register(
    "exact_dedup_keep",
    rf"""
    WITH u AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {DOC_SHIFT}, text FROM documents)
    SELECT min(doc_id) AS doc_id
    FROM u GROUP BY lower(trim(regexp_replace(text, '\s+', ' ', 'g')))
    ORDER BY doc_id
    """,
    note="exact dedup keep-min-id over a self-union (operators/dedup.py exact_dedup; one hash shuffle + semi-join)",
)
def q_exact_dedup_keep(spark, sf_dir):
    u = _docs_self_union(spark, sf_dir)
    return exact_dedup(u).select("doc_id").orderBy("doc_id")


@register(
    "exact_dedup_groups",
    rf"""
    WITH u AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {DOC_SHIFT}, text FROM documents)
    SELECT min(doc_id) AS keep_id, CAST(count(*) AS BIGINT) AS n_dups
    FROM u GROUP BY lower(trim(regexp_replace(text, '\s+', ' ', 'g')))
    HAVING count(*) > 1 ORDER BY keep_id
    """,
    note="duplicate groups: representative id + multiplicity (operators/dedup.py exact_dedup_pairs)",
)
def q_exact_dedup_groups(spark, sf_dir):
    u = _docs_self_union(spark, sf_dir)
    return exact_dedup_pairs(u).select("keep_id", "n_dups").orderBy("keep_id")


@register(
    "minhash_near_dup",
    f"""
    WITH {_DUCK_SHINGLES},
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.grams, b.grams))::DOUBLE
               / len(list_distinct(list_concat(a.grams, b.grams))) AS jaccard
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
    SELECT id_a, id_b, round(jaccard, 6) AS jaccard
    FROM pairs WHERE jaccard >= 0.7 ORDER BY id_a, id_b
    """,
    note="MinHash(64)+LSH(16 bands) near-dup pairs, exact-Jaccard verified; oracle is "
    "brute force — LSH at these parameters catches every pair with j>=0.7 deterministically "
    "(miss prob < 2% per pair, 0 on this corpus; operators/dedup.py minhash_near_dup_pairs)",
)
def q_minhash_near_dup(spark, sf_dir):
    d = fan_out(_t(spark, sf_dir, "documents"), sf_dir, min_bytes=16 << 20)
    pairs = minhash_near_dup_pairs(d, threshold=0.7)
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("id_a", "id_b")


# deterministic salted-md5 batch split for the incremental NEAR-dup
# ingest query: ~75% 'base' (the existing corpus), ~25% 'new' (the
# incoming crawl batch).  Different salt from the exact incremental
# query ('incr:') so the two splits decorrelate.
_INCRND_PRED_SQL = (
    "substr(md5('incrnd:' || CAST(doc_id AS VARCHAR)), 1, 4) < 'c000'"
)


def _incrnd_batch_col():
    return F.when(
        F.substring(
            F.md5(F.concat(F.lit("incrnd:"), F.col("doc_id").cast("string"))),
            1,
            4,
        )
        < "c000",
        F.lit("base"),
    ).otherwise(F.lit("new"))


def _incrnd_base_index(spark, sf_dir):
    """Pooled banded-signature INDEX of the base corpus — the
    materialized intermediate a continuous-ingest pipeline stages once
    and screens every incoming batch against (pooled per (sf_dir,
    process) like the pair graphs; the perturbation sweep clears it so
    index construction is re-proven, never replayed)."""
    from ._core import pooled_parquet

    def build(spark, sf_dir):
        from ..operators.dedup import minhash_band_signatures

        d = _t(spark, sf_dir, "documents")
        return minhash_band_signatures(d.filter(_incrnd_batch_col() == "base"))

    return pooled_parquet("minhash_incr_base_idx", spark, sf_dir, build)


@register(
    "incremental_neardup_new_docs",
    rf"""
    WITH assigned AS (
      SELECT doc_id, text,
             CASE WHEN {_INCRND_PRED_SQL} THEN 'base' ELSE 'new' END AS batch
      FROM documents),
    toks AS (
      SELECT doc_id, batch,
             list_filter(string_split_regex(
                 lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                 '[^a-z0-9]+'), x -> x <> '') AS toks
      FROM assigned),
    sh AS (
      SELECT doc_id, batch,
             list_distinct(list_transform(
                 range(0, greatest(len(toks) - 3, 0) + 1),
                 i -> array_to_string(toks[i+1:i+3], ' '))) AS grams
      FROM toks WHERE len(toks) > 0),
    pairs AS (
      SELECT n.doc_id AS new_id,
             len(list_intersect(n.grams, b.grams))::DOUBLE
               / len(list_distinct(list_concat(n.grams, b.grams))) AS jaccard
      FROM sh n JOIN sh b ON n.batch = 'new' AND b.batch = 'base'),
    m AS (
      SELECT new_id, CAST(count(*) AS BIGINT) AS n_base_dups,
             max(jaccard) AS best_j
      FROM pairs WHERE jaccard >= 0.7 GROUP BY new_id)
    SELECT a.doc_id,
           CASE WHEN m.new_id IS NULL THEN 'keep' ELSE 'drop' END AS verdict,
           CAST(coalesce(m.n_base_dups, 0) AS BIGINT) AS n_base_dups,
           round(m.best_j, 6) AS best_jaccard
    FROM assigned a LEFT JOIN m ON m.new_id = a.doc_id
    WHERE a.batch = 'new'
    ORDER BY a.doc_id
    """,
    note="incremental NEAR-dup ingest (r12 verdict item 2): the "
    "continuous-crawl step — an incoming batch ('new', 25% by the "
    "salted-md5 split) is screened against the BASE corpus's "
    "materialized banded MinHash signature index "
    "(operators/dedup.py minhash_screen_new_batch over "
    "minhash_band_signatures; index pooled via _core.pooled_parquet "
    "exactly as a production pipeline stages it), candidates verified "
    "with exact shingle Jaccard >= 0.7 against CANDIDATE base docs "
    "only (id semi-join fetch, never a base re-scan), emitting a "
    "keep/drop verdict + match count + best score per batch doc. "
    "Per-batch cost is batch-sized: batch signatures + index join + "
    "candidate-bounded verify. Oracle recomputes exact batch-x-base "
    "Jaccard brute-force; LSH at b=16/r=4 catches every pair at "
    "j>=0.7 on this corpus deterministically (same guarantee "
    "minhash_near_dup certifies, and these cross pairs are a subset "
    "of that query's all-pairs set)",
)
def q_incremental_neardup_new_docs(spark, sf_dir):
    from ..operators.dedup import minhash_screen_new_batch

    d = fan_out(_t(spark, sf_dir, "documents"), sf_dir, min_bytes=16 << 20)
    assigned = d.select("doc_id", "text", _incrnd_batch_col().alias("batch"))
    base = assigned.filter(F.col("batch") == "base").select("doc_id", "text")
    new = assigned.filter(F.col("batch") == "new").select("doc_id", "text")
    index = _incrnd_base_index(spark, sf_dir)
    pairs = minhash_screen_new_batch(index, base, new, threshold=0.7)
    m = pairs.groupBy("new_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_base_dups"),
        F.max("jaccard").alias("best_j"),
    )
    return (
        new.select("doc_id")
        .join(m, new["doc_id"] == m["new_id"], "left")
        .select(
            "doc_id",
            F.when(F.col("new_id").isNull(), F.lit("keep"))
            .otherwise(F.lit("drop"))
            .alias("verdict"),
            F.coalesce(F.col("n_base_dups"), F.lit(0))
            .cast("long")
            .alias("n_base_dups"),
            F.round("best_j", 6).alias("best_jaccard"),
        )
        .orderBy("doc_id")
    )


@register(
    "ngram_jaccard_block_lang",
    f"""
    WITH {_DUCK_SHINGLES.replace("FROM documents", "FROM documents WHERE doc_id < 500")},
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             len(list_intersect(a.grams, b.grams))::DOUBLE
               / len(list_distinct(list_concat(a.grams, b.grams))) AS jaccard
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id AND a.lang = b.lang)
    SELECT id_a, id_b, round(jaccard, 6) AS jaccard
    FROM pairs WHERE jaccard >= 0.5 ORDER BY id_a, id_b
    """,
    note="exact n-gram Jaccard within lang blocks on a bounded 500-doc slice "
    "(operators/dedup.py ngram_jaccard_pairs) — the operator is a *verify stage*; "
    "its within-block self-join is near-quadratic, so the graded query bounds the input "
    "the way a candidate generator (MinHash/SimHash) would upstream",
)
def q_ngram_jaccard_block_lang(spark, sf_dir):
    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    pairs = ngram_jaccard_pairs(d, block_col="lang", n=3, threshold=0.5)
    return pairs.select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("id_a", "id_b")


# shingle CTE over the self-union (no lang blocking) for the
# connected-components oracles below
_DUCK_SHINGLES_U = rf"""
    u AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {DOC_SHIFT}, text FROM documents),
    toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(
                 lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                 '[^a-z0-9]+'), x -> x <> '') AS toks
      FROM u),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
                 range(0, greatest(len(toks) - 3, 0) + 1),
                 i -> array_to_string(toks[i+1:i+3], ' '))) AS grams
      FROM toks WHERE len(toks) > 0),
    e AS (
      SELECT a.doc_id AS src, b.doc_id AS dst
      FROM sh a JOIN sh b ON a.doc_id <> b.doc_id
      WHERE len(list_intersect(a.grams, b.grams))::DOUBLE
              / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.7),
    reach(node, lab) AS (
      SELECT doc_id, doc_id FROM u
      UNION
      SELECT e.dst, r.lab FROM reach r JOIN e ON e.src = r.node),
    comp AS (
      SELECT node AS doc_id, min(lab) AS component_id
      FROM reach GROUP BY node)
"""


@register(
    "dup_connected_components",
    f"""
    WITH RECURSIVE {_DUCK_SHINGLES_U}
    SELECT doc_id, component_id FROM comp ORDER BY doc_id
    """,
    note="duplicate-cluster connected components over the MinHash near-dup pair "
    "graph (operators/components.py connected_components): large-star/small-star "
    "rounds, one edge-join + one partial-agg shuffle per round, O(log n) rounds, "
    "only a scalar changed-count per round on the driver; "
    "oracle recomputes the exact Jaccard>=0.7 edge set and closes it with a "
    "recursive CTE, certifying pair detection AND transitive clustering.  The "
    "deterministic assignment is pooled per (sf_dir, process) via "
    "_core.pooled_parquet — materialize once, consume many times (shared with "
    "dup_cluster_sizes); the cold cost stays gated (bench cold_norm)",
)
def q_dup_connected_components(spark, sf_dir):
    return _minhash_components(spark, sf_dir).orderBy("doc_id")


def _minhash_pairs_u(spark, sf_dir):
    """Pooled MinHash>=0.7 near-dup PAIR SET over the self-union corpus
    (r11 verdict item 2): the deterministic, certified edge list is the
    expensive intermediate — materialize it once per (sf_dir, process)
    and let connected components, triangle enumeration, and cluster
    roll-ups consume the same parquet, exactly as a production pipeline
    stages its candidate-pair table.  Cold cost stays observable via
    bench cold_norm; the perturbation sweep clears the pool."""
    from ._core import pooled_parquet

    def build(spark, sf_dir):
        u = _docs_self_union(spark, sf_dir)
        return minhash_near_dup_pairs(u, threshold=0.7)

    return pooled_parquet("minhash_pairs_u07", spark, sf_dir, build)


def _ngram_pairs_500(spark, sf_dir):
    """Pooled exact n-gram Jaccard>=0.5 lang-blocked pair set on the
    bounded 500-doc slice — shared by the clustering-coefficient and
    PageRank graph queries (r11 verdict item 2)."""
    from ._core import pooled_parquet

    def build(spark, sf_dir):
        d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
        return ngram_jaccard_pairs(d, block_col="lang", n=3, threshold=0.5)

    return pooled_parquet("ngram_pairs_500_l05", spark, sf_dir, build)


def _minhash_components(spark, sf_dir):
    """Pooled CC assignment over the MinHash>=0.7 near-dup graph."""
    from ._core import pooled_parquet

    def build(spark, sf_dir):
        from ..operators.components import connected_components

        u = _docs_self_union(spark, sf_dir)
        pairs = _minhash_pairs_u(spark, sf_dir)
        return connected_components(u.select("doc_id"), pairs, id_col="doc_id")

    return pooled_parquet("minhash_cc07", spark, sf_dir, build)


@register(
    "dup_cluster_sizes",
    f"""
    WITH RECURSIVE {_DUCK_SHINGLES_U}
    SELECT component_id, CAST(count(*) AS BIGINT) AS n_members,
           min(doc_id) AS keeper_id
    FROM comp GROUP BY component_id
    HAVING count(*) > 1 ORDER BY component_id
    """,
    note="duplicate-cluster roll-up (operators/components.py component_summary): "
    "size + keeper per non-singleton component — the curation decision surface "
    "(keep one doc per cluster); one shuffle over the component labels, which "
    "come from the SAME pooled assignment dup_connected_components materializes "
    "(computed once per process, not twice)",
)
def q_dup_cluster_sizes(spark, sf_dir):
    from ..operators.components import component_summary

    comp = _minhash_components(spark, sf_dir)
    return (
        component_summary(comp)
        .filter(F.col("n_members") > 1)
        .select("component_id", "n_members", "keeper_id")
        .orderBy("component_id")
    )


@register(
    "doc_length_stats",
    """
    SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           round(avg(n_chars), 6) AS mean_chars,
           round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
           round(quantile_cont(n_chars, 0.9), 6) AS p90_chars,
           round(quantile_cont(n_chars, 0.99), 6) AS p99_chars
    FROM documents GROUP BY lang ORDER BY lang
    """,
    note="per-language corpus length distribution via EXACT percentiles "
    "(Spark SQL percentile(), linear interpolation — same definition as "
    "DuckDB quantile_cont): the corpus-reporting companion to the "
    "approx_quantiles sketch queries; one partial-agged shuffle on lang. At "
    "100 TB the sketch flavor is the default and this exact flavor runs on "
    "sampled slices — both are registered so the trade-off is explicit",
)
def q_doc_length_stats(spark, sf_dir):
    d = _t(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.round(F.avg("n_chars"), 6).alias("mean_chars"),
            F.round(F.expr("percentile(n_chars, 0.5)"), 6).alias("p50_chars"),
            F.round(F.expr("percentile(n_chars, 0.9)"), 6).alias("p90_chars"),
            F.round(F.expr("percentile(n_chars, 0.99)"), 6).alias("p99_chars"),
        )
        .orderBy("lang")
    )


@register(
    "decontaminate_overlap",
    r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(
                 lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                 '[^a-z0-9]+'), x -> x <> '') AS toks
      FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
                 range(0, greatest(len(toks) - 5, 0) + 1),
                 i -> array_to_string(toks[i+1:i+5], ' '))) AS grams
      FROM toks WHERE len(toks) > 0),
    cg AS (SELECT doc_id AS corpus_id, unnest(grams) AS gram
           FROM sh WHERE doc_id % 50 <> 0),
    bg AS (SELECT doc_id AS bench_id, unnest(grams) AS gram
           FROM sh WHERE doc_id % 50 = 0)
    SELECT c.corpus_id, b.bench_id,
           CAST(count(DISTINCT c.gram) AS BIGINT) AS n_shared
    FROM cg c JOIN bg b USING (gram)
    GROUP BY corpus_id, bench_id
    ORDER BY corpus_id, bench_id
    """,
    note="benchmark decontamination (operators/dedup.py "
    "ngram_contamination_pairs): corpus docs sharing distinct word 5-grams with "
    "a held-out eval slice (doc_id % 50 == 0) — the n-gram collision check LLM "
    "pipelines run before training. Arrow shingle kernel row-local on both "
    "sides, inverted-index join on xxhash64(gram) with string-equality residual "
    "(collisions can't fabricate overlap), benchmark side broadcast, one "
    "partial-agged pair-key shuffle",
)
def q_decontaminate_overlap(spark, sf_dir):
    from ..operators.dedup import ngram_contamination_pairs

    d = _t(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 50 == 0)
    corpus = d.filter(F.col("doc_id") % 50 != 0)
    out = ngram_contamination_pairs(corpus, bench, n=5)
    return out.orderBy("corpus_id", "bench_id")


@register(
    "decontaminated_corpus",
    r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(
                 lower(trim(regexp_replace(text, '\s+', ' ', 'g'))),
                 '[^a-z0-9]+'), x -> x <> '') AS toks
      FROM documents),
    sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
                 range(0, greatest(len(toks) - 5, 0) + 1),
                 i -> array_to_string(toks[i+1:i+5], ' '))) AS grams
      FROM toks WHERE len(toks) > 0),
    cg AS (SELECT doc_id AS corpus_id, unnest(grams) AS gram
           FROM sh WHERE doc_id % 50 <> 0),
    bg AS (SELECT doc_id AS bench_id, unnest(grams) AS gram
           FROM sh WHERE doc_id % 50 = 0),
    contaminated AS (SELECT DISTINCT c.corpus_id FROM cg c JOIN bg b USING (gram))
    SELECT doc_id FROM documents
    WHERE doc_id % 50 <> 0
      AND doc_id NOT IN (SELECT corpus_id FROM contaminated)
    ORDER BY doc_id
    """,
    note="the actionable decontamination step: corpus minus every doc sharing a "
    "5-gram with the eval slice — contamination pair set (see "
    "decontaminate_overlap) distinct-projected to ids and LEFT ANTI joined "
    "against the corpus; the anti-join build side is the (small) contaminated "
    "id set, broadcast by AQE",
)
def q_decontaminated_corpus(spark, sf_dir):
    from ..operators.dedup import ngram_contamination_pairs

    d = fan_out(_t(spark, sf_dir, "documents"), sf_dir, min_bytes=16 << 20)
    bench = d.filter(F.col("doc_id") % 50 == 0)
    corpus = d.filter(F.col("doc_id") % 50 != 0)
    dirty = (
        ngram_contamination_pairs(corpus, bench, n=5)
        .select(F.col("corpus_id").alias("doc_id"))
        .distinct()
    )
    return (
        corpus.join(dirty, on="doc_id", how="left_anti")
        .select("doc_id")
        .orderBy("doc_id")
    )


def _curation_oracle() -> str:
    langs = sorted(LANG_MARKERS)
    scores = ",\n             ".join(
        f"len(list_intersect(toks, {_duck_list(LANG_MARKERS[lang])})) AS score_{lang}"
        for lang in langs
    )
    best = "greatest(" + ", ".join(f"score_{lang}" for lang in langs) + ")"
    return rf"""
    WITH u AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {DOC_SHIFT}, text FROM documents),
    toksed AS (SELECT doc_id, text, {_DUCK_TOKS} AS toks FROM u),
    feats AS (
      SELECT doc_id, text, toks,
             length(text) AS n_chars,
             len(regexp_extract_all(text, '[^\w\s]')) AS n_punct,
             len(toks) AS n_words,
             {scores}
      FROM toksed),
    kept AS (
      SELECT doc_id, text, toks FROM feats
      WHERE {best} > 0
        AND n_words >= 10
        AND round(CASE WHEN n_chars > 0 THEN n_punct::DOUBLE / n_chars
                       ELSE 0.0 END, 6) <= 0.2),
    uniq AS (
      SELECT min(doc_id) AS doc_id
      FROM kept GROUP BY lower(trim(regexp_replace(text, '\s+', ' ', 'g')))),
    sh AS (
      SELECT k.doc_id,
             list_distinct(list_transform(
                 range(0, greatest(len(k.toks) - 3, 0) + 1),
                 i -> array_to_string(k.toks[i+1:i+3], ' '))) AS grams
      FROM kept k JOIN uniq USING (doc_id)),
    neardup AS (
      SELECT b.doc_id AS id_b
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
      WHERE len(list_intersect(a.grams, b.grams))::DOUBLE
              / len(list_distinct(list_concat(a.grams, b.grams))) >= 0.7)
    SELECT doc_id FROM uniq
    WHERE doc_id NOT IN (SELECT id_b FROM neardup)
    ORDER BY doc_id
    """


@register(
    "curation_pipeline",
    _curation_oracle(),
    note="end-to-end corpus curation: language-ID gate + quality gate (word count, "
    "punctuation ratio) + exact dedup (keep min id) + near-dup removal (trigram "
    "Jaccard >= 0.7 via the inverted-index join, drop the non-minimal side of every "
    "pair) — the composed pipeline an LLM-data user runs; each stage is the "
    "already-audited operator (operators/text.py, operators/dedup.py)",
)
def q_curation_pipeline(spark, sf_dir):
    for _name, df, _forced in curation_pipeline_stages(spark, sf_dir):
        final = df
    return final


def curation_pipeline_stages(spark, sf_dir):
    """The curation pipeline as an ordered stage generator — the single
    source of truth for `curation_pipeline` (the query consumes every
    stage and returns the last; `tools/curation_stage_probe.py` forces
    and times each one to attribute scale drift to a stage).

    Yields ``(stage_name, df, forced)`` in dependency order.  `forced`
    is True when producing the tuple already executed the stage (the
    materialization checkpoint); lazy stages are forced by the caller.
    """
    from ..scratch import scratch_dir

    u = _docs_self_union(spark, sf_dir)
    scored = with_quality_score(with_language_id(u))
    kept = scored.filter(
        (F.col("lang_id") != "und")
        & (F.col("n_words") >= 10)
        & (F.col("punct_ratio") <= 0.2)
    )
    yield "gate_lang_quality", kept.select("doc_id"), False
    # exact dedup via a WINDOW (keep the min-id row per normalized
    # text), not operators.dedup.exact_dedup's aggregate + semi-join:
    # the semi-join's outer side re-executes this point's lineage, and
    # here that lineage is the whole langid+quality gate chain —
    # profiled as the two most expensive stages of the pipeline, run
    # twice (r14 opt, guide §2.4: two operations keyed the same way
    # share one pass).  For a cheap re-scannable input the operator's
    # agg+semi-join stays the right shape (shuffles ~40 B/row instead
    # of the text payload); the window form wins exactly when the
    # input is expensive to recompute.  row_number over (__norm, id
    # asc) == 1 selects the same min-id representative rows.
    #
    # The explicit repartition both feeds the window (hash on __norm,
    # no second exchange) and PINS the partition count: AQE would
    # coalesce this ~10 MB shuffle to one partition, serializing the
    # shingle UDF and the parquet write (and the write's file count is
    # the scan parallelism of every downstream pair-join stage —
    # profiled: the gram-explode stage ran as ONE task).
    from pyspark.sql import Window as _W

    from ..operators.dedup import normalized_text

    # partition count tracks the corpus, capped at cluster parallelism
    # (scale-adaptive: at real volume rows//512 >> dp and the cap rules;
    # at bench SF it keeps ~0.5-1k rows per task so the per-task fixed
    # costs don't dominate the Arrow kernel — measured 2.5 s at 16
    # parts vs 3.4 s at 32 for the sf0.1 corpus)
    dp = spark.sparkContext.defaultParallelism
    nparts = int(min(dp, max(8, (2 * parquet_num_rows(sf_dir, "documents")) // 512)))
    uniq = (
        kept.select("doc_id", "text")
        .withColumn("__norm", normalized_text(F.col("text")))
        .repartition(nparts, "__norm")
        .withColumn(
            "__rk",
            F.row_number().over(_W.partitionBy("__norm").orderBy("doc_id")),
        )
        .filter(F.col("__rk") == 1)
        .select("doc_id", shingles_udf(3)(F.col("text")).alias("grams"))
    )
    # stage materialization: the near-dup self-join + the survivor
    # anti-join would otherwise re-execute the whole gate+dedup chain
    # 3x (once per join input) and the shingle UDF twice.  Staging the
    # surviving (doc_id, grams) slice to parquet runs both once — the
    # production pattern at 100 TB too: each curation stage persists,
    # downstream stages scan the materialized table.
    uniq = stage(
        uniq, "uniq", eager=True, staging_dir=scratch_dir("curation_uniq_")
    )
    yield "exact_dedup_shingle", uniq, True
    pairs = ngram_jaccard_pairs_from_grams(uniq, block_col=None, threshold=0.7)
    yield "near_dup_pairs", pairs, False
    survivors = uniq.join(
        pairs.select(F.col("id_b").alias("doc_id")).distinct(),
        on="doc_id",
        how="left_anti",
    )
    yield "survivors_anti_join", survivors.select("doc_id").orderBy("doc_id"), False


def _simhash_md5_oracle_sql() -> str:
    """Generate the DuckDB spelling of the md5-SimHash pair set.

    Mirrors operators/dedup.py simhash_md5_signatures expression by
    expression (same tokenizer regex, same md5-prefix hashes, same
    ±1 bit votes), then checks the BLOCKED Spark pair set against the
    exact O(n²) pair set — certifying both the signature math and the
    pigeonhole blocking's zero-miss guarantee in one hash compare.
    """
    sums = ",\n           ".join(
        f"sum(CASE WHEN ({col} & {1 << b}) <> 0 THEN 1 ELSE -1 END) AS s_{half}_{b}"
        for half, col in (("hi", "h_hi"), ("lo", "h_lo"))
        for b in range(32)
    )

    def pack(half: str) -> str:
        return " + ".join(
            f"CASE WHEN s_{half}_{b} > 0 THEN {1 << b} ELSE 0 END"
            for b in range(32)
        )

    return f"""
    WITH u AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + {DOC_SHIFT}, text FROM documents),
    toks AS (
      SELECT doc_id,
             unnest(list_filter(
               string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS tok
      FROM u),
    h AS (
      SELECT doc_id,
             ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h_hi,
             ('0x' || substr(md5(tok), 9, 8))::BIGINT AS h_lo
      FROM toks),
    s AS (
      SELECT doc_id,
           {sums}
      FROM h GROUP BY doc_id),
    sig AS (
      SELECT doc_id,
             CAST({pack("hi")} AS BIGINT) AS sig_hi,
             CAST({pack("lo")} AS BIGINT) AS sig_lo
      FROM s),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(bit_count(xor(a.sig_hi, b.sig_hi))
                  + bit_count(xor(a.sig_lo, b.sig_lo)) AS INT) AS hamming
      FROM sig a JOIN sig b ON a.doc_id < b.doc_id)
    SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
    ORDER BY id_a, id_b
    """


@register(
    "simhash_near_dup",
    _simhash_md5_oracle_sql(),
    note="SimHash(64) near-dup pairs, hash-certified end-to-end: md5-prefix token "
    "hashes via the Arrow signature kernel (operators/dedup.py "
    "_simhash_md5_kernel — bit-identical to the engine-portable 65-aggregate JVM "
    "expression flavor, parity-pinned in tests/test_dedup.py, and ~1.5 s less "
    "fresh-plan latency), C(6,3) block-combo pigeonhole blocking + bit_count "
    "verify; the oracle recomputes signatures in SQL and takes the exact O(n^2) "
    "pair set, so the hash compare certifies signature math AND proves the "
    "blocking misses nothing",
)
def q_simhash_near_dup(spark, sf_dir):
    # self-union: identical texts have identical signatures (hamming 0),
    # so the pair set is non-empty and deterministic
    u = _docs_self_union(spark, sf_dir, spread=False)
    pairs = simhash_md5_near_dup_pairs(u, max_hamming=3)
    return pairs.select("id_a", "id_b", "hamming").orderBy("id_a", "id_b")


