"""Golden tests for the dedup operator family (operators/dedup.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from world_vaccination_coverage_etl_spark.operators.dedup import (
    embedding_cosine_dup_pairs,
    exact_dedup,
    exact_dedup_pairs,
    jaccard,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    shingles_udf,
    simhash_near_dup_pairs,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog", "en"),
    (1, "The  quick Brown fox jumps over the lazy dog", "en"),  # exact dup mod case/ws
    (2, "the quick brown fox jumps over the lazy cat", "en"),   # near dup of 0
    (3, "completely different content about spark engines", "en"),
    (4, "der schnelle braune fuchs springt", "de"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string, lang string")


def test_exact_dedup_keeps_min_id(spark):
    out = exact_dedup(_docs(spark))
    kept = sorted(r.doc_id for r in out.collect())
    # 0 and 1 normalize identically -> keep 0; everything else survives
    assert kept == [0, 2, 3, 4]


def test_exact_dedup_pairs_groups(spark):
    out = exact_dedup_pairs(_docs(spark)).collect()
    assert len(out) == 1
    assert out[0].keep_id == 0 and out[0].n_dups == 2


def test_shingles_udf_matches_semantics(spark):
    df = spark.createDataFrame(
        [(0, "a b c d"), (1, "a b"), (2, ""), (3, None)], "id long, text string"
    )
    rows = {
        r.id: sorted(r.sh)
        for r in df.select("id", shingles_udf(3)(F.col("text")).alias("sh")).collect()
    }
    assert rows[0] == ["a b c", "b c d"]
    assert rows[1] == ["a b"]      # shorter than k -> full token join
    assert rows[2] == []
    assert rows[3] == []


def test_minhash_finds_near_dups_not_distinct(spark):
    pairs = minhash_near_dup_pairs(_docs(spark), threshold=0.5).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 1) in found          # exact dup: jaccard 1.0
    assert all(3 not in p for p in found)  # unrelated doc never pairs
    for r in pairs:
        assert 0.5 <= r.jaccard <= 1.0


def test_minhash_jaccard_is_exact_verify(spark):
    # the reported jaccard must equal the exact row-local set jaccard
    sh = _docs(spark).select(
        "doc_id", shingles_udf(3)(F.col("text")).alias("sh")
    ).collect()
    sets = {r.doc_id: set(r.sh) for r in sh}
    for r in minhash_near_dup_pairs(_docs(spark), threshold=0.5).collect():
        a, b = sets[r.id_a], sets[r.id_b]
        assert abs(r.jaccard - len(a & b) / len(a | b)) < 1e-9


def test_simhash_on_real_text(spark):
    # regression: numpy right-shift overflow on hashes with the top bit
    # set crashed any realistic corpus (ADVICE r1)
    pairs = simhash_near_dup_pairs(_docs(spark), max_hamming=6).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 1) in found          # identical after normalization: hamming 0
    ham = {(r.id_a, r.id_b): r.hamming for r in pairs}
    assert ham[(0, 1)] == 0


def test_ngram_jaccard_blocked_by_lang(spark):
    pairs = ngram_jaccard_pairs(_docs(spark), block_col="lang", n=3, threshold=0.3)
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 1) in found
    # cross-lang pairs are never generated, whatever the similarity
    assert all(4 not in p for p in found)


def test_ngram_jaccard_prefix_plain_parity(spark):
    # The adaptive dispatcher swaps candidate-generation plans at
    # PREFIX_FILTER_MIN_DOCS; both must return the identical exact
    # pair set.  Corpus: template docs with word-level edits so pairs
    # span jaccard values on both sides of the threshold.
    from world_vaccination_coverage_etl_spark.operators.dedup import (
        ngram_jaccard_pairs_from_grams,
    )

    base = (
        "w{} x{} common tokens shared across every doc in this block "
        "with enough trailing words that a single edited token still "
        "leaves the surviving shingle overlap above the top threshold"
    )
    rows = []
    for i in range(40):
        fam, edit = divmod(i, 4)
        words = base.format(fam, fam).split()
        words[edit] = f"edit{i}"          # 4-doc families of near-dups
        rows.append((i, " ".join(words)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    grams = df.select(
        "doc_id", shingles_udf(3)(F.col("text")).alias("grams")
    )
    for thresh in (0.3, 0.5, 0.8):
        got = {}
        for mode in (False, True):
            pairs = ngram_jaccard_pairs_from_grams(
                grams, threshold=thresh, prefix_filter=mode
            )
            got[mode] = {
                (r.id_a, r.id_b): round(r.jaccard, 9)
                for r in pairs.collect()
            }
        assert got[False] == got[True], f"paths diverge at t={thresh}"
        assert got[False], f"degenerate test: no pairs at t={thresh}"
    # plan shapes actually differ: only the prefix path ranks grams
    plain = ngram_jaccard_pairs_from_grams(grams, prefix_filter=False)
    pref = ngram_jaccard_pairs_from_grams(grams, prefix_filter=True)
    assert "row_number" not in plain._jdf.queryExecution().optimizedPlan().toString()
    assert "row_number" in pref._jdf.queryExecution().optimizedPlan().toString()


def test_ngram_jaccard_min_shared_parity(spark):
    # ℓ-prefix (multi-prefix) escalation: the pair set must be
    # r-invariant — r only shrinks the candidate superset, the exact
    # verify decides.  Includes 1- and 2-gram docs to pin the
    # min(r, ceil(t/(1+t)(a+b))) cap: two identical 1-gram docs share
    # exactly ONE gram yet J=1.0 — an uncapped r=3 filter would
    # wrongly drop them.
    from world_vaccination_coverage_etl_spark.operators.dedup import (
        ngram_jaccard_pairs_from_grams,
    )

    base = (
        "w{} x{} common tokens shared across every doc in this block "
        "with enough trailing words that a single edited token still "
        "leaves the surviving shingle overlap above the top threshold"
    )
    rows = []
    for i in range(40):
        fam, edit = divmod(i, 4)
        words = base.format(fam, fam).split()
        words[edit] = f"edit{i}"
        rows.append((i, " ".join(words)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    grams = df.select(
        "doc_id", shingles_udf(3)(F.col("text")).alias("grams")
    ).union(
        spark.createDataFrame(
            [
                (100, ["solo gram one"]),          # J(100,101)=1.0, 1 shared
                (101, ["solo gram one"]),
                (102, ["tiny a", "tiny b"]),       # J(102,103)=2/2=1.0
                (103, ["tiny b", "tiny a"]),
                (104, ["tiny a", "other c"]),      # J(102,104)=1/3 < t
            ],
            "doc_id long, grams array<string>",
        )
    )
    for thresh in (0.5, 0.7):
        got = {}
        for r in (1, 2, 3, 5):
            pairs = ngram_jaccard_pairs_from_grams(
                grams, threshold=thresh, prefix_filter=True, min_shared=r
            )
            got[r] = {
                (p.id_a, p.id_b): round(p.jaccard, 9) for p in pairs.collect()
            }
        assert got[1] == got[2] == got[3] == got[5], f"r-variant at t={thresh}"
        assert (100, 101) in got[1]   # the 1-shared-gram pair survived r=5
        assert (102, 103) in got[1]
        assert (102, 104) not in got[1]
        assert len(got[1]) > 2


def test_ngram_jaccard_multiset_grams_parity(spark):
    # Jaccard is a SET similarity; caller-supplied gram arrays with
    # DUPLICATE grams must produce identical (set-semantics) values on
    # both physical plans (ADVICE r6: the plain path used to count
    # shared grams with multiplicity, silently flipping results with
    # corpus size at the auto-dispatch cutover).
    from world_vaccination_coverage_etl_spark.operators.dedup import (
        ngram_jaccard_pairs_from_grams,
    )

    rows = [
        # duplicated shared gram "aa": multiset counting would see
        # inter=3 (aa×2·aa×1 join rows + bb) over n_a=3, n_b=2 → J>1
        (0, ["aa", "aa", "bb"]),
        (1, ["aa", "bb"]),
        (2, ["cc", "cc", "dd", "dd"]),
        (3, ["cc", "dd", "ee"]),
    ]
    grams = spark.createDataFrame(rows, "doc_id long, grams array<string>")
    got = {}
    for mode in (False, True):
        pairs = ngram_jaccard_pairs_from_grams(
            grams, threshold=0.3, prefix_filter=mode
        )
        got[mode] = {
            (r.id_a, r.id_b): round(r.jaccard, 9) for r in pairs.collect()
        }
    assert got[False] == got[True]
    # true set jaccards: {aa,bb}∩{aa,bb}=2/2=1.0 ; {cc,dd}∩{cc,dd,ee}=2/3
    assert got[False][(0, 1)] == 1.0
    assert got[False][(2, 3)] == round(2 / 3, 9)
    assert all(j <= 1.0 for j in got[False].values())


def test_ngram_jaccard_auto_picks_plain_below_cutover(spark):
    # auto on a small corpus must resolve to the plain plan (no
    # document-frequency rank) and still find the known pairs
    pairs = ngram_jaccard_pairs(
        _docs(spark), block_col="lang", n=3, threshold=0.3
    )
    plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    assert "row_number" not in plan
    found = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (0, 1) in found


def test_substring_dup_spans_known_corpus(spark):
    from world_vaccination_coverage_etl_spark.operators.dedup import (
        substring_dup_spans,
    )

    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens
    rows = [
        # docs 0/1 share a 6-token passage at different offsets
        (0, f"intro words here {shared} tail zero"),
        (1, f"{shared} completely different continuation text"),
        # doc 2 repeats a 5-token phrase internally (self-duplication)
        (2, "one two three four five filler one two three four five"),
        # doc 3 shares nothing 4 tokens long with anyone
        (3, "unrelated content with no overlapping window at all"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = substring_dup_spans(df, k=4).collect()
    spans = {(r.doc_id, r.span_start, r.span_end): r.n_dup_windows for r in out}
    # shared passage: 6 tokens -> 3 dup 4-windows, merged to one span
    # doc 0 tokens: intro(0) words(1) here(2) alpha(3).. zeta(8) tail(9) zero(10)
    assert spans[(0, 3, 8)] == 3
    assert spans[(1, 0, 5)] == 3
    # doc 2: "one two three four five" at 0..4 and 6..10 -> two spans
    # of 2 windows each (starts 0,1 and 6,7), NOT merged (gap 6-1 > 4)
    assert spans[(2, 0, 4)] == 2
    assert spans[(2, 6, 10)] == 2
    assert all(d != 3 for d, _, _ in spans)
    # output is (doc, start)-ordered
    got = [(r.doc_id, r.span_start) for r in out]
    assert got == sorted(got)


def test_substring_dup_spans_merges_overlaps(spark):
    from world_vaccination_coverage_etl_spark.operators.dedup import (
        substring_dup_spans,
    )

    # ten-token passage shared verbatim -> every 4-window inside it is
    # duplicated; the 7 windows must merge into ONE maximal span
    passage = "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10"
    rows = [(0, f"{passage} x0 y0"), (1, f"z1 z2 {passage}")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r.doc_id: (r.span_start, r.span_end, r.n_dup_windows)
        for r in substring_dup_spans(df, k=4).collect()
    }
    assert out[0] == (0, 9, 7)
    assert out[1] == (2, 11, 7)


def test_embedding_dup_pairs_lsh_default(spark):
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 0.0, 0.0, 0.0]),       # identical to 0
        (2, [0.999, 0.01, 0.0, 0.0]),    # near-identical to 0
        (3, [0.0, 1.0, 0.0, 0.0]),       # orthogonal
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pairs = embedding_cosine_dup_pairs(df, threshold=0.95, dim=4).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 1) in found
    assert (0, 2) in found and (1, 2) in found
    assert all(3 not in p for p in found)


def test_embedding_dup_pairs_recall_on_perturbed_vectors(spark):
    """Multi-table LSH recall >= 0.95 on *perturbed* (not identical)
    pairs at cosine ~0.95-0.97 — the regime where a single 8-bit table
    only catches ~43% of true pairs."""
    import numpy as np

    rng = np.random.default_rng(7)
    dim, n_base = 32, 120
    rows = []
    for i in range(n_base):
        v = rng.standard_normal(dim)
        v /= np.linalg.norm(v)
        rows.append((2 * i, v.tolist()))
        # perturb along a random orthogonal direction to a target angle
        # drawn in [arccos(0.97), arccos(0.95)]
        noise = rng.standard_normal(dim)
        noise -= (noise @ v) * v
        noise /= np.linalg.norm(noise)
        theta = np.arccos(rng.uniform(0.95, 0.97))
        w = np.cos(theta) * v + np.sin(theta) * noise
        rows.append((2 * i + 1, w.tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    truth = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_dup_pairs(
            df, threshold=0.95, lsh_bits=0, dim=dim
        ).collect()
    }
    got = {
        (r.id_a, r.id_b)
        for r in embedding_cosine_dup_pairs(df, threshold=0.95, dim=dim).collect()
    }
    assert truth, "fixture must produce qualifying pairs"
    assert not (got - truth), "LSH path must never invent pairs"
    recall = len(got & truth) / len(truth)
    assert recall >= 0.95, f"recall {recall:.3f} < 0.95 ({len(got)}/{len(truth)})"


def test_jaccard_empty_guard(spark):
    df = spark.createDataFrame(
        [([], ["a"]), (["a"], ["a"])], "a array<string>, b array<string>"
    )
    vals = [r.j for r in df.select(jaccard(F.col("a"), F.col("b")).alias("j")).collect()]
    assert vals[0] == 0.0 and vals[1] == 1.0


def test_simhash_vectorized_matches_reference_kernel(spark):
    """The r4 vectorized FNV kernel must be bit-identical to the r3
    per-token-loop reference on edge-heavy inputs."""
    from world_vaccination_coverage_etl_spark.operators.dedup import (
        _simhash64,
        _simhash64_ref,
    )

    texts = [
        "The quick brown fox jumps over the lazy dog",
        "the  QUICK   brown_fox! jumps-over (the) lazy dog??",
        "",
        None,
        "!!! --- ???",                     # no tokens
        "répétition déjà vu naïve café",   # non-ASCII letters
        "a",                               # single char
        "word " * 500,                     # one token repeated
        "числа 123 and MIXED caseTOKENS 456seven",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i long, text string")
    got = {
        r.i: r.sig
        for r in df.select("i", _simhash64(F.col("text")).alias("sig")).collect()
    }
    ref = _simhash64_ref(texts)
    assert [got[i] for i in range(len(texts))] == ref


def test_simhash_md5_identical_and_empty_docs(spark):
    from world_vaccination_coverage_etl_spark.operators.dedup import (
        simhash_md5_near_dup_pairs,
        simhash_md5_signatures,
    )
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),  # dup
            (3, "completely different content about spark engines"),
            (4, "...!!!"),  # tokenizes to nothing -> excluded
            (5, ""),
        ],
        "doc_id long, text string",
    )
    sigs = {r["doc_id"]: (r["sig_hi"], r["sig_lo"])
            for r in simhash_md5_signatures(df).collect()}
    assert set(sigs) == {1, 2, 3}  # token-less docs drop out
    assert sigs[1] == sigs[2]
    pairs = simhash_md5_near_dup_pairs(df, max_hamming=3).collect()
    assert [(r["id_a"], r["id_b"], r["hamming"]) for r in pairs] == [(1, 2, 0)]


def test_simhash_md5_blocking_is_exhaustive(spark):
    """The blocked pair set must equal the exact O(n^2) pair set —
    the pigeonhole guarantee the oracle also checks at corpus scale."""
    from world_vaccination_coverage_etl_spark.operators.dedup import (
        simhash_md5_near_dup_pairs,
        simhash_md5_signatures,
    )
    from pyspark.sql import functions as F

    texts = [
        "alpha beta gamma delta epsilon zeta",
        "alpha beta gamma delta epsilon eta",
        "alpha beta gamma delta theta eta",
        "totally unrelated words here now",
        "alpha beta gamma delta epsilon zeta extra",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    blocked = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_md5_near_dup_pairs(df, max_hamming=3).collect()
    }
    s = simhash_md5_signatures(df).alias("a")
    b = simhash_md5_signatures(df).alias("b")
    exact = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in (
            s.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
            .select(
                F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b"),
                (
                    F.bit_count(F.col("a.sig_hi").bitwiseXOR(F.col("b.sig_hi")))
                    + F.bit_count(F.col("a.sig_lo").bitwiseXOR(F.col("b.sig_lo")))
                ).alias("hamming"),
            )
            .filter(F.col("hamming") <= 3)
            .collect()
        )
    }
    assert blocked == exact


def test_staged_flavors_match_checkpoint_flavors(spark, tmp_path):
    """The durable-parquet staging path (the cluster-grade lineage cut:
    survives executor loss, no partition pinning) must produce exactly
    the same pair sets as the default localCheckpoint path."""
    from world_vaccination_coverage_etl_spark.operators.dedup import (
        simhash_md5_near_dup_pairs,
    )

    docs = _docs(spark)

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    base = canon(minhash_near_dup_pairs(docs, threshold=0.5))
    staged = canon(
        minhash_near_dup_pairs(
            docs, threshold=0.5, staging_dir=str(tmp_path / "mh")
        )
    )
    assert staged == base and len(base) > 0

    base_sh = canon(simhash_md5_near_dup_pairs(docs))
    staged_sh = canon(
        simhash_md5_near_dup_pairs(docs, staging_dir=str(tmp_path / "sh"))
    )
    assert staged_sh == base_sh


def test_simhash_md5_kernel_matches_expression(spark):
    """The Arrow md5 kernel must be bit-identical to the 65-aggregate
    JVM expression flavor (the oracle-certified reference) — including
    zero-token-doc drop semantics — on edge-heavy inputs."""
    from world_vaccination_coverage_etl_spark.operators.dedup import (
        simhash_md5_signatures,
        simhash_md5_signatures_kernel,
    )

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "THE  quick---brown_fox 123 jumps!! over 456the lazy dog",
        "",
        None,
        "!!! --- ???",                # tokenizes to nothing -> drops
        "word " * 500,                # one token repeated
        "a 0 z 9",                    # single-char tokens
        "mixed CASE tokens AND numb3rs 42",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    expr = {
        r["doc_id"]: (r["sig_hi"], r["sig_lo"])
        for r in simhash_md5_signatures(df).collect()
    }
    kern = {
        r["doc_id"]: (r["sig_hi"], r["sig_lo"])
        for r in simhash_md5_signatures_kernel(df).collect()
    }
    assert kern == expr
    assert set(kern) == {0, 1, 5, 6, 7}  # 2/3/4 have no tokens


def test_ceil_ratio_exact_integer_bounds(spark):
    # r8 ADVICE: float ceil(t/(1+t)·(a+b)) can overshoot by 1 when the
    # true bound is an integer (t=0.4, a+b=7 → bound 2, float gave 3).
    # _ceil_ratio must be exact for every small case and for large
    # values where float division would round across an integer.
    import math
    from fractions import Fraction

    from world_vaccination_coverage_etl_spark.operators.dedup import (
        _ceil_ratio,
        _threshold_fraction,
    )

    cases = []
    for t in (0.4, 0.5, 0.7, 0.8, 0.85, 0.9):
        num, den = _threshold_fraction(t)
        assert Fraction(num, den) == Fraction(str(t))
        for n in list(range(1, 40)) + [10**6, 10**6 + 7]:
            cases.append((n, num, num + den))  # t/(1+t) bound
            cases.append((n, num, den))        # ceil(t·n) prefix bound
    df = spark.createDataFrame([(i, n) for i, (n, _, _) in enumerate(cases)],
                               "i long, n long")
    exprs = [
        _ceil_ratio(F.col("n"), num, den).alias(f"c{i}")
        for i, (_, num, den) in enumerate(cases)
    ]
    # evaluate each case's own (num, den) against its row only
    rows = {r.i: r for r in df.select("i", "n", *exprs).collect()}
    for i, (n, num, den) in enumerate(cases):
        got = rows[i][f"c{i}"]
        want = -(-num * n // den)  # exact integer ceil
        assert got == want, (n, num, den, got, want)
    # the named repro: t=0.4, a+b=7 → exact bound 2 (float ceil gave 3)
    num, den = _threshold_fraction(0.4)
    assert -(-num * 7 // (num + den)) == 2
    assert math.ceil((0.4 / 1.4) * 7) == 3  # the float bug this replaces


def test_jaccard_boundary_pair_not_dropped(spark):
    # Pair sitting exactly ON the t=0.4 threshold with a+b=7:
    # A={g1,g2,g3}, B={g1,g2,g3,g4} → J=3/4... need J exactly ON a
    # boundary where the overlap bound is integral: t=0.5, A=2, B=2,
    # overlap 1... use t=0.4, |A|=3, |B|=4, inter=2 → J=2/5=0.4 ≥ t.
    # Overlap bound ceil(t/(1+t)·7)=2: with min_shared=3 the capped
    # filter must require only 2 shared prefix grams, not 3.
    from world_vaccination_coverage_etl_spark.operators.dedup import (
        ngram_jaccard_pairs_from_grams,
    )

    grams = spark.createDataFrame(
        [
            (1, ["a", "b", "x"]),
            (2, ["a", "b", "y", "z"]),
        ],
        "doc_id long, grams array<string>",
    )
    for r in (1, 2, 3, 5):
        pairs = ngram_jaccard_pairs_from_grams(
            grams, threshold=0.4, prefix_filter=True, min_shared=r
        )
        got = {(p.id_a, p.id_b) for p in pairs.collect()}
        assert got == {(1, 2)}, (r, got)


def test_minhash_screen_new_batch_vs_base_index(spark):
    """Incremental ingest screen: batch docs near-duplicating a BASE
    doc are caught via the materialized band index; a batch doc that
    only near-duplicates ANOTHER BATCH doc is not (the screen is
    batch-vs-base by design); empty docs pass through as keeps."""
    from world_vaccination_coverage_etl_spark.operators.dedup import (
        minhash_band_signatures,
        minhash_screen_new_batch,
    )

    base = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog near the river bank"),
            (1, "completely different content about spark engines and shuffles"),
        ],
        "doc_id long, text string",
    )
    new = spark.createDataFrame(
        [
            # near-dup of base 0 (last token changed: exact trigram
            # jaccard 10/12 = 0.833, well above threshold and caught
            # by every band config)
            (10, "the quick brown fox jumps over the lazy dog near the river edge"),
            # unique vs base; 12 is its near-dup WITHIN the batch
            (11, "a totally novel document about distributed query planning today"),
            (12, "a totally novel document about distributed query planning now"),
            (13, ""),  # empty: no signature, must not match or crash
        ],
        "doc_id long, text string",
    )
    index = minhash_band_signatures(base)
    pairs = minhash_screen_new_batch(index, base, new, threshold=0.7)
    rows = pairs.collect()
    got = {(r.new_id, r.base_id) for r in rows}
    assert got == {(10, 0)}
    for r in rows:
        assert 0.7 <= r.jaccard <= 1.0


def test_minhash_screen_empty_batch(spark):
    from world_vaccination_coverage_etl_spark.operators.dedup import (
        minhash_band_signatures,
        minhash_screen_new_batch,
    )

    base = spark.createDataFrame(
        [(0, "some base corpus text that exists")], "doc_id long, text string"
    )
    new = spark.createDataFrame([], "doc_id long, text string")
    out = minhash_screen_new_batch(
        minhash_band_signatures(base), base, new
    )
    assert out.count() == 0


def test_minhash_index_accept_two_batch_cycle(spark):
    """Full ingest cycle: batch 1 screens vs the base index, its
    keepers' signatures are appended, and batch 2 then catches a
    near-dup of a BATCH-1 keeper — consecutive crawls dedup against
    each other's accepted docs, not just the original corpus."""
    from world_vaccination_coverage_etl_spark.operators.dedup import (
        minhash_band_signatures,
        minhash_index_accept,
        minhash_screen_new_batch,
    )

    base = spark.createDataFrame(
        [(0, "the quick brown fox jumps over the lazy dog near the river bank")],
        "doc_id long, text string",
    )
    b1 = spark.createDataFrame(
        [
            # near-dup of base 0 -> dropped
            (10, "the quick brown fox jumps over the lazy dog near the river edge"),
            # novel -> accepted into the index
            (11, "a totally novel document about distributed query planning today"),
        ],
        "doc_id long, text string",
    )
    idx = minhash_band_signatures(base)
    p1 = minhash_screen_new_batch(idx, base, b1, threshold=0.7).localCheckpoint()
    assert {(r.new_id, r.base_id) for r in p1.collect()} == {(10, 0)}

    idx2 = minhash_index_accept(idx, b1, p1).localCheckpoint()
    # index now holds base 0 + keeper 11 (dropped 10 is absent)
    assert set(r.doc_id for r in idx2.select("doc_id").distinct().collect()) == {0, 11}

    b2 = spark.createDataFrame(
        [
            # near-dup of batch-1 KEEPER 11 (last token changed)
            (20, "a totally novel document about distributed query planning tonight"),
        ],
        "doc_id long, text string",
    )
    corpus2 = base.unionByName(b1.join(p1.select(F.col("new_id").alias("doc_id")).distinct(), "doc_id", "left_anti"))
    p2 = minhash_screen_new_batch(idx2, corpus2, b2, threshold=0.6)
    assert {(r.new_id, r.base_id) for r in p2.collect()} == {(20, 11)}


def test_embedding_screen_new_batch_vs_base_index(spark):
    """Vector-space incremental screen: an exact re-crawl collides in
    every LSH table and is caught with cosine 1.0; an orthogonal/novel
    vector passes; a batch vector near-duplicating only ANOTHER batch
    vector is not dropped (batch-vs-base contract)."""
    from world_vaccination_coverage_etl_spark.operators.dedup import (
        embedding_screen_new_batch,
        signlsh_bucket_assignments,
    )

    import numpy as np

    rng = np.random.default_rng(7)
    dim = 16
    v0 = rng.standard_normal(dim)
    v1 = rng.standard_normal(dim)
    novel = rng.standard_normal(dim)
    base = spark.createDataFrame(
        [(0, v0.tolist()), (1, v1.tolist())],
        "vec_id long, embedding array<double>",
    )
    near_v0 = (v0 + 0.01 * rng.standard_normal(dim)).tolist()  # cosine ~0.9999
    new = spark.createDataFrame(
        [
            (10, near_v0),
            (11, novel.tolist()),
            (12, (novel + 0.01 * rng.standard_normal(dim)).tolist()),  # near-dup of 11 only
        ],
        "vec_id long, embedding array<double>",
    )
    idx = signlsh_bucket_assignments(base, dim=dim)
    pairs = embedding_screen_new_batch(idx, base, new, threshold=0.95, dim=dim)
    rows = pairs.collect()
    assert {(r.new_id, r.base_id) for r in rows} == {(10, 0)}
    assert all(r.cosine >= 0.95 for r in rows)


def test_fused_minhash_kernel_parity(spark):
    """The fused bands+shingles kernel (r14: one tokenize+shingle pass
    instead of two Python passes) must be bit-identical to the two
    standalone kernels on edge-heavy inputs — including NULL/empty/
    whitespace-only docs and the <3-token full-join fallback."""
    from world_vaccination_coverage_etl_spark.operators.dedup import (
        _minhash_band_hashes,
        _minhash_bands_and_shingles,
    )

    rows = DOCS + [
        (10, "", "en"),
        (11, "   ", "en"),
        (12, None, "en"),
        (13, "one", "en"),
        (14, "two words", "en"),
        (15, "exactly three tokens", "en"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    fused = {
        r["doc_id"]: r
        for r in docs.select(
            "doc_id", _minhash_bands_and_shingles(F.col("text")).alias("bs")
        )
        .select("doc_id", "bs.bands", "bs.shingles")
        .collect()
    }
    bands_ref = {
        r["doc_id"]: r["bands"]
        for r in docs.select(
            "doc_id", _minhash_band_hashes(F.col("text")).alias("bands")
        ).collect()
    }
    sh_ref = {
        r["doc_id"]: r["sh"]
        for r in docs.select(
            "doc_id", shingles_udf(3)(F.col("text")).alias("sh")
        ).collect()
    }
    for did in bands_ref:
        assert fused[did]["bands"] == bands_ref[did]
        # shingles are SETS downstream (array_intersect/union)
        assert sorted(fused[did]["shingles"]) == sorted(sh_ref[did])


def test_signlsh_geometry_certification_scale_fixed():
    """Auto geometry must resolve to the certified (8, 12) at every
    driver-SF corpus size (results bit-identical to the fixed form)
    and scale bits up — with tables preserving the recall bound — past
    the occupancy target."""
    import math

    from world_vaccination_coverage_etl_spark.operators.dedup import (
        _signlsh_geometry,
    )

    # sf0.001/0.01/0.1 self-union corpora are all <= 10k vectors
    # (2^8 buckets keep occupancy <= the 256 target up to 65k rows)
    for n in (8, 100, 1_000, 10_000, 65_536):
        assert _signlsh_geometry(n, 0.95) == (8, 12)
    # large corpora: more bits, recall bound preserved
    p1 = 1.0 - math.acos(0.95) / math.pi
    floor = 1.0 - (1.0 - p1**8) ** 12
    for n in (100_000, 500_000, 1_000_000, 10_000_000):
        bits, tables = _signlsh_geometry(n, 0.95)
        assert bits > 8
        p = p1**bits
        assert 1.0 - (1.0 - p) ** tables >= floor - 1e-12
        # occupancy stays near the target (within 2x)
        assert n / (1 << bits) <= 2048


def test_signlsh_geometry_threshold_one_large_corpus():
    """A threshold clamped to 1.0 makes every table collide (p1 = 1);
    past the 2^8-bucket occupancy target the geometry must fall back to
    the minimum table count instead of taking log(0)."""
    from world_vaccination_coverage_etl_spark.operators.dedup import (
        _signlsh_geometry,
    )

    for threshold in (1.0, 1.5):
        assert _signlsh_geometry(65_536, threshold) == (8, 12)
        bits, tables = _signlsh_geometry(1_000_000, threshold)
        assert bits > 8 and tables == 12
