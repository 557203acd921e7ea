"""Deduplication operators for large-scale corpus curation.

Six families, all designed shuffle-lean for the 100 TB posture:

- exact:      hash-groupBy on normalized content (one shuffle);
- MinHash:    shingle → per-row minhash signature (zero shuffle) →
              LSH banding → bucket join for candidates → row-local
              Jaccard verify;
- SimHash:    md5-prefix token-hash signature (Arrow kernel,
              bit-identical to a pure-JVM expression flavor and to
              ANSI SQL, so the full pair set is oracle-certifiable
              end-to-end) → combo-block blocking → popcount
              (bit_count) verify;
- n-gram Jaccard: row-local n-gram sets → blocked self-join → row-local
              intersect/union arithmetic;
- embedding:  multi-table sign-LSH blocking (union of per-table bucket
              collisions, banding-style) → row-local cosine verify;
- decontamination: cross-corpus n-gram collision against a held-out
              benchmark (inverted-index join + LEFT ANTI removal).

The signature computations are all row-local column expressions (or an
Arrow-batched UDF for SimHash/shingles), so the only shuffles are the
final candidate-pair joins on short keys — the minimum any dedup
needs.  Pairs → clusters is ``operators/components.py``.
"""

from __future__ import annotations

import re

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .staging import stage

# --------------------------------------------------------------------------
# exact


def normalized_text(col: F.Column) -> F.Column:
    """Whitespace-collapse + lowercase: the canonical form for dedup."""
    return F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep one row per distinct normalized text: the representative is
    the minimum id (deterministic, oracle-friendly).  One hash shuffle."""
    norm = normalized_text(F.col(text_col)).alias("__norm")
    keep = (
        df.select(F.col(id_col), norm)
        .groupBy("__norm")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


def exact_dedup_pairs(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Duplicate groups: normalized text → representative id + dup count.

    Returns one row per duplicated content (group size > 1).
    """
    norm = normalized_text(F.col(text_col)).alias("norm_text")
    return (
        df.select(F.col(id_col), norm)
        .groupBy("norm_text")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_dups"),
        )
        .filter(F.col("n_dups") > 1)
    )


# --------------------------------------------------------------------------
# shingles / tokens (row-local building blocks)


def shingles_udf(k: int):
    """Arrow-batched word k-shingle kernel (distinct, order-free).

    Tokenization matches the DuckDB oracle exactly:
    lowercase, split on runs of non-[a-z0-9], drop empties; docs
    shorter than k words contribute their full token join.  Output
    order is irrelevant downstream (array_intersect / array_union /
    size are set operations).
    """

    @F.pandas_udf(T.ArrayType(T.StringType()))
    def f(texts: pd.Series) -> pd.Series:
        import re

        split = re.compile(r"[^a-z0-9]+")
        out: list[list[str]] = []
        for text in texts:
            if not text:
                out.append([])
                continue
            toks = [t for t in split.split(text.lower().strip()) if t]
            if not toks:
                out.append([])
            elif len(toks) < k:
                out.append([" ".join(toks)])
            else:
                out.append(
                    list({" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)})
                )
        return pd.Series(out, dtype="object")

    return f


def jaccard(a: F.Column, b: F.Column) -> F.Column:
    """|A ∩ B| / |A ∪ B| over two string arrays (row-local)."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(
        F.lit(0.0)
    )


# --------------------------------------------------------------------------
# MinHash + LSH


_MINHASH_SEED = 0x5EED
_MINHASH_NUM_HASHES = 64
_MINHASH_BANDS = 16


def _minhash_coeffs(num_hashes: int, bands: int, seed: int):
    """Deterministic multiply-shift hash-family coefficients (numpy)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    # odd multipliers → multiply-shift universal family mod 2^64
    a = rng.integers(1, 2**63, size=num_hashes, dtype=np.uint64) * np.uint64(2) + np.uint64(1)
    b = rng.integers(0, 2**63, size=num_hashes, dtype=np.uint64)
    rows_per_band = num_hashes // bands
    c = rng.integers(1, 2**63, size=rows_per_band, dtype=np.uint64) * np.uint64(2) + np.uint64(1)
    d = rng.integers(0, 2**63, size=bands, dtype=np.uint64)
    return a, b, c, d


@F.pandas_udf(T.ArrayType(T.LongType()))
def _minhash_band_hashes(texts: pd.Series) -> pd.Series:
    """Per-document LSH band hashes — one Arrow-batched numpy kernel.

    Pipeline per doc: word trigram shingles (same normalization as
    ``shingles_udf``) → 64-bit base hash per shingle (md5
    prefix, process-stable) → 64 multiply-shift minhashes (vectorized
    ``min`` over the shingle axis) → 16 band hashes (multiply-shift
    over each 4-minhash slice).  Empty docs yield NULL (filtered out).

    The Catalyst higher-order-function route (array_min over transform
    per hash index) is interpreted, re-evaluates inlined lambdas, and
    measured ~1000× slower — and building per-index literal copies of
    the lambda silently collapses to one expression.  A vectorized
    Arrow batch is both the fast and the correct path here.
    """
    import hashlib
    import re

    import numpy as np

    a, b, c, d = _minhash_coeffs(_MINHASH_NUM_HASHES, _MINHASH_BANDS, _MINHASH_SEED)
    rows_per_band = _MINHASH_NUM_HASHES // _MINHASH_BANDS
    split = re.compile(r"[^a-z0-9]+")
    out: list[list[int] | None] = []
    for text in texts:
        if not text:
            out.append(None)
            continue
        toks = [t for t in split.split(text.lower().strip()) if t]
        if not toks:
            out.append(None)
            continue
        if len(toks) < 3:
            shingles = {" ".join(toks)}
        else:
            shingles = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        base = np.array(
            [
                int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "little")
                for s in shingles
            ],
            dtype=np.uint64,
        )
        # (n_shingles, num_hashes) multiply-shift, wrap mod 2^64; min
        # over shingles = the minhash signature
        sig = (base[:, None] * a[None, :] + b[None, :]).min(axis=0)
        band = (sig.reshape(_MINHASH_BANDS, rows_per_band) * c[None, :]).sum(
            axis=1, dtype=np.uint64
        ) + d
        out.append(band.view(np.int64).tolist())
    return pd.Series(out, dtype="object")


@F.pandas_udf(
    T.StructType(
        [
            T.StructField("bands", T.ArrayType(T.LongType())),
            T.StructField("shingles", T.ArrayType(T.StringType())),
        ]
    )
)
def _minhash_bands_and_shingles(texts: pd.Series) -> pd.DataFrame:
    """Fused kernel: band hashes AND the shingle set in ONE pass.

    ``minhash_near_dup_pairs`` needs both products of the same
    tokenize+shingle work — band hashes for candidate generation and
    the shingle arrays for the exact verify.  Running
    ``_minhash_band_hashes`` and ``shingles_udf`` separately tokenized
    and shingled the whole corpus twice in two Python passes (r14 opt,
    guide §4.1: this kernel is the only place the text is decoded —
    emit every product of the decode in one worker pass).  Bit-parity
    with the two standalone kernels is pinned in tests/test_dedup.py.
    """
    import hashlib
    import re

    import numpy as np

    a, b, c, d = _minhash_coeffs(_MINHASH_NUM_HASHES, _MINHASH_BANDS, _MINHASH_SEED)
    rows_per_band = _MINHASH_NUM_HASHES // _MINHASH_BANDS
    split = re.compile(r"[^a-z0-9]+")
    bands_out: list[list[int] | None] = []
    sh_out: list[list[str]] = []
    for text in texts:
        toks = (
            [t for t in split.split(text.lower().strip()) if t] if text else []
        )
        if not toks:
            bands_out.append(None)
            sh_out.append([])
            continue
        if len(toks) < 3:
            shingles = {" ".join(toks)}
        else:
            shingles = {" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)}
        base = np.array(
            [
                int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "little")
                for s in shingles
            ],
            dtype=np.uint64,
        )
        sig = (base[:, None] * a[None, :] + b[None, :]).min(axis=0)
        band = (sig.reshape(_MINHASH_BANDS, rows_per_band) * c[None, :]).sum(
            axis=1, dtype=np.uint64
        ) + d
        bands_out.append(band.view(np.int64).tolist())
        sh_out.append(list(shingles))
    return pd.DataFrame({"bands": bands_out, "shingles": sh_out})


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    staging_dir: str | None = None,
) -> DataFrame:
    """Near-duplicate pairs via MinHash signatures + LSH banding.

    Signature + banding run in one vectorized pandas UDF per row (no
    shuffle): 64 multiply-shift minhashes over md5-hashed word-trigram
    shingles, folded into 16 band hashes.  Docs sharing any band hash
    become candidates (exploded self-join on the short
    (band_idx, band_hash) key — ids only, never shingle arrays).
    Candidates are verified with the exact JVM-side shingle Jaccard
    (row-local ``array_intersect``/``array_union``) and filtered at
    ``threshold``.

    Scale: the explode emits ``bands`` rows per doc (constant factor);
    the join key is two ints; skewed buckets (e.g. boilerplate) are
    handled by AQE skew-join.  With b=16 bands of r=4 rows, a pair at
    Jaccard j is caught with prob 1-(1-j^4)^16 (≥ 98.8% at j=0.7, ≥
    1-1e-16 at j=0.97).
    """
    # fused single-pass kernel (bands + shingles; see
    # _minhash_bands_and_shingles): one tokenize+shingle pass, one
    # staged table feeding all four consumers below.  The Arrow kernel
    # feeds both sides of the blocking self-join; without the lineage
    # cut Catalyst inlines it into every consumer and it runs 2-4x.
    both = stage(
        df.select(
            F.col(id_col),
            _minhash_bands_and_shingles(F.col(text_col)).alias("bs"),
        ).select(id_col, "bs.bands", "bs.shingles"),
        "minhash_bands_shingles", eager=True, staging_dir=staging_dir
    )
    banded = both.select(
        F.col(id_col),
        F.posexplode("bands").alias("band_idx", "band_hash"),
    )
    sh = both.select(F.col(id_col), "shingles").filter(F.size("shingles") > 0)

    cand_ids = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    # re-attach each side's shingles exactly once per surviving candidate
    # pair (two id-keyed joins), then verify row-locally.
    cand = (
        cand_ids.join(
            sh.select(F.col(id_col).alias("id_a"), F.col("shingles").alias("sh_a")),
            on="id_a",
        ).join(
            sh.select(F.col(id_col).alias("id_b"), F.col("shingles").alias("sh_b")),
            on="id_b",
        )
    )
    return (
        cand.withColumn("jaccard", jaccard(F.col("sh_a"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_band_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """``(id, band_idx, band_hash)`` LSH index rows for each document —
    the materialized signature INDEX a continuous-ingest pipeline
    stages once for its base corpus and then screens every incoming
    batch against.  Same kernel as ``minhash_near_dup_pairs`` (64
    multiply-shift minhashes over md5-hashed word-trigram shingles,
    folded into 16 band hashes), so an index built here is candidate-
    compatible with the self-join path.  Empty/whitespace docs emit no
    rows (NULL signature filtered by the explode)."""
    return df.select(
        F.col(id_col),
        F.posexplode(_minhash_band_hashes(F.col(text_col))).alias(
            "band_idx", "band_hash"
        ),
    )


def minhash_screen_new_batch(
    index_df: DataFrame,
    base_df: DataFrame,
    new_df: DataFrame,
    *,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.7,
    staging_dir: str | None = None,
) -> DataFrame:
    """Screen an incoming batch against the base corpus's banded
    MinHash index: ``(new_id, base_id, jaccard)`` for every batch doc
    near-duplicating a base doc at ``jaccard >= threshold``.

    The continuous-crawl step: ``index_df`` is the MATERIALIZED
    ``minhash_band_signatures`` table of the existing corpus (built
    once, appended to as the corpus grows), so per-batch cost is
    batch-sized, never corpus-sized — batch signatures (one Arrow
    kernel over the batch), one candidate join against the index on
    the short (band_idx, band_hash) key, then exact shingle-Jaccard
    verification on candidates only.  The base side's shingles are
    recomputed for CANDIDATE base docs only (id semi-join into
    ``base_df``), so the full base text is never re-scanned beyond the
    one candidate-bounded fetch — at 100 TB that fetch is a bucketed
    point-join into the warehouse's documents table.

    Recall is the banding guarantee of ``minhash_near_dup_pairs``
    (b=16, r=4: >= 98.8% at j=0.7, -> 1 as j -> 1); precision is exact
    (candidates are verified with the true Jaccard).

    At scale, stage ``index_df`` as a catalog table BUCKETED on
    (band_idx, band_hash) (``sources/warehouse.write_bucketed_table``):
    the candidate join then reads the index's buckets with no Exchange
    — only the batch's bands shuffle to match — so the recurring
    per-batch screen never re-shuffles the corpus-sized side
    (plan-pinned in ``tests/test_warehouse_bucketing.py``).
    """
    # fused single-pass kernel over the batch (see
    # _minhash_bands_and_shingles): band signatures AND the verify
    # shingles in one tokenize+shingle pass instead of two
    both = stage(
        new_df.select(
            F.col(id_col),
            _minhash_bands_and_shingles(F.col(text_col)).alias("bs"),
        ).select(id_col, "bs.bands", "bs.shingles"),
        "incr_new_bands_shingles", eager=True, staging_dir=staging_dir
    )
    new_bands = both.select(
        F.col(id_col),
        F.posexplode("bands").alias("band_idx", "band_hash"),
    )
    new_sh = both.select(
        F.col(id_col).alias("new_id"), F.col("shingles").alias("sh_n")
    ).filter(F.size("sh_n") > 0)
    cand = (
        new_bands.alias("n")
        .join(
            index_df.alias("b"),
            (F.col("n.band_idx") == F.col("b.band_idx"))
            & (F.col("n.band_hash") == F.col("b.band_hash")),
        )
        .select(
            F.col(f"n.{id_col}").alias("new_id"),
            F.col(f"b.{id_col}").alias("base_id"),
        )
        .dropDuplicates(["new_id", "base_id"])
    )
    cand_base_ids = cand.select(F.col("base_id").alias(id_col)).distinct()
    base_sh = base_df.join(cand_base_ids, id_col, "left_semi").select(
        F.col(id_col).alias("base_id"),
        shingles_udf(3)(F.col(text_col)).alias("sh_b"),
    )
    return (
        cand.join(new_sh, "new_id")
        .join(base_sh, "base_id")
        .withColumn("jaccard", jaccard(F.col("sh_n"), F.col("sh_b")))
        .filter(F.col("jaccard") >= threshold)
        .select("new_id", "base_id", "jaccard")
    )


# Below this corpus size the plain inverted index wins: the prefix
# filter's document-frequency pass + per-doc rank costs two extra
# shuffles whose fixed latency exceeds the Sum df² volume it prunes
# (sf0.1 measured: plain 0.67 s vs prefix 1.34 s; sf1 the ordering
# flips by 5x+).  Same adaptive-certification pattern as
# similarity.adaptive_lsh_bits: small inputs run the simple exact
# plan the oracle regime exercises, big inputs get the scale plan,
# and a parity test pins the two paths to identical output.
PREFIX_FILTER_MIN_DOCS = 20_000

# Multi-prefix escalation (r7 verdict item 3): on LOW-ENTROPY corpora —
# fixed vocabulary, so every gram's document frequency grows linearly
# with corpus size — the single-shared-gram prefix filter (r=1) stops
# pruning: at the sf10 curation stage (383 k docs, 299 k gram vocab,
# min df ~30) it admitted 59 M candidate pairs for 18.8 k true pairs.
# The ℓ-prefix scheme (Xiao et al. 2008, PPJoin+; Wang et al. 2012
# adaptive framework) fixes it losslessly: extend each doc's prefix by
# r−1 grams and require ≥ min(r, ceil(t/(1+t)·(a+b))) SHARED prefix
# grams — measured at sf10: r=3 cuts 59 M → 1.5 M candidates (39×)
# for +2 grams of prefix per doc.  Escalation is mass-based, not
# size-based: r jumps to _MULTI_PREFIX_R when the estimated candidate
# mass (1−t)²·Σdf² — the prefix share of the inverted-index join
# volume, an overestimate because prefixes pick the RAREST grams —
# exceeds _MULTI_PREFIX_CAND_PER_DOC candidates per doc.  High-entropy
# corpora (rare grams have df O(1), the 100 TB web-text regime) never
# trip it; the pair set is r-invariant (exact verify follows), so the
# knob is pure plan choice, parity-pinned in tests.
_MULTI_PREFIX_R = 3
_MULTI_PREFIX_CAND_PER_DOC = 50


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_col: str | None = "lang",
    n: int = 3,
    threshold: float = 0.5,
    prefix_filter: bool | str = "auto",
) -> DataFrame:
    """Exact n-gram Jaccard similarity via an inverted-index join.

    Instead of a within-block self-join that (a) shuffles on the
    low-cardinality block key (all pairs of a block land on ONE
    partition — a skew no AQE setting can split, because the key
    cardinality IS the skew) and (b) drags the full gram arrays through
    the shuffle, this builds the classic inverted index:

      explode grams → (gram_hash, id, n_grams) → self-join on the
      64-bit gram hash (high-cardinality, evenly distributed) →
      groupBy (id_a, id_b) counting shared grams → jaccard =
      inter / (n_a + n_b − inter).

    Pairs sharing zero grams never materialize, which is exactly the
    pairs a positive ``threshold`` would drop anyway (asserted).  The
    shuffled rows are fixed-width (two longs + the hash) regardless of
    document length, and the join key distributes by gram content, so
    the plan holds at 100 TB where block-key self-joins die.  Gram
    hashing is JVM ``xxhash64`` (64-bit; cross-gram collision odds
    ~1e-15 per pair at 10⁴ grams/doc).

    ``block_col`` still scopes pairs (kept as an extra join key); with
    ``block_col=None`` candidates pair across the whole corpus — still
    bounded, because only docs sharing a gram ever meet.
    """
    if prefix_filter == "auto":
        # resolve BEFORE shingling: the count prunes down to the id
        # column on a parquet-backed input, so the UDF never runs for
        # the decision (it would if from_grams counted the gram df).
        prefix_filter = df.select(id_col).count() >= PREFIX_FILTER_MIN_DOCS
    grams = df.select(
        F.col(id_col),
        *([F.col(block_col)] if block_col else []),
        shingles_udf(n)(F.col(text_col)).alias("grams"),
    ).filter(F.size("grams") > 0)
    return ngram_jaccard_pairs_from_grams(
        grams, grams_col="grams", id_col=id_col, block_col=block_col,
        threshold=threshold, prefix_filter=bool(prefix_filter),
    )


def ngram_jaccard_pairs_from_grams(
    df: DataFrame,
    grams_col: str = "grams",
    id_col: str = "doc_id",
    block_col: str | None = None,
    threshold: float = 0.5,
    prefix_filter: bool | str = "auto",
    min_shared: int | str = "auto",
) -> DataFrame:
    """Inverted-index Jaccard over PRE-COMPUTED gram arrays, with an
    adaptive prefix filter.

    Split out of ``ngram_jaccard_pairs`` so pipelines that materialize
    their shingles (e.g. a curation stage checkpointing to parquet) pay
    the shingle UDF once instead of once per join side.

    A plain inverted-index join emits one row per SHARED GRAM per
    pair, so its volume is Sum over grams of df(gram)² — on
    low-entropy corpora the hottest grams ("the", boilerplate
    shingles) make that quadratic in corpus size (sf1 stress: the
    unblocked curation join was the whole pipeline's 224 s).  The
    AllPairs/PPJoin prefix-filter lemma (Bayardo et al. 2007, WWW;
    Xiao et al. 2008, WWW) bounds it: under any global total order on
    grams, a pair with J(A, B) >= t must share a gram inside each
    side's first ``|X| - ceil(t * |X|) + 1`` grams.  Ordering grams
    rarest-first therefore restricts the index to each doc's ~(1-t)
    RAREST grams, where df (and so df²) is smallest, while keeping
    the candidate set a provable superset of the answer.  Candidates
    (deduped id pairs) are then verified against the full gram arrays
    with ``array_intersect`` — exact, JVM-side, O(|A| + |B|) per
    candidate.

    Rows shuffled by the candidate join stay fixed-width; the global
    document-frequency pass is one partial-aggregable groupBy plus a
    per-doc window whose partitions are bounded by a single document's
    gram count.  With ``block_col`` candidates are additionally scoped
    to equal block keys (the lemma holds a fortiori on a subset).

    ``prefix_filter``: ``True`` forces the prefix-filtered plan,
    ``False`` the plain inverted index (whose two fewer shuffles win
    below ~``PREFIX_FILTER_MIN_DOCS`` docs), ``"auto"`` (default)
    picks by a row count of ``df`` projected to ``id_col`` — one cheap
    job (metadata-only on a bare parquet scan).  Both paths return the
    identical exact pair set (parity-pinned in tests); only the
    candidate-generation plan differs.

    ``min_shared``: the ℓ-prefix escalation (see ``_MULTI_PREFIX_R``)
    for LOW-ENTROPY corpora where single-gram prefixes stop pruning —
    an int forces r, ``"auto"`` (default) escalates to
    ``_MULTI_PREFIX_R`` when the estimated prefix candidate mass
    ``(1−t)²·Σdf²`` exceeds ``_MULTI_PREFIX_CAND_PER_DOC`` per doc
    (one fixed-width aggregate job, only on the prefix path).  The
    pair set is r-invariant (parity-pinned).

    Gram arrays are normalized with ``array_distinct`` up front:
    Jaccard is a SET similarity, and without the normalization the two
    physical plans would disagree on multiset inputs (the plain path
    counts shared grams per join row — i.e. with multiplicity — while
    the prefix path verifies with ``array_intersect``, which is
    set-semantics).  The in-repo shingle producers already emit
    distinct grams, so for them this is a no-op; the normalization
    makes the plan dispatch value-safe for ANY caller-supplied arrays.
    """
    if threshold <= 0:
        raise ValueError("inverted-index jaccard requires threshold > 0")
    n_docs = None
    if prefix_filter == "auto":
        n_docs = df.select(id_col).count()
        prefix_filter = n_docs >= PREFIX_FILTER_MIN_DOCS

    grams = df.select(
        F.col(id_col),
        *([F.col(block_col)] if block_col else []),
        F.array_distinct(F.col(grams_col)).alias("grams"),
    ).filter(F.size("grams") > 0)
    if prefix_filter:
        if min_shared == "auto":
            min_shared = 1
            if n_docs is None:
                n_docs = df.select(id_col).count()
            # one cheap fixed-width aggregate: Σdf² over gram hashes —
            # the plain inverted-index join volume.  (1−t)² of it is an
            # overestimate of the r=1 prefix candidate mass (prefixes
            # take the RAREST (1−t) share of each doc's grams).
            mass = (
                grams.select(F.explode("grams").alias("g"))
                .select(F.xxhash64("g").alias("gh"))
                .groupBy("gh")
                .agg(F.count(F.lit(1)).alias("gdf"))
                .agg(F.sum(F.col("gdf") * F.col("gdf")).alias("m"))
                .collect()[0]["m"]
            ) or 0
            est_prefix_mass = (1.0 - threshold) ** 2 * mass
            if est_prefix_mass > _MULTI_PREFIX_CAND_PER_DOC * max(n_docs, 1):
                min_shared = _MULTI_PREFIX_R
        return _jaccard_pairs_prefix(
            grams, id_col, block_col, threshold, min_shared=min_shared
        )
    return _jaccard_pairs_plain(grams, id_col, block_col, threshold)


def _jaccard_pairs_plain(
    grams: DataFrame,
    id_col: str,
    block_col: str | None,
    threshold: float,
) -> DataFrame:
    """Plain inverted index: join on every gram hash, count shared
    grams per pair in one partial-aggregable groupBy.  Optimal while
    Sum df² stays small (small corpora / high-entropy grams); the
    dispatcher above swaps in the prefix-filtered plan past the
    corpus-size cutover."""
    ex = (
        grams.select(
            F.col(id_col),
            *([F.col(block_col)] if block_col else []),
            F.size("grams").alias("n_grams"),
            F.explode("grams").alias("g"),
        )
        .select(
            id_col,
            *([block_col] if block_col else []),
            "n_grams",
            F.xxhash64("g").alias("gh"),
        )
    )
    a, b = ex.alias("a"), ex.alias("b")
    cond = (F.col("a.gh") == F.col("b.gh")) & (
        F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    )
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    inter = (
        a.join(b, cond)
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.n_grams").alias("n_a"),
            F.col("b.n_grams").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _threshold_fraction(threshold: float) -> tuple[int, int]:
    """Exact ``(numerator, denominator)`` for the Jaccard threshold.

    ``Fraction(str(t))`` parses the decimal literal the caller wrote
    (0.8 → 4/5), not the binary double, so the bound arithmetic in
    ``_ceil_ratio`` is exact integer math.  A float product that lands
    an ulp above an integer makes ``ceil`` overshoot by 1 (e.g.
    t=0.4, a+b=7: true overlap bound 2, float ceil 3), silently
    requiring more shared prefix grams than the lemma guarantees and
    dropping a true pair before the exact verify."""
    from fractions import Fraction

    fr = Fraction(str(float(threshold)))
    return fr.numerator, fr.denominator


def _ceil_ratio(col: F.Column, num: int, den: int) -> F.Column:
    """``ceil(num·col / den)`` as exact integer arithmetic (col ≥ 0).

    ``p - pmod(p, den)`` is exactly divisible by ``den``, so the
    float division of the two is correctly rounded to the exact
    integer quotient (both operands and result < 2^53) — no
    ulp-overshoot, unlike ``F.ceil`` of a float product."""
    p = (F.lit(num) * col + F.lit(den - 1)).cast("long")
    return ((p - F.pmod(p, F.lit(den))) / F.lit(den)).cast("long")


def _jaccard_pairs_prefix(
    grams: DataFrame,
    id_col: str,
    block_col: str | None,
    threshold: float,
    min_shared: int = 1,
) -> DataFrame:
    """AllPairs/PPJoin prefix-filtered candidate join + exact verify
    on hashed gram arrays (see ``ngram_jaccard_pairs_from_grams``).

    ``min_shared`` = r applies the ℓ-prefix scheme (Xiao et al. 2008):
    each doc's prefix is extended by r−1 grams and a candidate pair
    must share at least ``min(r, ceil(t/(1+t)·(a+b)))`` prefix grams —
    the cap keeps the filter sound for tiny docs whose total required
    overlap is below r (e.g. two identical 1-gram docs share exactly 1
    gram at any threshold).  r=1 reduces to the classic single-shared-
    gram prefix filter with a dropDuplicates; r>1 counts shared prefix
    grams in a partial-aggregable groupBy instead.  The returned pair
    set is r-invariant (candidates are a provable superset either way;
    the exact verify decides)."""
    from pyspark.sql.window import Window

    ex = (
        grams.select(
            F.col(id_col),
            *([F.col(block_col)] if block_col else []),
            F.size("grams").alias("n_grams"),
            F.explode("grams").alias("g"),
        )
        .select(
            id_col,
            *([block_col] if block_col else []),
            "n_grams",
            F.xxhash64("g").alias("gh"),
        )
    )
    # global rarest-first order (ties broken by hash — any consistent
    # total order satisfies the lemma), then keep each doc's prefix
    dfreq = ex.groupBy("gh").agg(F.count(F.lit(1)).alias("gdf"))
    w = Window.partitionBy(id_col).orderBy("gdf", "gh")
    t_num, t_den = _threshold_fraction(threshold)
    prefix_len = F.col("n_grams") - _ceil_ratio(
        F.col("n_grams"), t_num, t_den
    ) + min_shared
    pref = (
        ex.join(dfreq, on="gh")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= prefix_len)
        .select("gh", id_col, "n_grams", *([block_col] if block_col else []))
    )
    a, b = pref.alias("a"), pref.alias("b")
    # length filter: J(A,B) >= t forces t*|B| <= |A| (and symmetrically),
    # so unbalanced pairs are pruned inside the candidate join
    cond = (
        (F.col("a.gh") == F.col("b.gh"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        & (
            F.col("a.n_grams")
            >= _ceil_ratio(F.col("b.n_grams"), t_num, t_den)
        )
        & (
            F.col("b.n_grams")
            >= _ceil_ratio(F.col("a.n_grams"), t_num, t_den)
        )
    )
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    joined = a.join(b, cond)
    if min_shared <= 1:
        cand = joined.select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        ).dropDuplicates(["id_a", "id_b"])
    else:
        # required shared prefix grams, capped by the pair's total
        # overlap bound ceil(t/(1+t)·(a+b)) so tiny docs stay sound;
        # t/(1+t) = num/(num+den) — exact integer ceil, no float ulp
        need = F.least(
            F.lit(min_shared),
            _ceil_ratio(F.col("n_a") + F.col("n_b"), t_num, t_num + t_den),
        )
        cand = (
            joined.groupBy(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                F.col("a.n_grams").alias("n_a"),
                F.col("b.n_grams").alias("n_b"),
            )
            .agg(F.count(F.lit(1)).alias("shared"))
            .filter(F.col("shared") >= need)
            .select("id_a", "id_b")
        )
    # verify on HASHED gram arrays: array_intersect over longs avoids
    # per-pair string hashing/equality (measured ~5x on the sf1 stress,
    # 13.5M candidates); the per-doc hash transform runs once per doc.
    # |intersection| via hashes matches the gram-hash join semantics
    # (64-bit collision odds ~1e-15 per pair).
    hgrams = grams.select(
        F.col(id_col),
        F.size(F.col("grams")).alias("n"),
        F.transform(F.col("grams"), lambda g: F.xxhash64(g)).alias("gharr"),
    )
    ver = cand.join(
        hgrams.select(
            F.col(id_col).alias("id_a"),
            F.col("n").alias("n_a"),
            F.col("gharr").alias("g_a"),
        ),
        on="id_a",
    ).join(
        hgrams.select(
            F.col(id_col).alias("id_b"),
            F.col("n").alias("n_b"),
            F.col("gharr").alias("g_b"),
        ),
        on="id_b",
    )
    inter = F.size(F.array_intersect("g_a", "g_b"))
    return (
        ver.withColumn("inter", inter)
        .withColumn(
            "jaccard",
            F.col("inter").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# --------------------------------------------------------------------------
# SimHash token-vote kernels (used by the md5 SimHash kernel below)


def _batch_vocab(toks_per_doc):
    """Batch vocabulary + per-occurrence vocab indices + per-doc lengths."""
    import numpy as np

    vocab: dict[str, int] = {}
    tok_idx: list[int] = []
    lens = np.empty(len(toks_per_doc), dtype=np.int64)
    for i, toks in enumerate(toks_per_doc):
        lens[i] = len(toks)
        for t in toks:
            j = vocab.get(t)
            if j is None:
                j = vocab[t] = len(vocab)
            tok_idx.append(j)
    return vocab, tok_idx, lens


def _accumulate_simhash(h, tok_idx, lens, n):
    """±1 bit-vote accumulation of the md5 SimHash kernel.

    ``h``: uint64 token hash per vocabulary entry; signature bit b of a
    doc is 1 iff the sum over its token OCCURRENCES of (hash bit b set
    ? +1 : -1) is positive.  Returns int64 signatures (two's-complement
    view of the uint64 packing); empty docs get signature 0.
    """
    import numpy as np

    v = len(h)
    out = np.zeros(n, dtype=np.int64)
    if not v:
        return out
    shifts = np.arange(64, dtype=np.uint64)
    bits = (h[:, None] >> shifts[None, :]) & np.uint64(1)
    tok_arr = np.asarray(tok_idx, dtype=np.int64)
    ends = np.cumsum(lens)
    starts_all = ends - lens
    if n * v <= 16_000_000:
        # small-vocab fast path: per-doc token-count matrix, then one
        # BLAS matmul against the ±1 bit matrix.  Exact — counts and
        # ±1 are integers well below 2^53, so the float64 sums are
        # the integer sums.  Empty docs give an all-zero row → sig 0.
        pmf = bits.astype(np.float64) * 2.0 - 1.0
        doc_idx = np.repeat(np.arange(n), lens)
        counts = (
            np.bincount(doc_idx * v + tok_arr, minlength=n * v)
            .reshape(n, v)
            .astype(np.float64)
        )
        acc = counts @ pmf
        sig = (
            np.packbits(acc > 0, axis=1, bitorder="little")
            .view(np.uint64)
            .ravel()
        )
        out = sig.view(np.int64).copy()
    else:
        # large-vocab path: ±1 occurrence rows reduced per doc, in
        # doc chunks that bound the materialized slice to ~2M rows
        pm = bits.astype(np.int32) * 2 - 1
        i = 0
        while i < n:
            j = i + 1
            while j < n and ends[j] - starts_all[i] <= 2_000_000:
                j += 1
            occ = pm[tok_arr[starts_all[i]:ends[j - 1]]]
            lens_c = lens[i:j]
            nz = lens_c > 0
            st = (starts_all[i:j] - starts_all[i])[nz]
            if st.size:
                acc = np.add.reduceat(occ, st, axis=0)
                sig = (
                    np.packbits(acc > 0, axis=1, bitorder="little")
                    .view(np.uint64)
                    .ravel()
                )
                out[i:j][nz] = sig.view(np.int64)
            i = j
    return out


# --------------------------------------------------------------------------
# cross-corpus decontamination (benchmark n-gram overlap)


def ngram_contamination_pairs(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_shared: int = 1,
) -> DataFrame:
    """Benchmark decontamination: which corpus docs share word n-grams
    with an evaluation set — the overlap check every public LLM data
    pipeline runs before training (n-gram collision against held-out
    benchmarks, cf. the GPT-3/Dolma decontamination write-ups).

    Returns (corpus_id, bench_id, n_shared) for pairs sharing >=
    ``min_shared`` DISTINCT n-grams.

    Scale shape: both sides shingle row-locally into distinct word
    n-grams via the Arrow ``shingles_udf`` kernel (the dedup family's
    shared tokenizer/shingle contract: docs shorter than n words
    contribute their full token join), then meet in an inverted-index
    equi join keyed on ``xxhash64(gram)`` — the 8-byte shuffle key —
    with gram-string equality kept as a residual predicate so a hash
    collision can never fabricate overlap.  The benchmark side is
    typically tiny (eval sets) and broadcasts; the count-distinct-grams
    rollup is one partial-agged shuffle on the (corpus_id, bench_id)
    pair key.  No self-join, no all-pairs.
    """
    def grams(df: DataFrame, out_id: str) -> DataFrame:
        return (
            df.select(
                F.col(id_col).alias(out_id),
                shingles_udf(n)(F.col(text_col)).alias("grams"),
            )
            .filter(F.size("grams") > 0)
            .select(out_id, F.explode("grams").alias("gram"))
            .select(out_id, "gram", F.xxhash64("gram").alias("gram_h"))
        )

    c = grams(corpus, "corpus_id")
    b = grams(benchmark, "bench_id")
    return (
        c.alias("c")
        .join(
            F.broadcast(b.alias("b")),
            (F.col("c.gram_h") == F.col("b.gram_h"))
            & (F.col("c.gram") == F.col("b.gram")),
        )
        .groupBy("corpus_id", "bench_id")
        .agg(F.count_distinct(F.col("c.gram")).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


# --------------------------------------------------------------------------
# exact duplicated-substring spans (suffix-array dedup, k-window form)


def substring_dup_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 10,
) -> DataFrame:
    """Exact duplicated-substring detection, the k-token-window form
    of suffix-array corpus dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" — their 50-token
    exact-substring criterion; k is the token analogue).

    A token substring of length >= k duplicated anywhere in the corpus
    (another document OR another position in the same document)
    contains at least one duplicated k-token window, and every
    duplicated k-window witnesses a duplicated substring of length
    >= k — so flagging duplicated k-windows and merging overlaps
    yields exactly the maximal duplicated spans at k-token
    granularity, without building a suffix array.

    Returns one row per maximal span: (doc_id, span_start, span_end,
    n_dup_windows), token-indexed inclusive, ordered by (doc, start).

    Plan shape (all JVM, shuffle-lean): windows are built ROW-LOCALLY
    (``transform`` over a ``sequence`` of start offsets + ``slice`` —
    no self-join, no window function over the token stream) and
    reduced to their ``xxhash64`` immediately, so the only shuffles
    are (a) the corpus-wide window-hash count — partial-aggregable,
    high-cardinality 8-byte key — (b) the semi join flagging
    duplicated sites, and (c) the per-document gaps-and-islands merge,
    whose window partitions are bounded by a single document's token
    count.  Gram strings never cross the wire.  64-bit hash collision
    odds are ~1e-13 per corpus at 10^6 distinct windows — the same
    certified contract as the n-gram Jaccard join key.
    """
    if k < 2:
        raise ValueError("substring dedup needs k >= 2")
    from pyspark.sql.window import Window

    toks = F.array_remove(
        F.split(F.lower(F.trim(F.col(text_col))), r"[^a-zA-Z0-9]+"), ""
    )
    t = df.select(F.col(id_col), toks.alias("toks")).filter(
        F.size("toks") >= k
    )
    # one (pos, window-hash) pair per k-window, built row-locally
    wins = t.select(
        id_col,
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - k),
                lambda i: F.struct(
                    i.alias("pos"),
                    F.xxhash64(
                        F.array_join(F.slice("toks", i + 1, k), " ")
                    ).alias("gh"),
                ),
            )
        ).alias("w"),
    ).select(id_col, F.col("w.pos").alias("pos"), F.col("w.gh").alias("gh"))
    dup = (
        wins.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= 2)
        .select("gh")
    )
    flagged = wins.join(dup, on="gh", how="left_semi")
    # merge overlapping/adjacent windows: [p, p+k-1] and [q, q+k-1]
    # fuse iff q - p <= k (q <= p + k starts a touching-or-overlapping
    # interval); islands via running sum of gap breaks
    wo = Window.partitionBy(id_col).orderBy("pos")
    spans = (
        flagged.withColumn("prev", F.lag("pos").over(wo))
        .withColumn(
            "brk",
            F.when(
                F.col("prev").isNull()
                | (F.col("pos") - F.col("prev") > k),
                1,
            ).otherwise(0),
        )
        .withColumn("island", F.sum("brk").over(wo))
        .groupBy(id_col, "island")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_dup_windows"),
        )
        .select(id_col, "span_start", "span_end", "n_dup_windows")
    )
    return spans.orderBy(id_col, "span_start")


# --------------------------------------------------------------------------
# SimHash (md5 token hash): pure JVM expressions and an Arrow kernel

SIMHASH_MD5_TOKEN_SPLIT = "[^a-z0-9]+"


def simhash_md5_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash as two 32-bit halves — zero Python in the plan.

    Engine-portable by construction: tokenization is a lowercase split
    on ``[^a-z0-9]+``, the token hash is the first/second 8 hex chars of
    ``md5(token)`` parsed as integers, and signature bit b is set iff
    the sum over token occurrences of (bit b set ? +1 : -1) is positive.
    Every step has a bit-identical ANSI-SQL spelling (DuckDB:
    ``('0x'||substr(md5(tok),...))::BIGINT``), so the full near-dup pair
    set is oracle-checkable.

    Scale shape: explode(tokens) → groupBy(id) with 64 conditional sums.
    All whole-stage-codegen JVM expressions with map-side partial
    aggregation; the only shuffle is the groupBy on the id key.  No
    vocabulary state, no UDF, nothing driver-side — at 100 TB this is
    a plain two-stage agg.

    Docs with zero tokens drop out (explode of an empty array), matching
    SQL ``unnest`` semantics.
    """
    toks = F.array_remove(
        F.split(F.lower(F.col(text_col)), SIMHASH_MD5_TOKEN_SPLIT), ""
    )
    base = df.select(F.col(id_col), F.explode(toks).alias("tok"))
    # md5 through an intermediate column (digest computed once per
    # occurrence), and the per-bit tally counts ONES instead of summing
    # ±1 CASE branches: s_b = Σ(bit ? +1 : −1) = 2·ones_b − n, so
    # "s_b > 0" ⟺ "2·ones_b − n > 0" — bit-identical signature with
    # branch-free codegen.  NOTE on cost: executing this aggregate is
    # ~0.3 s at sf0.1; the ~1.5 s the bench sees on a FRESH DataFrame
    # is driver-side analysis/codegen of the 65-aggregate plan (same-DF
    # re-execution measures 0.05 s), a constant independent of data
    # size — measured invariant across CASE/shift, SWAR lane-packed,
    # and tf-first two-level formulations, so the simplest form wins
    hashed = base.select(id_col, F.md5("tok").alias("m")).select(
        id_col,
        F.conv(F.substring("m", 1, 8), 16, 10).cast("long").alias("h_hi"),
        F.conv(F.substring("m", 9, 8), 16, 10).cast("long").alias("h_lo"),
    )
    aggs = [
        F.sum(
            F.shiftrightunsigned(F.col(col), b)
            .bitwiseAND(F.lit(1))
            .cast("long")
        ).alias(f"o_{half}_{b}")
        for half, col in (("hi", "h_hi"), ("lo", "h_lo"))
        for b in range(32)
    ]
    sums = hashed.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n"), *aggs
    )

    def _pack(half: str) -> F.Column:
        out = F.lit(0).cast("long")
        for b in range(32):
            out = out + F.when(
                F.lit(2) * F.col(f"o_{half}_{b}") - F.col("n") > 0,
                F.lit(1 << b).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
        return out

    return sums.select(
        F.col(id_col),
        _pack("hi").alias("sig_hi"),
        _pack("lo").alias("sig_lo"),
    )


_SIMHASH_MD5_TOKEN_FINDALL = re.compile("[a-z0-9]+")


@F.pandas_udf(
    T.StructType(
        [
            T.StructField("n_toks", T.LongType()),
            T.StructField("sig_hi", T.LongType()),
            T.StructField("sig_lo", T.LongType()),
        ]
    )
)
def _simhash_md5_kernel(texts: pd.Series) -> pd.DataFrame:
    """Arrow kernel computing the SAME md5-prefix signatures as
    ``simhash_md5_signatures`` — bit-identical by construction
    (parity-pinned in tests/test_dedup.py), so the exact-pair-set
    DuckDB oracle certifies queries built on either implementation.

    Why it exists: the JVM expression flavor is a 65-aggregate plan
    whose driver-side analysis/codegen costs ~1.5 s PER FRESH PLAN (a
    constant, not a data cost — same-DF re-execution is 0.05 s).  This
    kernel is one ArrowEvalPython node: negligible planning, and
    execution hashes only the per-batch UNIQUE tokens (hashlib md5 per
    vocab entry, then the shared vectorized ±1 accumulation).

    Bit mapping: 64-bit combined hash = h_hi | (h_lo << 32) with
    h_hi/h_lo the first/second 8 hex chars of md5(token); combined
    signature splits back as sig_hi = sig & 0xFFFFFFFF (votes over
    h_hi bits 0..31) and sig_lo = sig >> 32 — exactly the expression
    flavor's per-half packing.  ``n_toks`` lets the caller reproduce
    the expression flavor's explode semantics (zero-token docs drop).
    """
    import hashlib

    import numpy as np

    toks_per_doc = [
        _SIMHASH_MD5_TOKEN_FINDALL.findall(t.lower()) if t else []
        for t in texts
    ]
    vocab, tok_idx, lens = _batch_vocab(toks_per_doc)
    h = np.empty(len(vocab), dtype=np.uint64)
    for w, j in vocab.items():
        d = hashlib.md5(w.encode("utf-8")).hexdigest()
        h[j] = np.uint64(int(d[:8], 16)) | (
            np.uint64(int(d[8:16], 16)) << np.uint64(32)
        )
    sig = _accumulate_simhash(h, tok_idx, lens, len(texts)).view(np.uint64)
    return pd.DataFrame(
        {
            "n_toks": lens,
            "sig_hi": (sig & np.uint64(0xFFFFFFFF)).astype(np.int64),
            "sig_lo": (sig >> np.uint64(32)).astype(np.int64),
        }
    )


def simhash_md5_signatures_kernel(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """``simhash_md5_signatures`` semantics via the Arrow kernel: same
    (id, sig_hi, sig_lo) rows (zero-token docs drop, matching the
    explode/unnest contract), ~1.5 s less fresh-plan latency."""
    s = df.select(
        F.col(id_col), _simhash_md5_kernel(F.col(text_col)).alias("s")
    )
    return s.filter(F.col("s.n_toks") > 0).select(
        id_col,
        F.col("s.sig_hi").alias("sig_hi"),
        F.col("s.sig_lo").alias("sig_lo"),
    )


def simhash_md5_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    staging_dir: str | None = None,
) -> DataFrame:
    """Near-dup pairs under the engine-portable md5 SimHash.

    Two scale levers over the naive chunk-block join, both
    exactness-preserving (the output still equals the exact O(n²)
    pair set, which the oracle certifies):

    1. **Signature-group collapse** — docs with identical
       (sig_hi, sig_lo) are interchangeable (hamming 0 within the
       group, equal hamming to everyone else), so blocking and verify
       run on DISTINCT signatures; matching signature pairs expand
       back to doc pairs via member joins, and within-group pairs are
       emitted directly at hamming 0.  On duplicate-heavy corpora the
       collapse is dramatic (sf1 stress: 100k rows -> 37k signatures,
       candidate volume -9.5x).
    2. **C(6,3) combo blocking** — the 64 signature bits split into
       six blocks (11,11,10 per half); a pair within hamming 3 has
       ≥3 untouched blocks, so it shares at least one of the 20
       enumerated 3-block combo keys (~33-bit key space).  Versus
       four 16-bit chunks (65,536 buckets — birthday-quadratic in the
       corpus), random-collision candidates are ~2^17x rarer, so
       candidate volume tracks true near-dup structure instead of
       corpus².  Verify is JVM ``bit_count(xor)`` per half.

    The combo pigeonhole requires ``max_hamming <= 3`` (more edits
    could touch 4+ blocks); larger thresholds raise.

    Signatures come from the Arrow md5 kernel
    (``simhash_md5_signatures_kernel``), which is parity-pinned against
    the pure-JVM expression flavor and plans ~1.5 s faster.
    """
    if max_hamming > 3:
        raise ValueError(
            "simhash_md5_near_dup_pairs blocking is exact only for "
            f"max_hamming <= 3 (got {max_hamming})"
        )
    from itertools import combinations

    signed = simhash_md5_signatures_kernel(df, text_col, id_col)
    # one narrow materialization so the signature kernel runs once, not
    # once per blocking-join side
    signed = stage(
        signed, "simhash_md5_signed", eager=True, staging_dir=staging_dir
    )
    g = signed.groupBy("sig_hi", "sig_lo").agg(F.min(id_col).alias("gid"))
    members = signed.join(g, on=["sig_hi", "sig_lo"]).select(id_col, "gid")

    # six blocks over the two 32-bit halves: (offset, width) per half
    block_defs = [
        ("sig_hi", 0, 11), ("sig_hi", 11, 11), ("sig_hi", 22, 10),
        ("sig_lo", 0, 11), ("sig_lo", 11, 11), ("sig_lo", 22, 10),
    ]

    def _blk(i: int) -> F.Column:
        col, off, width = block_defs[i]
        return F.shiftrightunsigned(col, off).bitwiseAND(F.lit((1 << width) - 1))

    combo_keys = F.array(
        *[
            F.struct(
                F.lit(ci).alias("ck"),
                (
                    _blk(i)
                    + F.shiftleft(_blk(j), 16)
                    + F.shiftleft(_blk(k), 32)
                ).alias("cv"),
            )
            for ci, (i, j, k) in enumerate(combinations(range(6), 3))
        ]
    )
    blocked = g.select(
        "gid", "sig_hi", "sig_lo", F.explode(combo_keys).alias("c")
    ).select("gid", "sig_hi", "sig_lo", "c.ck", "c.cv")
    a, b = blocked.alias("a"), blocked.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.ck") == F.col("b.ck"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.gid") < F.col("b.gid")),
        )
        .select(
            F.col("a.gid").alias("gid_a"),
            F.col("b.gid").alias("gid_b"),
            F.col("a.sig_hi").alias("hi_a"),
            F.col("a.sig_lo").alias("lo_a"),
            F.col("b.sig_hi").alias("hi_b"),
            F.col("b.sig_lo").alias("lo_b"),
        )
        .dropDuplicates(["gid_a", "gid_b"])
    )
    gpairs = (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b")))
            + F.bit_count(F.col("lo_a").bitwiseXOR(F.col("lo_b"))),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("gid_a", "gid_b", "hamming")
    )
    cross = (
        gpairs.join(
            members.select(F.col(id_col).alias("m_a"), F.col("gid").alias("gid_a")),
            on="gid_a",
        )
        .join(
            members.select(F.col(id_col).alias("m_b"), F.col("gid").alias("gid_b")),
            on="gid_b",
        )
        .select(
            F.least("m_a", "m_b").alias("id_a"),
            F.greatest("m_a", "m_b").alias("id_b"),
            "hamming",
        )
    )
    within = (
        members.alias("x")
        .join(
            members.alias("y"),
            (F.col("x.gid") == F.col("y.gid"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .select(
            F.col(f"x.{id_col}").alias("id_a"),
            F.col(f"y.{id_col}").alias("id_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    return cross.unionAll(within)


# --------------------------------------------------------------------------
# embedding cosine near-dup


@F.pandas_udf(T.DoubleType())
def _cosine_pairs_udf(va: pd.Series, vb: pd.Series) -> pd.Series:
    """Vectorized pairwise cosine: one Arrow batch in, one ndarray out.

    Zero/empty/NULL vectors score 0.0.
    """
    import numpy as np

    out = np.zeros(len(va), dtype=np.float64)
    ok = np.array(
        [
            a is not None and b is not None and len(a) == len(b) and len(a) > 0
            for a, b in zip(va, vb)
        ]
    )
    if ok.any():
        idx = np.flatnonzero(ok)
        A = np.stack([np.asarray(va.iloc[i], dtype=np.float64) for i in idx])
        B = np.stack([np.asarray(vb.iloc[i], dtype=np.float64) for i in idx])
        dots = np.einsum("ij,ij->i", A, B)
        denom = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        np.divide(dots, denom, out=dots, where=denom > 0)
        out[idx] = np.where(denom > 0, dots, 0.0)
    return pd.Series(out)


def _signlsh_table_buckets(dim: int, bits: int, tables: int, seed: int):
    """Arrow-batched kernel: per row, one sign-LSH bucket id per table.

    ``tables`` independent families of ``bits`` random hyperplanes
    (one deterministic rng draw); the whole batch is a single
    (n, dim) @ (dim, tables*bits) matmul, then bits fold into int
    bucket ids per table.  NULL/wrong-length vectors yield NULL.
    """

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def f(vecs: pd.Series) -> pd.Series:
        import numpy as np

        rng = np.random.default_rng(seed)
        planes = rng.standard_normal((tables * bits, dim))
        weights = (1 << np.arange(bits, dtype=np.int64))
        ok = np.array([v is not None and len(v) == dim for v in vecs])
        out = np.empty(len(vecs), dtype=object)
        if ok.any():
            m = np.stack([np.asarray(v, dtype=np.float64) for v, k in zip(vecs, ok) if k])
            signs = (m @ planes.T) >= 0  # (n_ok, tables*bits)
            buckets = (
                signs.reshape(len(m), tables, bits) * weights[None, None, :]
            ).sum(axis=2)
            it = iter(buckets.astype("int32"))
            for i in np.flatnonzero(ok):
                out[i] = next(it).tolist()
        return pd.Series(out, dtype="object")

    return f


def _signlsh_geometry(
    n_rows: int,
    threshold: float,
    target_occupancy: int = 256,
    min_bits: int = 8,
    max_bits: int = 16,
) -> tuple[int, int]:
    """(bits, tables) for multi-table sign-LSH at corpus size n.

    Fixed bits means fixed bucket COUNT, so expected occupancy — and
    the per-bucket O(occ²) verify — grows linearly with the corpus:
    total verify work O(n²·tables/2^bits), the fixed-coarse-quantizer
    failure ``similarity.adaptive_lsh_bits`` documents (r14 measured:
    embedding_dup_pairs 47× time on a 10× input at fixed 8 bits).
    Scaling bits with log2(n/target) bounds occupancy; TABLES then
    scale to preserve the same recall bound the fixed (8, 12) geometry
    gives at this threshold (per-table collision p = (1 − θ/π)^bits
    shrinks with bits, recall = 1 − (1−p)^T — Charikar'02 / the
    standard banding union bound, public literature).

    At or below min_bits the geometry is EXACTLY the documented
    (8, 12) — every certification-scale corpus resolves there, so
    driver-SF results are bit-identical to the fixed form.
    """
    import math

    bits = 8
    if n_rows > target_occupancy:
        bits = max(
            min_bits,
            min(max_bits, math.ceil(math.log2(n_rows / target_occupancy))),
        )
    if bits <= 8:
        return 8, 12  # the documented certified geometry, verbatim
    return bits, _signlsh_tables(bits, threshold)


def _signlsh_tables(bits: int, threshold: float) -> int:
    """Fewest tables (at least 12) that keep, at ``bits`` bits per
    table, the recall bound the certified (8, 12) geometry gives at
    ``threshold``: recall = 1 − (1−p)^T with p = (1 − θ/π)^bits, solved
    for T (the union bound `_signlsh_geometry` documents)."""
    import math

    p1 = 1.0 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    if bits <= 8 or p1 >= 1.0:
        # fewer bits only raise per-table recall; at p1 = 1 (threshold
        # clamped to 1.0) every table collides and the bound would take log(0)
        return 12
    target_recall = 1.0 - (1.0 - p1**8) ** 12  # fixed-geometry bound
    p = p1**bits
    return max(12, math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - p)))


def _verify_by_bucket(df: DataFrame, kernel, out_schema: str) -> DataFrame:
    """Run a per-(tbl, bkt) verify kernel with ONE Python call per
    shuffle PARTITION instead of one per group.

    ``groupBy(tbl, bkt).applyInPandas`` invokes the Python kernel once
    per group.  The group COUNT here is fixed by the LSH geometry
    (tables × 2^bits ≈ 3k), so the ~3-5 ms pandas-call overhead per
    group neither amortizes at bench SF (where groups hold a handful
    of rows — profiled 15 s of executor time for ~0.5 s of matmul) nor
    at 100 TB (the overhead is per group, data grows per group).  The
    same distribution with ``repartition(n, tbl, bkt)`` + one
    ``mapInPandas`` keeps every group co-located (hash partitioning on
    the full key) while the in-kernel ``pandas.groupby`` does the
    per-group split at C speed — and drops the per-partition SORT that
    FlatMapGroupsInPandas required.  Memory bound: one partition
    buffers in the worker, sized by ``spark.sql.shuffle.partitions``
    (the cluster-scaled knob; AQE cannot re-coalesce an explicit
    repartition, so tiny local runs keep their parallelism too).
    Results are identical: same groups, same kernel per group.
    """
    spark = df.sparkSession
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def run(batches):
        bufs = list(batches)
        if not bufs:
            return
        pdf = pd.concat(bufs, ignore_index=True)
        outs = []
        for _key, g in pdf.groupby(["tbl", "bkt"], sort=False):
            out = kernel(g)
            if len(out):
                outs.append(out)
        if outs:
            yield pd.concat(outs, ignore_index=True)

    return df.repartition(nparts, "tbl", "bkt").mapInPandas(run, out_schema)


def embedding_cosine_dup_pairs(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    block_col: str | None = None,
    lsh_bits: int | str = "auto",
    lsh_tables: int | str = "auto",
    dim: int | None = None,
    lsh_seed: int = 42,
) -> DataFrame:
    """Pairs with cosine similarity >= threshold.

    Blocking (scale-critical — an unblocked self-join is O(n²)):

    - ``block_col`` given → join within that column's groups;
    - otherwise (default) → **multi-table sign-LSH**: ``lsh_tables``
      independent families of ``lsh_bits`` random hyperplanes (same
      banding trick as MinHash above).  A pair at cosine c collides in
      one table with p = (1 − θ/π)^bits, θ = arccos(c), and is a
      candidate if it collides in ANY table: recall = 1 − (1−p)^T.
      The certified geometry (8 bits × 12 tables): recall ≈ 0.9989 at
      c = 0.95, ≈ 1 − 1e-5 at c = 0.97, exactly 1 for true duplicates —
      while a single table would silently miss ~57% of pairs at
      c = 0.95.  ``lsh_bits``/``lsh_tables`` default to ``"auto"``
      (r14): ``_signlsh_geometry`` resolves them from the corpus row
      count — certification-scale corpora get exactly (8, 12), bigger
      corpora get more bits (bounded bucket occupancy — the per-bucket
      verify is O(occ²), so fixed bits is quadratic in n) with tables
      scaled to preserve the same recall bound; an explicit
      ``lsh_bits`` with ``lsh_tables="auto"`` gets its tables from the
      same bound (`_signlsh_tables`).  Explicitly pass
      ``lsh_bits=0`` to force the full cross join (the recall oracle
      on small inputs).

    Shuffle shape mirrors ``minhash_near_dup_pairs``: one shuffle
    moves (id, vector) to its (table, bucket) groups; the per-bucket
    numpy matmul verify runs one Python call per partition
    (``_verify_by_bucket``) and only pairs clearing the threshold
    leave the worker.
    """
    cols = [F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")]
    if block_col:
        cols.append(F.col(block_col))
    vecs = df.select(*cols)

    if not block_col and lsh_bits == "auto":
        # one cheap count job sizes the geometry (same dispatch pattern
        # as ngram_jaccard_pairs_from_grams' prefix_filter="auto")
        lsh_bits, _ = _signlsh_geometry(vecs.count(), threshold)
    if not block_col and lsh_tables == "auto":
        # explicit bits too: more bits need more tables for the same bound
        lsh_tables = _signlsh_tables(lsh_bits, threshold)

    if block_col or lsh_bits <= 0:
        a, b = vecs.alias("a"), vecs.alias("b")
        cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
        if block_col:
            cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
        return (
            a.join(b, cond)
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                _cosine_pairs_udf(F.col("a.v"), F.col("b.v")).alias("cosine"),
            )
            .filter(F.col("cosine") >= threshold)
            .dropDuplicates(["id_a", "id_b"])
        )

    if dim is None:
        dim = len(vecs.select("v").first()[0])
    buckets_udf = _signlsh_table_buckets(dim, lsh_bits, lsh_tables, lsh_seed)
    banded = vecs.select(
        F.col(id_col), "v", F.posexplode(buckets_udf(F.col("v"))).alias("tbl", "bkt")
    )

    # Verify INSIDE each (table, bucket) group: one shuffle moves every
    # vector to its buckets (tables × n rows), then a single numpy
    # matmul scores all within-bucket pairs and only pairs that clear
    # the threshold ever leave the worker.  This beats the
    # candidate-join formulation (ids join → re-attach both vectors →
    # per-pair verify) by ~an order of magnitude: no 2× vector
    # re-attach join, no per-pair Arrow transfer of both vectors, and
    # the dedup aggregate runs on survivors only.  At 100 TB, cap
    # pathological bucket sizes upstream (increase lsh_bits) — group
    # cost is quadratic in bucket occupancy by design.
    def _verify(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
                {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
            )
        pdf = pdf.sort_values("__id")
        ids = pdf["__id"].to_numpy()
        M = np.stack([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
        S = M @ M.T
        norms = np.linalg.norm(M, axis=1)
        denom = np.outer(norms, norms)
        np.divide(S, denom, out=S, where=denom > 0)
        S[denom <= 0] = 0.0
        ia, ib = np.triu_indices(len(ids), k=1)
        keep = S[ia, ib] >= threshold
        return pd.DataFrame(
            {
                "id_a": ids[ia[keep]],
                "id_b": ids[ib[keep]],
                "cosine": S[ia[keep], ib[keep]],
            }
        )

    return _verify_by_bucket(
        banded.withColumnRenamed(id_col, "__id"),
        _verify,
        "id_a long, id_b long, cosine double",
    ).dropDuplicates(["id_a", "id_b"])


def signlsh_bucket_assignments(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    dim: int,
    lsh_bits: int = 8,
    lsh_tables: int = 12,
    lsh_seed: int = 42,
) -> DataFrame:
    """``(id, tbl, bkt)`` sign-LSH index rows for each vector — the
    vector-space analogue of ``minhash_band_signatures``: the
    materialized index a continuous embedding-ingest pipeline stages
    for its base corpus.  Same hyperplane families as
    ``embedding_cosine_dup_pairs`` (deterministic in ``lsh_seed``), so
    an index built here is candidate-compatible with the self-join
    path.  NULL / wrong-``dim`` vectors emit no rows."""
    buckets_udf = _signlsh_table_buckets(dim, lsh_bits, lsh_tables, lsh_seed)
    return df.select(
        F.col(id_col),
        F.posexplode(buckets_udf(F.col(vec_col).cast("array<double>"))).alias(
            "tbl", "bkt"
        ),
    )


def embedding_screen_new_batch(
    index_df: DataFrame,
    base_df: DataFrame,
    new_df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.95,
    dim: int,
    lsh_bits: int = 8,
    lsh_tables: int = 12,
    lsh_seed: int = 42,
    staging_dir: str | None = None,
) -> DataFrame:
    """Screen an incoming embedding batch against the base corpus's
    sign-LSH index: ``(new_id, base_id, cosine)`` for every batch
    vector near-duplicating a base vector at cosine >= threshold.

    The vector-space twin of ``minhash_screen_new_batch``, with the
    verify shape ``embedding_cosine_dup_pairs`` proved at scale: a
    PER-PAIR candidate join would carry bucket-occupancy² rows
    through the shuffle (ruinous once buckets fill), so instead the
    batch-touched index slice and the batch itself meet in per-bucket
    groups and ONE numpy cross-matmul scores every (new × base) pair
    in the bucket — only survivors leave the worker.  Pipeline:

    1. batch bucket assignments (one Arrow matmul over the BATCH);
    2. index rows pruned to batch-touched (tbl, bkt) buckets (a
       bucket-keyed semi join — partition-pruned when the index is
       stored bucketed on (tbl, bkt));
    3. base vectors fetched for the pruned slice's ids only (id semi
       join, candidate-bounded, never a base re-scan);
    4. per-(tbl, bkt) ``applyInPandas``: cross cosine matmul of the
       bucket's batch rows against its base rows, threshold applied
       worker-side, pairs deduped across tables.

    Recall is the multi-table union bound of
    ``embedding_cosine_dup_pairs`` (defaults: ≈0.9989 at c=0.95,
    exactly 1 for true duplicates); precision is exact.
    """
    new_bkts = stage(
        signlsh_bucket_assignments(
            new_df, vec_col, id_col,
            dim=dim, lsh_bits=lsh_bits, lsh_tables=lsh_tables,
            lsh_seed=lsh_seed,
        ),
        "incr_new_vec_buckets", eager=True, staging_dir=staging_dir
    )
    touched = new_bkts.select("tbl", "bkt").distinct()
    idx_pruned = index_df.join(touched, ["tbl", "bkt"], "left_semi")
    base_ids = idx_pruned.select(F.col(id_col)).distinct()
    base_v = base_df.join(base_ids, id_col, "left_semi").select(
        F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
    )
    base_side = idx_pruned.join(base_v, id_col).select(
        "tbl", "bkt", F.lit(False).alias("is_new"),
        F.col(id_col).alias("__id"), "v",
    )
    new_side = new_bkts.join(
        new_df.select(
            F.col(id_col), F.col(vec_col).cast("array<double>").alias("v")
        ),
        id_col,
    ).select(
        "tbl", "bkt", F.lit(True).alias("is_new"),
        F.col(id_col).alias("__id"), "v",
    )

    def _verify(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        empty = pd.DataFrame({"new_id": [], "base_id": [], "cosine": []}).astype(
            {"new_id": "int64", "base_id": "int64", "cosine": "float64"}
        )
        nn = pdf[pdf["is_new"]]
        bb = pdf[~pdf["is_new"]]
        if nn.empty or bb.empty:
            return empty
        A = np.stack([np.asarray(v, dtype=np.float64) for v in nn["v"]])
        B = np.stack([np.asarray(v, dtype=np.float64) for v in bb["v"]])
        S = A @ B.T
        na = np.linalg.norm(A, axis=1)
        nb = np.linalg.norm(B, axis=1)
        denom = np.outer(na, nb)
        np.divide(S, denom, out=S, where=denom > 0)
        S[denom <= 0] = 0.0
        ia, ib = np.nonzero(S >= threshold)
        return pd.DataFrame(
            {
                "new_id": nn["__id"].to_numpy()[ia],
                "base_id": bb["__id"].to_numpy()[ib],
                "cosine": S[ia, ib],
            }
        )

    return _verify_by_bucket(
        new_side.unionByName(base_side),
        _verify,
        "new_id long, base_id long, cosine double",
    ).dropDuplicates(["new_id", "base_id"])
