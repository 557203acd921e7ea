"""Materialize an sf1 warehouse: deterministic 10x amplification of sf0.1.

The driver ships sf0.001/0.01/0.1 only; the 100 TB posture needs at
least one whole-registry run an order of magnitude past the bench SF
to certify cost-curve SHAPE (r5 verdict item 1).  This writes a
parquet warehouse with the same schemas to ``.scale/sf1`` (gitignored;
/root/testdata is read-only) so every registry query and bench.py can
run against it unmodified via ``SPARK_GRAFT_SF_DIR``.

Amplification (seeded by the copy index c in 0..9):

- facts get 10 copies with ids shifted into disjoint ranges
  (``+ c * 10_000_000``): orders.o_orderkey and lineitem.l_orderkey
  shift TOGETHER so order-lineitem join fan-out is preserved;
  events.event_id, documents.doc_id, embeddings.vec_id likewise.
- dimension tables (region nation customer supplier part) stay 1x —
  the scaled-fact-vs-fixed-dim shape every broadcast-join plan in the
  repo is designed for (and dim FKs in the copies remain valid).
- documents: copy 0 keeps original text (true duplicate groups
  survive); copies 1..9 append a copy marker (near-dup variants) and
  recompute n_chars, so content-hash dedup sees realistic group
  structure rather than 10 exact clones per doc.
- embeddings: copy 0 exact; copies 1..9 perturb each component by a
  small copy-dependent affine nudge, so LSH/ANN see 10x distinct
  vectors (10 exact clones per vector would inflate bucket occupancy
  quadratically in a way real 10x data does not).

Doc-id safety: registry self-union fixtures shift by DOC_SHIFT=1e6;
original ids are far below 1e6, so c*1e7 amplification ranges and the
+1e6 union shift can never collide.

Perturbation modes (4th arg):

- ``neardup`` (default, the sf1 behavior): copies 1..N-1 append a
  short copy marker — copies of one doc stay NEAR-DUPS of each other,
  so the near-dup clique per doc grows with the copy count.  Right for
  stressing candidate-volume behavior, but the exact pair answer grows
  quadratically in N (`tools/measure.py probe` records the output
  ratio and lifts the bound by it).
- ``decorrelated``: every 7th word gets a copy-indexed suffix (~43% of
  word-trigram shingles change ⇒ cross-copy Jaccard ≈ 0.4, under every
  registered threshold) and embeddings get a per-(copy, component)
  deterministic sinusoidal nudge (cosine to the original ≈ 0.87, under
  the 0.95 dup threshold; distinct copies near-orthogonal nudges).
  Within a copy the original dup-group structure is preserved (one
  deterministic transformation per copy), so the dup FRACTION stays
  constant as the corpus scales — how real crawl corpora grow.  Right
  for 100x cost-curve probes where the true answer must stay ~linear.

Usage: python tools/make_sf1.py [src_sf_dir] [out_dir] [copies] [mode]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from world_vaccination_coverage_etl_spark.session import get_spark  # noqa: E402

SHIFT = 10_000_000
COPIES = 10
DIMS = ["region", "nation", "customer", "supplier", "part"]


def _copies(df, copies=COPIES):
    return df.select(
        "*",
        F.explode(F.sequence(F.lit(0), F.lit(copies - 1))).alias("__c"),
    )


def _shift(out, *cols):
    for c in cols:
        out = out.withColumn(c, F.col(c) + F.col("__c") * F.lit(SHIFT))
    return out


def main() -> int:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out_dir = (
        sys.argv[2] if len(sys.argv) > 2 else os.path.join(root, ".scale", "sf1")
    )
    copies = int(sys.argv[3]) if len(sys.argv) > 3 else COPIES
    mode = sys.argv[4] if len(sys.argv) > 4 else "neardup"
    if mode not in ("neardup", "decorrelated"):
        raise SystemExit(f"unknown mode {mode!r}")
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("make_sf1")

    def rd(t):
        return spark.read.parquet(os.path.join(src, f"{t}.parquet"))

    def wr(df, t):
        # one flat parquet FILE per table, like the driver's layout,
        # so load_table's footer probe and globbing behave identically
        tmp = os.path.join(out_dir, f"_{t}_tmp")
        df.coalesce(4).write.mode("overwrite").parquet(tmp)
        import glob
        import shutil

        parts = sorted(glob.glob(os.path.join(tmp, "part-*.parquet")))
        dest = os.path.join(out_dir, f"{t}.parquet")
        if len(parts) == 1:
            shutil.move(parts[0], dest)
            shutil.rmtree(tmp)
        else:
            # multi-file: keep as directory named <t>.parquet
            if os.path.isdir(dest) or os.path.isfile(dest):
                shutil.rmtree(dest, ignore_errors=True) if os.path.isdir(
                    dest
                ) else os.remove(dest)
            shutil.move(tmp, dest)
        n = spark.read.parquet(dest).count()
        print(f"[make_sf1] {t}: {n} rows", file=sys.stderr)

    for t in DIMS:
        wr(rd(t), t)

    wr(_shift(_copies(rd("orders"), copies), "o_orderkey").drop("__c"), "orders")
    wr(
        _shift(_copies(rd("lineitem"), copies), "l_orderkey").drop("__c"),
        "lineitem",
    )
    wr(_shift(_copies(rd("events"), copies), "event_id").drop("__c"), "events")

    docs = _shift(_copies(rd("documents"), copies), "doc_id")
    if mode == "neardup":
        perturbed = F.concat(F.col("text"), F.lit(" c"), F.col("__c"))
    else:
        # suffix every 7th word with the copy index: ~43% of word-trigram
        # shingles change, so cross-copy Jaccard ≈ (1-f)/(1+f) ≈ 0.4 —
        # under every registered near-dup threshold — while within-copy
        # dup structure survives (same deterministic rule per copy)
        perturbed = F.array_join(
            F.transform(
                F.split(F.col("text"), " "),
                lambda w, i: F.when(
                    i % 7 == 6,
                    F.concat(w, F.lit("_c"), F.col("__c").cast("string")),
                ).otherwise(w),
            ),
            " ",
        )
    docs = docs.withColumn(
        "text",
        F.when(F.col("__c") == 0, F.col("text")).otherwise(perturbed),
    ).withColumn("n_chars", F.length("text").cast("int"))
    wr(docs.drop("__c"), "documents")

    emb = _shift(_copies(rd("embeddings"), copies), "vec_id")
    if mode == "neardup":
        nudge = lambda x, i: (  # noqa: E731
            x * (F.lit(1.0) + F.col("__c") * F.lit(0.003))
            + F.col("__c") * F.lit(0.011)
            + i * F.lit(0.0)
        ).cast("float")
    else:
        # deterministic per-(copy, component) sinusoidal nudge:
        # ||noise|| ≈ 0.45 on unit vectors ⇒ cosine to original ≈ 0.87
        # (< the 0.95 dup threshold); distinct copies get near-orthogonal
        # nudges (different "frequencies"), so no cross-copy dup blob
        nudge = lambda x, i: (  # noqa: E731
            x + F.sin(F.col("__c") * (i + F.lit(1)) * F.lit(2.654)) * F.lit(0.08)
        ).cast("float")
    emb = emb.withColumn(
        "embedding",
        F.when(F.col("__c") == 0, F.col("embedding")).otherwise(
            F.transform("embedding", nudge)
        ),
    )
    wr(emb.drop("__c"), "embeddings")
    print(f"[make_sf1] wrote {out_dir}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
