"""Runnable demo: the registered training-corpus curation pipeline.

    python examples/curate_corpus.py sf_dir [out_dir]

Runs ``curation_pipeline_stages`` (queries/m07_dedup.py), the pipeline
behind the oracle-checked ``curation_pipeline`` registry query:
language + quality gates → exact dedup (keep the min id per normalized
text) → word-trigram Jaccard >= 0.7 near-dup pairs → survivors.  Prints
the row count of every stage and writes the surviving doc ids as JSONL
to ``out_dir/survivors`` (a fresh temporary directory by default).
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from world_vaccination_coverage_etl_spark.queries.m07_dedup import (  # noqa: E402
    curation_pipeline_stages,
)
from world_vaccination_coverage_etl_spark.session import get_spark  # noqa: E402
from world_vaccination_coverage_etl_spark.sources.jsonl import write_jsonl  # noqa: E402


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if not argv:
        print(__doc__, file=sys.stderr)
        return 2
    sf_dir = argv[0]
    out_dir = argv[1] if len(argv) > 1 else tempfile.mkdtemp(prefix="curated_corpus_")
    spark = get_spark("curate-corpus-demo")

    for name, df, _forced in curation_pipeline_stages(spark, sf_dir):
        print(f"{name:22s} {df.count():8d} rows")
        survivors = df

    path = write_jsonl(survivors, os.path.join(out_dir, "survivors"))
    print(f"surviving doc ids written to {path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
