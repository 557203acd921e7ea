"""The registered curation pipeline (``curation_pipeline_stages`` in
queries/m07_dedup.py) and the example that runs it."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

from world_vaccination_coverage_etl_spark.operators.dedup import normalized_text
from world_vaccination_coverage_etl_spark.queries.m07_dedup import (
    _docs_self_union,
    curation_pipeline_stages,
)

STAGES = [
    "gate_lang_quality",
    "exact_dedup_shingle",
    "near_dup_pairs",
    "survivors_anti_join",
]


@pytest.fixture(scope="module")
def stages(spark, sf_small):
    return {
        name: (df, forced)
        for name, df, forced in curation_pipeline_stages(spark, sf_small)
    }


def test_pipeline_produces_nonempty_training_corpus(stages):
    assert list(stages) == STAGES
    survivors, _ = stages["survivors_anti_join"]
    assert survivors.columns == ["doc_id"]
    n = survivors.count()
    assert 0 < n <= stages["gate_lang_quality"][0].count()


def test_stages_materialized_and_monotone(stages):
    # the forced stage was written out and is read back from its own
    # files, not recomputed from the documents table
    uniq, forced = stages["exact_dedup_shingle"]
    files = uniq.inputFiles()
    assert forced and files
    assert not any("documents" in f for f in files)
    n ={name: df.count() for name, (df, _) in stages.items()}
    # each destructive stage only removes rows
    assert n["exact_dedup_shingle"] <= n["gate_lang_quality"]
    assert n["survivors_anti_join"] <= n["exact_dedup_shingle"]
    dropped = stages["near_dup_pairs"][0].select("id_b").distinct().count()
    assert n["survivors_anti_join"] == n["exact_dedup_shingle"] - dropped


def test_no_exact_duplicates_survive(spark, sf_small, stages):
    texts = _docs_self_union(spark, sf_small).select(
        "doc_id", normalized_text(F.col("text")).alias("norm")
    )
    # the input holds every text twice, so the check is not vacuous
    assert texts.groupBy("norm").count().filter("count > 1").count() > 0
    survivors, _ = stages["survivors_anti_join"]
    dups = (
        survivors.join(texts, "doc_id")
        .groupBy("norm").count().filter("count > 1").count()
    )
    assert dups == 0


def test_curate_corpus_example_runs(spark, sf_small, stages, tmp_path,
                                    monkeypatch, capsys):
    examples = os.path.join(os.path.dirname(os.path.dirname(__file__)), "examples")
    monkeypatch.syspath_prepend(examples)
    # the example builds its session with get_spark(), which reuses this
    # one; pin the core count so it leaves the shuffle partitions as is
    monkeypatch.setenv(
        "SPARK_GRAFT_CPUS", spark.conf.get("spark.sql.shuffle.partitions")
    )
    sys.modules.pop("curate_corpus", None)
    import curate_corpus

    assert curate_corpus.main([sf_small, str(tmp_path)]) == 0
    out = capsys.readouterr().out
    for name in STAGES:
        assert name in out
    written = spark.read.json(str(tmp_path / "survivors"))
    assert written.count() == stages["survivors_anti_join"][0].count()
