"""JSONL export tests (sources/jsonl.py)."""

from __future__ import annotations

import json
import os

from world_vaccination_coverage_etl_spark.sources.jsonl import write_jsonl

SCHEMA = "doc_id long, text string, split string"
ROWS = [(1, "alpha", "train"), (2, 'quote " and \\ slash', "val"), (3, "", "train")]


def test_directory_roundtrip(spark, tmp_path):
    df = spark.createDataFrame(ROWS, SCHEMA)
    out = str(tmp_path / "corpus_jsonl")
    write_jsonl(df, out)
    back = spark.read.schema(SCHEMA).json(out)
    assert sorted(map(tuple, back.collect())) == sorted(ROWS)


def test_single_file_deterministic(spark, tmp_path):
    df = spark.createDataFrame(ROWS, SCHEMA)
    p1 = write_jsonl(df, str(tmp_path / "a.jsonl"), single_file=True,
                     order_by=["doc_id"])
    p2 = write_jsonl(df, str(tmp_path / "b.jsonl"), single_file=True,
                     order_by=["doc_id"])
    b1, b2 = open(p1, "rb").read(), open(p2, "rb").read()
    assert b1 == b2 and os.path.isfile(p1)
    # every line parses standalone, order pinned by doc_id
    lines = [json.loads(ln) for ln in b1.decode().splitlines()]
    assert [ln["doc_id"] for ln in lines] == [1, 2, 3]
    assert lines[1]["text"] == 'quote " and \\ slash'
