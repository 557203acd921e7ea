"""Artifact-name helper, compaction and file-format round trips."""

from __future__ import annotations

from world_vaccination_coverage_etl_spark.sources.sinks import sanitize_filename


def test_sanitize_filename():
    assert sanitize_filename("Aland Islands/bcg") == "Aland_Islands-bcg"
    assert sanitize_filename("weird:*name?.csv") == "weirdname.csv"
    assert sanitize_filename("ok-1.2_x") == "ok-1.2_x"


def test_compact_parquet_merges_small_files(spark, tmp_path):
    from world_vaccination_coverage_etl_spark.sources.sinks import compact_parquet

    src = tmp_path / "many"
    # 40 tiny files (one per partition)
    spark.range(0, 4000).repartition(40).write.parquet(str(src))
    import os

    n_in = sum(
        1 for _r, _d, fs in os.walk(src) for f in fs if f.endswith(".parquet")
    )
    assert n_in == 40
    out = tmp_path / "compact"
    n_out = compact_parquet(spark, str(src), str(out), target_file_mb=128)
    assert n_out == 1
    # content preserved exactly
    a = sorted(r.id for r in spark.read.parquet(str(src)).collect())
    b = sorted(r.id for r in spark.read.parquet(str(out)).collect())
    assert a == b


def test_orc_roundtrip_with_predicate_pushdown(spark, sf_small, tmp_path):
    """ORC is the engine's second columnar warehouse format: exact
    round-trip, schema preserved, and filters reach the ORC scan
    (PushedFilters) just as they do for parquet."""
    from world_vaccination_coverage_etl_spark.sources.registry import load_table

    li = load_table(spark, sf_small, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    path = str(tmp_path / "lineitem_orc")
    li.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    assert back.count() == li.count()
    assert dict(back.dtypes) == dict(li.dtypes)

    filtered = back.filter("l_returnflag = 'R'")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "l_returnflag" in plan
    assert filtered.count() == li.filter("l_returnflag = 'R'").count()


def test_xml_roundtrip_builtin_source(spark, sf_small, tmp_path):
    """Spark 4 ships XML as a built-in source: write the dimension
    table out as XML, read it back with BOTH an explicit schema and
    inference, and keep values exact — the legacy-feed ingest path
    (the reference's WHO-style extracts ship as CSV today; XML is the
    other common institutional format)."""
    from world_vaccination_coverage_etl_spark.sources.registry import load_table

    nation = load_table(spark, sf_small, "nation")
    path = str(tmp_path / "nation_xml")
    nation.write.format("xml").option("rowTag", "nation").mode(
        "overwrite"
    ).save(path)

    explicit = (
        spark.read.format("xml")
        .option("rowTag", "nation")
        .schema(nation.schema)
        .load(path)
    )
    assert sorted(map(tuple, explicit.collect())) == sorted(
        map(tuple, nation.collect())
    )

    inferred = (
        spark.read.format("xml").option("rowTag", "nation").load(path)
    )
    assert inferred.count() == nation.count()
    assert set(inferred.columns) == set(nation.columns)
