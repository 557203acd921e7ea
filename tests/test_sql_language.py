"""Spark 4 SQL-language surface pins: SQL UDFs, session variables,
EXECUTE IMMEDIATE, and SQL scripting.

These are the SQL-first user's entry points (the reference's audience
writes SQL, not DataFrames): a declarative UDF with no Python worker
in the loop, parameterized execution without string concatenation, and
procedural scripting — each pinned doing real work over the star
views so a Spark upgrade that drops one fails loudly.
"""

from __future__ import annotations

import pytest

from world_vaccination_coverage_etl_spark.schemas import STAR_TABLES
from world_vaccination_coverage_etl_spark.sources.registry import load_table


@pytest.fixture(scope="module", autouse=True)
def views(spark, sf_small):
    for name in STAR_TABLES:
        load_table(spark, sf_small, name).createOrReplaceTempView(name)


def test_sql_udf_runs_jvm_side(spark):
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION pct_change(a DOUBLE, b DOUBLE) "
        "RETURNS DOUBLE RETURN (b - a) / a * 100"
    )
    # NOTE: round() stays in an OUTER select — inlining the SQL UDF
    # under the aggregate pulls round's literal scale into the
    # Aggregate as a non-foldable attribute (analyzer limitation)
    df = spark.sql(
        """
        SELECT o_orderpriority, round(spread0, 2) AS spread
        FROM (
          SELECT o_orderpriority,
                 pct_change(min(o_totalprice), max(o_totalprice)) AS spread0
          FROM orders GROUP BY o_orderpriority)
        ORDER BY o_orderpriority
        """
    )
    rows = df.collect()
    assert len(rows) == 5 and all(r.spread > 0 for r in rows)
    # a SQL UDF inlines into the plan: no Python worker anywhere
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_session_variable_parameterizes_query(spark):
    spark.sql("DECLARE OR REPLACE VARIABLE qty_floor DOUBLE DEFAULT 0.0")
    spark.sql("SET VARIABLE qty_floor = 45.0")
    n_high = spark.sql(
        "SELECT count(*) AS n FROM lineitem WHERE l_quantity >= qty_floor"
    ).collect()[0].n
    n_all = spark.table("lineitem").count()
    assert 0 < n_high < n_all
    spark.sql("SET VARIABLE qty_floor = 0.0")
    assert (
        spark.sql(
            "SELECT count(*) AS n FROM lineitem WHERE l_quantity >= qty_floor"
        ).collect()[0].n
        == n_all
    )


def test_execute_immediate_with_parameter_markers(spark):
    # parameterized dynamic SQL — no string concatenation, no injection
    got = spark.sql(
        "EXECUTE IMMEDIATE "
        "'SELECT count(*) AS n FROM orders WHERE o_orderpriority = ?' "
        "USING '1-URGENT'"
    ).collect()[0].n
    ref = spark.table("orders").filter("o_orderpriority = '1-URGENT'").count()
    assert got == ref


def test_sql_scripting_control_flow(spark):
    # procedural loop entirely inside the SQL engine
    out = spark.sql(
        """
        BEGIN
          DECLARE total BIGINT DEFAULT 0;
          DECLARE i INT DEFAULT 0;
          WHILE i < 3 DO
            SET i = i + 1;
            SET total = total + i;
          END WHILE;
          SELECT total AS s;
        END
        """
    ).collect()
    assert out[0].s == 6
