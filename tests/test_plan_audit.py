"""tools/plan_audit.py rules, one small ``spark.range`` plan per rule:
each test asserts the finding and its severity read off the executed
operator tree (AQE off, as in the audit's own session)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from tools.plan_audit import audit

NAME = "plan_audit_probe"  # in neither allowlist


@pytest.fixture()
def findings(spark):
    """``findings(df)`` → the audit's ``(tag, is_critical)`` list for
    ``df``'s executed plan, planned with AQE off."""
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        yield lambda df: audit(NAME, df._jdf.queryExecution().executedPlan())
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def _scalar(spark):
    return spark.range(10).agg(F.max("id").alias("m"))


def test_unpartitioned_window_over_rows_is_critical(spark, findings):
    df = spark.range(100).withColumn("r", F.row_number().over(Window.orderBy("id")))
    assert findings(df) == [("GLOBAL-WINDOW", True)]


def test_window_over_block_aggregate_is_range_block(spark, findings):
    blocks = spark.range(100).withColumn("_blk", F.col("id") % 4).groupBy("_blk").count()
    df = blocks.withColumn("c", F.sum("count").over(Window.orderBy("_blk")))
    assert findings(df) == [("RANGE-BLOCK-PREFIX-SUM (≤RANGE_BLOCKS rows)", False)]


def test_nlj_over_scalar_aggregate_is_scalar_broadcast(spark, findings):
    df = spark.range(100).crossJoin(_scalar(spark))
    assert findings(df) == [("SCALAR-BROADCAST-NLJ", False)]


def test_nlj_over_cached_scalar_aggregate_is_scalar_broadcast(spark, findings):
    cached = _scalar(spark).persist()
    try:
        assert findings(spark.range(100).crossJoin(cached)) == [
            ("SCALAR-BROADCAST-NLJ", False)
        ]
    finally:
        cached.unpersist()


def test_nlj_over_scan_is_critical_cartesian(spark, findings):
    (got,) = findings(spark.range(100).crossJoin(spark.range(10)))
    assert got[0].startswith("CARTESIAN") and got[1] is True


def test_row_at_a_time_udf_is_critical(spark, findings):
    plus_one = F.udf(lambda v: v + 1, "long")
    assert findings(spark.range(10).select(plus_one("id"))) == [("PY-ROW-UDF", True)]


def test_explode_over_projected_array_is_lambda_filter(spark, findings):
    arr = spark.range(8).select(
        "id", F.transform(F.sequence(F.lit(0), "id"), lambda v: v * 2).alias("a")
    )
    df = arr.select("id", F.explode("a"))
    assert findings(df) == [("LAMBDA-FILTER", False)]
