"""functions.arrays.explode_nonempty: the rows of ``F.explode`` without
the ``size(...) > 0`` filter Catalyst infers below an inner Generate,
and ngram_jaccard_pairs planned through it."""

from __future__ import annotations

from collections import Counter

from pyspark.sql import functions as F

from braintumor_data_pipeline_spark import registry
from braintumor_data_pipeline_spark.caching import release_tracked
from braintumor_data_pipeline_spark.functions.arrays import explode_nonempty

ROWS = [(1, [1, 2]), (2, []), (3, None), (4, [None, 5]), (5, [7, 7])]


def _lambda_filters(df) -> list[str]:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return [ln for ln in plan.splitlines() if "Filter" in ln and "lambdafunction" in ln]


def test_explode_nonempty_rows_equal_explode(spark):
    df = spark.createDataFrame(ROWS, "id int, a array<int>")
    got = explode_nonempty(df, "a", "x", "id")
    want = df.select("id", F.explode("a").alias("x"))
    assert got.columns == ["id", "x"]
    assert Counter(map(tuple, got.collect())) == Counter(map(tuple, want.collect()))
    assert {r.id for r in got.collect()} == {1, 4, 5}  # empty/null drop


def test_explode_nonempty_infers_no_lambda_filter(spark):
    """Over a projected lambda array, F.explode plans a Filter that
    repeats the lambda; the helper plans none."""
    arr = spark.range(8).select(
        "id", F.transform(F.sequence(F.lit(0), "id"), lambda v: v * 2).alias("a")
    )
    assert _lambda_filters(arr.select("id", F.explode("a")))
    assert not _lambda_filters(explode_nonempty(arr, "a", "x", "id"))


def test_ngram_jaccard_plans_no_lambda_filter(spark, sf_dir):
    try:
        df = registry.all_queries()["ngram_jaccard_pairs"].fn(spark, sf_dir)
        assert not _lambda_filters(df)
    finally:
        release_tracked()
