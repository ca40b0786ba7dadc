"""caching.query_scope: one lifecycle per query. The scope labels the
query's jobs with its name and, on exit, frees every cache the query
left (tracked or not), also when the query raises."""

from __future__ import annotations

import os
import sys

import pytest

from braintumor_data_pipeline_spark import registry
from braintumor_data_pipeline_spark.caching import persist_tracked, query_scope

sys.path.append(
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")
)


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def test_scope_frees_untracked_cache(spark, sf_dir):
    """holt_linear_forecast caches its events source with a plain
    .cache(); the scope frees it all the same."""
    fn = registry.all_queries()["holt_linear_forecast"].fn
    with query_scope(spark, "holt_linear_forecast"):
        _noop(fn(spark, sf_dir))
        assert not _cache_empty(spark)
    assert _cache_empty(spark)


def test_scope_frees_cache_when_query_raises(spark):
    with pytest.raises(RuntimeError, match="query failed"):
        with query_scope(spark, "query_scope_raises"):
            _noop(spark.range(10).transform(persist_tracked))
            assert not _cache_empty(spark)
            raise RuntimeError("query failed")
    assert _cache_empty(spark)


def test_release_count_is_tracked_persists(spark, sf_dir):
    """perfbench adds the release count into caching.released: one
    ngram_jaccard_pairs call persists one tracked frame."""
    from tracing import Tracer
    from workloads import Ctx, QueryWorkload

    with query_scope(spark, "query_scope_zero_count"):
        pass
    wl = QueryWorkload({"queries": ["ngram_jaccard_pairs"], "tables": []})
    wl.sf_dir = sf_dir
    ctx = Ctx(spark, Tracer("query-scope-test", False), "", seed=1)
    wl.setup(ctx)
    wl.run_pass(ctx, "query_scope_count")
    assert not ctx.failures
    assert ctx.released == 1
    assert _cache_empty(spark)


def test_scope_labels_jobs_with_query_name(spark):
    name = "query_scope_job_group"
    sc = spark.sparkContext
    with query_scope(spark, name):
        _noop(spark.range(100))
    _noop(spark.range(100))  # after the scope: not in the group
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(name)) == 1
