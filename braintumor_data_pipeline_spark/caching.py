"""One query lifecycle: tracked persists and the scope that frees them.

Query builders persist small aggregated frames that feed multiple plan
branches (the diamond rule: uncached, Catalyst rebuilds the subplan per
branch). A builder cannot know when its RETURNED lazy frame has been
fully consumed, so cache lifecycle belongs to whoever drives a query.
A persisted frame stays registered in Spark's CacheManager until it is
unpersisted or the session stops; dropping the Python reference does
NOT free it, and a cache left behind changes the plans of later
queries that scan the same data.

Every harness that runs registered queries (the oracle gate, bench,
plan audit, microbench, determinism sweep) runs each one inside
:func:`query_scope`, which labels the query's jobs with its name and,
on exit (also when the query raises), calls :func:`release_tracked`.
Release clears the whole session cache (``spark.catalog.clearCache()``),
so a builder's untracked ``.cache()`` goes too.

Usage inside a query builder — a drop-in for ``.persist()`` in a method
chain::

    from ..caching import persist_tracked
    frame = heavy_aggregate(...).transform(persist_tracked)

and in a harness::

    with query_scope(spark, name):
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()

Releasing is correctness-neutral: unpersisting only forfeits reuse.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

#: Frames persisted by query builders since the last release.
_TRACKED = 0


def persist_tracked(df: DataFrame) -> DataFrame:
    """persist() the frame (default MEMORY_AND_DISK) and count it for
    the next :func:`release_tracked`."""
    global _TRACKED
    out = df.persist()
    _TRACKED += 1
    return out


def release_tracked() -> int:
    """Clear the active session's cache, tracked or not; returns how
    many frames :func:`persist_tracked` registered since the last
    release. Safe once the frames returned by the builders have been
    consumed (e.g. between queries in a gate sweep)."""
    global _TRACKED
    n, _TRACKED = _TRACKED, 0
    spark = SparkSession.getActiveSession()
    if spark is not None:
        spark.catalog.clearCache()
    return n


@contextmanager
def query_scope(spark: SparkSession, name: str) -> Iterator[None]:
    """Run one query: its jobs carry the job group ``name``, and every
    cache it leaves is freed on exit, also when it raises."""
    sc = spark.sparkContext
    sc.setJobGroup(name, name)
    try:
        yield
    finally:
        release_tracked()
        sc._jsc.clearJobGroup()
