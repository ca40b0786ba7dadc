"""Session-wide tracked persist registry (guide §5 hygiene).

Query builders persist small aggregated frames that feed multiple plan
branches (the diamond rule: uncached, Catalyst rebuilds the subplan per
branch). A builder cannot know when its RETURNED lazy frame has been
fully consumed, so cache lifecycle belongs to whoever drives a batch of
queries. A persisted frame stays registered in Spark's CacheManager
until it is unpersisted or the session stops; dropping the Python
reference does NOT free it. So every caller that runs more than one
query in a session (the oracle gate, bench, plan audit, microbench)
must call :func:`release_tracked` between queries, or the caches of
every query it ran accumulate for the session's lifetime.

Usage inside a query builder — a drop-in for ``.persist()`` in a method
chain::

    from ..caching import persist_tracked
    frame = heavy_aggregate(...).transform(persist_tracked)

Releasing is correctness-neutral: unpersisting only forfeits reuse.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: Frames persisted by query builders since the last release.
_TRACKED: list[DataFrame] = []


def persist_tracked(df: DataFrame) -> DataFrame:
    """persist() the frame (default MEMORY_AND_DISK) and register it
    for the next :func:`release_tracked` sweep."""
    out = df.persist()
    _TRACKED.append(out)
    return out


def release_tracked() -> int:
    """Unpersist every tracked frame; returns how many were released.
    Safe once the frames returned by the builders have been consumed
    (e.g. between queries in a gate sweep)."""
    n = len(_TRACKED)
    for df in _TRACKED:
        try:
            df.unpersist()
        except Exception:  # noqa: BLE001 — session may already be gone
            pass
    _TRACKED.clear()
    return n
