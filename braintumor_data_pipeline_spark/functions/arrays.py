"""Array helpers that keep Catalyst from repeating array construction.

``F.explode(c)`` is an inner Generate, and Catalyst's
``InferFiltersFromGenerate`` adds ``size(c) > 0 AND isnotnull(c)`` below
it. When ``c`` is a projected column, that filter is pushed through the
projection and ``c``'s whole defining expression (split, per-element
md5 in a ``transform`` lambda, ``array_distinct``, ``array_sort``) is
substituted into it, so the array is built once for the filter and
again for the Generate. The rule skips outer Generates, so
:func:`explode_nonempty` explodes with ``posexplode_outer`` and drops
the padding row of a null or empty array by its null position: the
same rows as ``F.explode``, with the array built once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def explode_nonempty(df: DataFrame, array_col: str, alias: str, *keep: str) -> DataFrame:
    """``df.select(*keep, F.explode(array_col).alias(alias))`` without
    the inferred pre-filter: rows whose array is null or empty yield no
    row, every element (null elements included) yields one."""
    pos = f"_{alias}_pos"
    return (
        df.select(*keep, F.posexplode_outer(array_col).alias(pos, alias))
        .filter(F.col(pos).isNotNull())
        .drop(pos)
    )
