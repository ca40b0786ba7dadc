"""Global dense ID assignment — contiguous 1..N numbering at scale.

Every corpus pipeline eventually needs stable dense integer IDs
(shard-friendly sample indexing, embedding-matrix row numbers, train
example ordinals). The naive ``row_number() OVER (ORDER BY key)`` is a
single-partition window — a non-starter on 100 B documents. The
scalable form used here is the same three-step pattern the segmentation
grid builder uses internally (segmentation.py:_dense_indexed_orders),
promoted to a first-class, driver-checked operator:

1. range-block the sort key space with a key-DERIVED block id (a
   deterministic function of the key, so the plan is retry/speculation
   stable — never ``spark_partition_id``);
2. row_number within each block — parallel windows, one per block;
3. add per-block offsets from a tiny count aggregate whose prefix-sum
   window runs over one row per block and broadcasts back.

Cost: one narrow shuffle of (key → block) plus a broadcast; full
parallelism at any N. The DuckDB oracle is the naive global
row_number — proving the blocked plan computes the identical function.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..caching import persist_tracked
from ..registry import register
from ..sources.fixtures import load_table as _t

#: Sort-key span per block. At 100 B rows pick ~1e6 (→1e5 blocks: the
#: offset table stays driver-broadcastable and each block window fits
#: one task); the value only shifts parallelism, never results.
BLOCK_SPAN = 64


def dense_ids(df: DataFrame, part_col: str, key_col: str) -> DataFrame:
    """Append ``gid``: dense 1..N over ``df`` ordered by
    (part_col, key_col). ``key_col`` must be unique within a partition
    value (total order ⇒ deterministic ids)."""
    blocked = df.withColumn(
        "_blk", (F.col(key_col) / BLOCK_SPAN).cast("long")
    )
    counts = blocked.groupBy(part_col, "_blk").agg(F.count("*").alias("_cnt"))
    # one row per block → this window runs over a tiny pre-aggregated
    # frame (the benign prefix-sum pattern), then broadcasts
    woff = Window.orderBy(part_col, "_blk").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        part_col,
        "_blk",
        F.coalesce(F.sum("_cnt").over(woff), F.lit(0)).alias("_off"),
    )
    wblk = Window.partitionBy(part_col, "_blk").orderBy(key_col)
    return (
        blocked.join(F.broadcast(offsets), [part_col, "_blk"])
        .withColumn("gid", F.row_number().over(wblk) + F.col("_off"))
        .drop("_blk", "_off")
    )


@register(
    "global_dense_ids_documents",
    oracle="""
    SELECT doc_id, lang,
           ROW_NUMBER() OVER (ORDER BY lang, doc_id) AS gid
    FROM documents
    """,
    tags=("window", "indexing", "layout"),
)
def global_dense_ids_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense 1..N ids over documents ordered by (lang, doc_id), built
    with the blocked row_number + broadcast-offset plan (no global
    window anywhere). The oracle is the single-partition global
    row_number — identical output, scalable plan."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return dense_ids(docs, "lang", "doc_id").select("doc_id", "lang", "gid")


#: Range-block count for the value-keyed rank/cumsum helpers below. A
#: PLAN-TIME constant: the per-block count aggregate that feeds the
#: prefix-sum window is at most this many rows no matter the data
#: volume, which is what makes that window's single partition benign
#: (and what tools/plan_audit.py's GLOBAL_WINDOW_OK entries cite).
#: Must stay a perfect square of _COARSE (the two-level boundary
#: lookup below).
RANGE_BLOCKS = 1024
_COARSE = 32  # sqrt(RANGE_BLOCKS): boundary lookup = 2×31 comparisons


def _with_range_block(df: DataFrame, key_col: str) -> DataFrame:
    """Append ``_blk`` ∈ [0, RANGE_BLOCKS): a deterministic, MONOTONE
    function of ``key_col`` (equal keys ⇒ equal block; larger key ⇒
    same-or-larger block). Boundaries are COUNT-BALANCED (r7, VERDICT
    r6 task 2): the RANGE_BLOCKS−1 quantiles of the key from one
    ``approx_percentile`` pass, broadcast as a sorted array, so a
    clustered or heavy-tailed key distribution still splits into
    ~equal-count blocks — the old linear min/max interpolation packed
    most of a Zipf-ish key's rows into a few blocks (probe table in
    SCALE.md r7). ``_blk`` = number of boundaries ≤ key, found by two
    broadcast interval joins (32-row coarse BNLJ → per-segment
    BroadcastHashJoin, ≤64 codegen comparisons/row — see the inline
    note for why not an expression or HOF fold).

    Correctness never depends on WHERE the boundaries fall (each
    downstream sort orders by the true key within the block, and the
    offsets are exact counts), so approx_percentile's partition-order
    sensitivity only shifts block balance — the helper's output is
    bit-identical across partitionings, which the determinism sweep
    checks. The assignment is a pure function of (key, broadcast
    boundary array) — retry/speculation stable, never
    ``spark_partition_id``.

    Preconditions and edge semantics:

    - **NULL keys map to block 0** (every NULL comparison folds to 0)
      and sort first within it — matching Spark's ASC NULLS FIRST, so
      blocked_rank agrees with the naive ``ORDER BY key`` window it
      replaces. (Before r7, NULL keys produced a NULL ``_blk`` and the
      offsets join silently DROPPED those rows — ADVICE r6.)
    - **An all-equal key frame degenerates to ONE block** — every
      boundary equals the key, so every row lands in block 1023. Any
      monotone-in-key function must do this (equal keys are
      indistinguishable); callers whose key can be near-constant at
      scale should rank on a different/composite key. Equal-key TIES
      inside a block are still broken by the caller's tiebreak column,
      so results stay correct — only parallelism degrades.
    """
    from pyspark.sql.types import IntegerType, StructField, StructType

    key_type = df.schema[key_col].dataType
    pcts = F.array(
        *[F.lit(i / RANGE_BLOCKS) for i in range(1, RANGE_BLOCKS)]
    )
    # accuracy 4096: GK rank error ≤ N/4096 = a quarter-block — block
    # sizes within ~±25% of N/1024 (measured hot block 8447 vs ideal
    # 7812 at 8M rows), at a third of the accuracy-10000 agg cost.
    # 1-row model-SIZING collect (house pattern: bounded model state,
    # like the IVF centroid table) — the ≤1023 boundary values become
    # LOCAL interval tables below. Keeping them as lazy subtrees
    # instead puts the input plan into the lookup's broadcast branches
    # ~7 times per helper call, and CHAINED calls (rfm_segments ranks
    # three times) then grow the logical plan exponentially — measured
    # 603 s at sf0.001 before this collect, ~10 s after.
    bnds = (
        df.agg(
            F.percentile_approx(F.col(key_col), pcts, 4096).alias("_bnds")
        ).collect()[0]["_bnds"]
        or []
    )
    spark = df.sparkSession
    key = F.col(key_col)

    # The lookup is TWO BROADCAST INTERVAL JOINS, not a per-row
    # expression over the boundary array: an unrolled comparison tree
    # gets its shared sub-expressions re-inlined by projection
    # collapsing (measured 15 s/8M rows), and aggregate()/filter()
    # HOFs are interpreted per element (9 s). The join form keeps every
    # comparison in whole-stage codegen: level 1 probes a ≤32-row
    # coarse-interval table (BroadcastNestedLoopJoin, ≤32 predicate
    # evals/row), level 2 an equi-key BroadcastHashJoin on the segment
    # whose build buckets hold ≤32 fine intervals each — measured
    # 4.4 s/8M rows for the full blocked_rank vs 8.1 s naive.
    # Intervals are half-open [lo, hi) with NULL = unbounded, so every
    # non-NULL key matches EXACTLY ONE row per level even when
    # boundary values repeat (duplicate-value intervals are empty);
    # an empty boundary list (empty/all-NULL frame) yields one
    # catch-all interval and a single block 0.
    cvals = [
        bnds[i * _COARSE - 1]
        for i in range(1, (len(bnds) + 1) // _COARSE)
    ]
    coarse_rows = [
        (
            s,
            cvals[s - 1] if s >= 1 else None,
            cvals[s] if s < len(cvals) else None,
        )
        for s in range(len(cvals) + 1)
    ]
    coarse = spark.createDataFrame(
        coarse_rows,
        StructType(
            [
                StructField("_rb_seg", IntegerType(), False),
                StructField("_rb_clo", key_type, True),
                StructField("_rb_chi", key_type, True),
            ]
        ),
    )
    fine_rows = [
        (
            c // _COARSE,
            c,
            bnds[c - 1] if c >= 1 else None,
            bnds[c] if c < len(bnds) else None,
        )
        for c in range(len(bnds) + 1)
    ]
    fine = spark.createDataFrame(
        fine_rows,
        StructType(
            [
                StructField("_rb_fseg", IntegerType(), False),
                StructField("_rb_blk", IntegerType(), False),
                StructField("_rb_lo", key_type, True),
                StructField("_rb_hi", key_type, True),
            ]
        ),
    )
    ccond = (
        F.col("_rb_clo").isNull() | (key >= F.col("_rb_clo"))
    ) & (F.col("_rb_chi").isNull() | (key < F.col("_rb_chi")))
    # LEFT joins: a NULL key matches no interval and lands in block 0
    # below — rows are never dropped, and NULL keys sort first within
    # block 0, matching the naive window's ASC NULLS FIRST.
    seged = df.join(F.broadcast(coarse), ccond, "left").drop(
        "_rb_clo", "_rb_chi"
    )
    fcond = (
        (F.col("_rb_fseg") == F.col("_rb_seg"))
        & (F.col("_rb_lo").isNull() | (key >= F.col("_rb_lo")))
        & (F.col("_rb_hi").isNull() | (key < F.col("_rb_hi")))
    )
    return (
        seged.join(F.broadcast(fine), fcond, "left")
        .withColumn(
            "_blk", F.coalesce(F.col("_rb_blk").cast("long"), F.lit(0))
        )
        .drop("_rb_seg", "_rb_fseg", "_rb_blk", "_rb_lo", "_rb_hi")
    )


def blocked_rank(df: DataFrame, key_col: str, tiebreak_col: str) -> DataFrame:
    """Append ``_rank``: the global ``row_number() OVER (ORDER BY
    key_col, tiebreak_col)`` computed WITHOUT a data-grain
    single-partition window — range-block the key space
    (RANGE_BLOCKS blocks), row_number within each block in parallel,
    and add per-block offsets from the prefix-sum over the ≤RANGE_BLOCKS
    per-block counts (the only global window, plan-time-bounded).
    For DESC order pass a negated key column. This is the scale-safe
    replacement for ``ntile/row_number OVER (ORDER BY …)`` on
    data-grain frames (VERDICT r5 task 1)."""
    # PERSIST the input (tracked — see caching.release_tracked): the
    # helper evaluates df twice (the boundary-quantile agg, then the
    # blocked main pass), and the blocked frame twice more (per-block
    # counts, final join) — without a cache, CHAINED helper calls
    # (rfm_segments ranks three times) re-evaluate their whole
    # upstream 2^depth times (measured: 603 s at sf0.001 vs 10 s
    # cached). Batch drivers release between queries.
    df = persist_tracked(df)
    blocked = _with_range_block(df, key_col)
    counts = blocked.groupBy("_blk").agg(F.count("*").alias("_cnt"))
    woff = Window.orderBy("_blk").rowsBetween(Window.unboundedPreceding, -1)
    offsets = counts.select(
        "_blk", F.coalesce(F.sum("_cnt").over(woff), F.lit(0)).alias("_off")
    )
    wblk = Window.partitionBy("_blk").orderBy(key_col, tiebreak_col)
    return (
        blocked.join(F.broadcast(offsets), "_blk")
        .withColumn("_rank", F.row_number().over(wblk) + F.col("_off"))
        .drop("_blk", "_off")
    )


def blocked_cumsum(
    df: DataFrame, key_col: str, val_col: str, out_col: str,
    inclusive: bool = True,
) -> DataFrame:
    """Append ``out_col``: the running ``sum(val_col) OVER (ORDER BY
    key_col)`` for frames whose rows are DISTINCT on ``key_col``
    (e.g. a groupBy(key) aggregate), via the same two-level plan as
    :func:`blocked_rank`: per-block partial sums (≤RANGE_BLOCKS rows)
    prefix-summed globally, plus a parallel within-block running sum.
    ``inclusive=False`` gives the ROWS … AND 1 PRECEDING frame."""
    # PERSIST the input (tracked — see caching.release_tracked): the
    # helper evaluates df twice (the boundary-quantile agg, then the
    # blocked main pass), and the blocked frame twice more (per-block
    # counts, final join) — without a cache, CHAINED helper calls
    # (rfm_segments ranks three times) re-evaluate their whole
    # upstream 2^depth times (measured: 603 s at sf0.001 vs 10 s
    # cached). Batch drivers release between queries.
    df = persist_tracked(df)
    blocked = _with_range_block(df, key_col)
    bsums = blocked.groupBy("_blk").agg(F.sum(val_col).alias("_bsum"))
    woff = Window.orderBy("_blk").rowsBetween(Window.unboundedPreceding, -1)
    offsets = bsums.select(
        "_blk", F.coalesce(F.sum("_bsum").over(woff), F.lit(0)).alias("_off")
    )
    hi = 0 if inclusive else -1
    wblk = (
        Window.partitionBy("_blk")
        .orderBy(key_col)
        .rowsBetween(Window.unboundedPreceding, hi)
    )
    local = F.coalesce(F.sum(val_col).over(wblk), F.lit(0))
    return (
        blocked.join(F.broadcast(offsets), "_blk")
        .withColumn(out_col, local + F.col("_off"))
        .drop("_blk", "_off")
    )


def blocked_cummax(
    df: DataFrame, key_col: str, val_col: str, out_col: str,
    inclusive: bool = True,
) -> DataFrame:
    """Append ``out_col``: the running ``max(val_col) OVER (ORDER BY
    key_col)`` for frames DISTINCT on ``key_col`` — the running-max
    sibling of :func:`blocked_cumsum` (max is associative and
    prefix-decomposable exactly like sum): per-block partial maxes
    (≤RANGE_BLOCKS rows) prefix-maxed globally over the tiny block
    frame, plus a parallel within-block running max.
    ``inclusive=False`` gives the strict ROWS … AND 1 PRECEDING frame
    (NULL when nothing precedes — matching the SQL window's NULL)."""
    # PERSIST the input (tracked — see caching.release_tracked): the
    # helper evaluates df twice (the boundary-quantile agg, then the
    # blocked main pass), and the blocked frame twice more (per-block
    # counts, final join) — without a cache, CHAINED helper calls
    # (rfm_segments ranks three times) re-evaluate their whole
    # upstream 2^depth times (measured: 603 s at sf0.001 vs 10 s
    # cached). Batch drivers release between queries.
    df = persist_tracked(df)
    blocked = _with_range_block(df, key_col)
    bmax = blocked.groupBy("_blk").agg(F.max(val_col).alias("_bmx"))
    woff = Window.orderBy("_blk").rowsBetween(Window.unboundedPreceding, -1)
    offsets = bmax.select(
        "_blk", F.max("_bmx").over(woff).alias("_off")
    )
    hi = 0 if inclusive else -1
    wblk = (
        Window.partitionBy("_blk")
        .orderBy(key_col)
        .rowsBetween(Window.unboundedPreceding, hi)
    )
    local = F.max(val_col).over(wblk)
    return (
        blocked.join(F.broadcast(offsets), "_blk")
        .withColumn(out_col, F.greatest(
            F.coalesce(local, F.col("_off")),
            F.coalesce(F.col("_off"), local),
        ))
        .drop("_blk", "_off")
    )


def exact_ntile(rank_expr: str, n_expr: str, k: int) -> "F.Column":
    """SQL-standard ``ntile(k)`` from a precomputed global rank and
    total count (both SQL expression strings over BIGINTs): with
    q = n div k and rem = n mod k, the first ``rem`` buckets get q+1
    rows — DuckDB's and Spark's shared remainder rule, verified by the
    rfm/decile oracles' native ntile. Pure integer arithmetic (div),
    so engine-identical at any n."""
    q = f"(({n_expr}) div {k})"
    rem = f"(({n_expr}) - {q} * {k})"
    cut = f"(({q} + 1) * {rem})"
    return F.expr(
        f"cast(case when ({rank_expr}) <= {cut} "
        f"then (({rank_expr}) - 1) div ({q} + 1) + 1 "
        f"else {rem} + (({rank_expr}) - 1 - {cut}) div {q} + 1 end as int)"
    )
