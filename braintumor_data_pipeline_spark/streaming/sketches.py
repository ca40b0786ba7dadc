"""Streaming sketch builds — bounded-state aggregation over unbounded
input (SURVEY §2.11 composition with operators/sketch.py).

An HLL register build is the ideal streaming aggregate: state is EXACTLY
m integers regardless of stream length or key cardinality (no watermark
needed — the state cannot grow), updates are max() (idempotent and
order-independent, so retries/replays cannot corrupt it), and the batch
and streaming builds share the same stateless (bucket, rho) projection,
so batch ≡ stream is testable row-for-row. Contrast with the windowed
event aggregations (`events.py`), whose state is bounded by watermark,
not by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.sketch import hll_bucket_rho, hll_spine_registers
from ..sources.fixtures import events_stream, load_table
from . import drain_to_memory


def run_streaming_hll_registers(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Build the 64 HLL registers over the events.user_id stream as a
    genuine Structured Streaming job (file source fed one file per
    micro-batch, complete-mode memory sink), then spine-join to the
    full (bucket, register) relation. Tests assert this equals the
    batch build over the same keys."""
    stream = events_stream(spark, sf_dir, checkpoint_dir + "_src")
    keys = stream.select(F.col("user_id").alias("key"))
    agg = hll_bucket_rho(keys).groupBy("bucket").agg(
        F.max("rho").alias("rho")
    )
    return hll_spine_registers(
        drain_to_memory(agg, "hll_stream_registers", checkpoint_dir)
    )


def run_streaming_psi_bins(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Streaming drift monitor: the per-bin PSI report of
    ``psi_value_drift_halves`` computed as a genuine Structured
    Streaming job. The decile edges and the half-split point are fitted
    BATCH-side (reference-window model state — 10 integers, the same
    driver-collect class as the IVF centroids) and inlined as plan
    constants; the stream then runs a stateless quantize→bin projection
    and a (half, bin) counting aggregate whose state is ≤ 20 rows BY
    CONSTRUCTION, like the HLL registers above — no watermark needed.
    Tests pin the result row-for-row against the batch operator."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events")
    mid_us = e.agg(
        (
            F.min(F.unix_micros("ts"))
            + F.floor(
                (F.max(F.unix_micros("ts")) - F.min(F.unix_micros("ts"))) / 2
            ).cast("long")
        ).alias("m")
    ).collect()[0].m
    ref = (
        e.filter(F.unix_micros("ts") < mid_us)
        .select(F.round(F.col("value") * 100).cast("long").alias("c"))
        .groupBy("c")
        .agg(F.count("*").alias("cnt"))
    )
    wc = Window.partitionBy().orderBy("c")
    ranked = ref.select(
        "c",
        F.sum("cnt").over(wc).alias("cum"),
        F.sum("cnt").over(Window.partitionBy()).alias("n"),
    )
    edges_row = ranked.agg(
        *[
            F.min(
                F.when(
                    F.col("cum")
                    >= F.floor((k * F.col("n") + 9) / 10).cast("long"),
                    F.col("c"),
                )
            ).alias(f"e{k}")
            for k in range(1, 10)
        ]
    ).collect()[0]
    edges = [edges_row[f"e{k}"] for k in range(1, 10)]

    stream = events_stream(spark, sf_dir, checkpoint_dir + "_src")
    c = F.round(F.col("value") * 100).cast("long")
    bin_col = F.size(
        F.filter(
            F.array(*[F.lit(int(x)) for x in edges]), lambda x: x < c
        )
    )
    half = F.when(F.unix_micros("ts") < F.lit(mid_us), 0).otherwise(1)
    agg = (
        stream.select(half.alias("half"), bin_col.alias("bin"))
        .groupBy("half", "bin")
        .agg(F.count("*").alias("cnt"))
    )
    sink = drain_to_memory(agg, "psi_stream_bins", checkpoint_dir)
    counts = sink.groupBy("bin").agg(
        F.sum(F.when(F.col("half") == 0, F.col("cnt")).otherwise(0)).alias("c0"),
        F.sum(F.when(F.col("half") == 1, F.col("cnt")).otherwise(0)).alias("c1"),
    )
    tot = counts.agg(F.sum("c0").alias("n0"), F.sum("c1").alias("n1"))
    p0 = F.col("c0").cast("double") / F.col("n0")
    p1 = F.col("c1").cast("double") / F.col("n1")
    return (
        counts.crossJoin(F.broadcast(tot))
        .filter((F.col("c0") > 0) & (F.col("c1") > 0))
        .select(
            F.col("bin").cast("long").alias("bin"),
            F.col("c0").alias("n_ref"),
            F.col("c1").alias("n_cur"),
            F.round((p1 - p0) * F.log(p1 / p0), 6).alias("psi_term"),
        )
        .orderBy("bin")
    )


def run_streaming_countmin(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Build the count-min sketch over the events.user_id stream as a
    genuine Structured Streaming job — the last sketch family without a
    stream flavor (r4). Count-min state is EXACTLY the d·w counter
    grid by construction (like the HLL registers): the streaming
    aggregate is the same (seed, bucket) count, bounded at
    CM_SEEDS·CM_W rows regardless of stream length, and every counter
    is a sum — mergeable across micro-batches with no watermark needed.
    Tests assert this equals the batch countmin_build over the same
    keys."""
    from ..operators.sketch import countmin_build

    stream = events_stream(spark, sf_dir, checkpoint_dir + "_src")
    keys = stream.select(F.col("user_id").alias("key"))
    agg = countmin_build(keys)
    return drain_to_memory(agg, "countmin_stream", checkpoint_dir)


def run_streaming_bloom(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Build the bloom-filter bitmap over the events.user_id stream as
    a genuine Structured Streaming job (r4 — completes the sketch
    family alongside HLL, PSI, and count-min): state is exactly the
    64-word bitmap by construction, each word a mergeable bit_or —
    complete-mode streaming aggregate, no watermark needed. Tests
    assert this equals the batch bloom_bitmap over the same keys."""
    from ..operators.sketch import BF_BITS_PER_WORD, BF_K, BF_M, _h_spark

    stream = events_stream(spark, sf_dir, checkpoint_dir + "_src")
    seeds = F.array(*[F.lit(i) for i in range(BF_K)])
    pos = _h_spark("bf", F.col("seed"), F.col("key")) % BF_M
    agg = (
        stream.select(F.col("user_id").alias("key"))
        .select("key", F.explode(seeds).alias("seed"))
        .select(pos.alias("pos"))
        .select(
            (F.col("pos") / BF_BITS_PER_WORD).cast("long").alias("word"),
            F.expr(
                f"shiftleft(1L, cast(pos % {BF_BITS_PER_WORD} as int))"
            ).alias("bitv"),
        )
        .groupBy("word")
        .agg(F.bit_or("bitv").alias("mask"))
    )
    return drain_to_memory(agg, "bloom_stream", checkpoint_dir)
