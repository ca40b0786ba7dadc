"""Streaming surface over the ``events`` table (SURVEY §2.11, N*).

The reference has NO stream processing (Pub/Sub is an unimplemented
roadmap item, `/root/reference/README.md:246`); this module defines the
engine's own: tumbling / sliding / session windows, watermarked
dedup-by-key, per-minute rates.

Every windowed aggregation is registered in its BATCH form (Spark's
``window()``/``session_window()`` work identically over bounded input)
with a DuckDB oracle; ``run_streaming_tumbling_counts`` below runs the same
tumbling aggregation as a genuine Structured Streaming job (file source,
watermark, complete-mode memory sink) and tests assert batch≡stream.

Scale notes: event-time windows shuffle on (window, key) — bounded state
via watermark; session windows keep per-key state only until the gap
closes. This is exactly the applyInPandasWithState-free subset that
scales linearly with key cardinality.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import dec_col, split_sum_aggs, split_sum_value
from ..registry import register
from ..sources.fixtures import events_stream, load_table as _t
from . import drain_to_memory

_US_5M = 300_000_000
_US_30M = 1_800_000_000


@register(
    "events_tumbling_5m",
    oracle=f"""
    SELECT (epoch_us(ts) // {_US_5M}) * {_US_5M} AS bucket_us,
           event_type,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
    FROM events
    GROUP BY bucket_us, event_type
    """,
    tags=("streaming", "window", "agg"),
)
def events_tumbling_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 5-minute event-time windows per event_type — Spark's
    ``window()`` in batch mode; window start emitted as epoch micros so
    the oracle compares integers, not timezone-bearing timestamps."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum(dec_col("value")).cast("double").alias("sum_value"))
        .select(
            F.unix_micros(F.col("w.start")).alias("bucket_us"),
            "event_type",
            "n",
            "sum_value",
        )
    )


@register(
    "events_sliding_10m_5m",
    oracle=f"""
    SELECT (epoch_us(ts) // {_US_5M}) * {_US_5M} - d AS window_start_us,
           count(*) AS n,
           CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
    FROM events, (VALUES (0), ({_US_5M})) AS offs(d)
    GROUP BY window_start_us
    """,
    tags=("streaming", "window", "agg"),
)
def events_sliding_10m_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (10 min length, 5 min slide): each event lands in
    exactly two windows; the oracle replays that by unioning two shifted
    tumbling assignments."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count("*").alias("n"), F.sum(dec_col("value")).cast("double").alias("sum_value"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            "n",
            "sum_value",
        )
    )


@register(
    "events_session_30m",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, ts, value,
             CASE WHEN epoch_us(ts)
                       - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id)
                       > {_US_30M}
                  OR lag(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    sess AS (
      SELECT user_id, ts, value,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM seq
    )
    SELECT user_id,
           epoch_us(min(ts)) AS session_start_us,
           count(*) AS n_events,
           (CAST(sum(CAST(floor((value) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE) / 1e6) AS sum_value
    FROM sess
    GROUP BY user_id, sid
    """,
    tags=("streaming", "window", "session", "agg"),
)
def events_session_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows, 30-minute gap, per user — Spark's native
    ``session_window`` (batch mode); the oracle derives identical
    sessions via the gaps-and-islands window idiom. Session identity is
    its start time (min ts), which both formulations agree on."""
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), *split_sum_aggs("value", "val"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            "n_events",
            split_sum_value("val").alias("sum_value"),
        )
    )


@register(
    "events_dedup_keyed",
    oracle="""
    SELECT event_type, count(*) AS n_unique
    FROM (SELECT DISTINCT user_id, event_type,
                 epoch_us(ts) // 60000000 AS minute_bucket
          FROM events)
    GROUP BY event_type
    """,
    tags=("streaming", "dedup", "agg"),
)
def events_dedup_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-dedup analog: collapse duplicate (user, type, minute)
    triples — the ``dropDuplicates``-with-watermark pattern, batch form."""
    e = _t(spark, sf_dir, "events")
    return (
        e.select(
            "user_id",
            "event_type",
            (F.unix_micros("ts") / 60_000_000).cast("bigint").alias("minute_bucket"),
        )
        .dropDuplicates(["user_id", "event_type", "minute_bucket"])
        .groupBy("event_type")
        .agg(F.count("*").alias("n_unique"))
    )


@register(
    "events_rate_per_minute",
    oracle="""
    SELECT epoch_us(ts) // 60000000 * 60000000 AS minute_us,
           count(*) AS n,
           count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY minute_us
    """,
    tags=("streaming", "agg"),
)
def events_rate_per_minute(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return (
        e.groupBy(
            (F.unix_micros("ts") / 60_000_000)
            .cast("bigint")
            .alias("_m")
        )
        .agg(F.count("*").alias("n"), F.count_distinct("user_id").alias("n_users"))
        .select((F.col("_m") * 60_000_000).alias("minute_us"), "n", "n_users")
    )


@register(
    "events_asof_last_view",
    oracle="""
    SELECT event_id, user_id,
           epoch_us(ts) AS purchase_us,
           epoch_us(last_view_ts) AS last_view_us
    FROM (
      SELECT event_id, user_id, ts, event_type,
             max(CASE WHEN event_type = 'view' THEN ts END) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS last_view_ts
      FROM events
    )
    WHERE event_type = 'purchase'
    """,
    tags=("streaming", "asof", "window"),
)
def events_asof_last_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (SURVEY J6): for each purchase, the most recent prior
    'view' by the same user — the point-in-time alignment pattern,
    expressed as a running max over the merged stream (one shuffle on
    user_id; no range-join explosion)."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_view = F.max(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    return (
        e.withColumn("last_view_ts", last_view)
        .filter(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.unix_micros("ts").alias("purchase_us"),
            F.unix_micros("last_view_ts").alias("last_view_us"),
        )
    )


# ---------------------------------------------------------------------------
# Genuine Structured Streaming runner (exercised by tests, not the driver)
# ---------------------------------------------------------------------------


def run_streaming_tumbling_counts(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Run the tumbling-window aggregation as a real Structured Streaming
    job over the events parquet (file source, 10-minute watermark,
    complete-mode memory sink); returns the final result as a DataFrame.

    Tests assert this equals ``events_tumbling_5m`` (batch ≡ stream).
    """
    stream = events_stream(spark, sf_dir, checkpoint_dir + "_src")
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.sum(dec_col("value")).cast("double").alias("sum_value"))
        .select(
            F.unix_micros(F.col("w.start")).alias("bucket_us"),
            "event_type",
            "n",
            "sum_value",
        )
    )
    return drain_to_memory(agg, "tumbling_counts", checkpoint_dir)


def run_streaming_session_windows(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Run the 30-minute-gap session aggregation as a REAL Structured
    Streaming job (VERDICT r3 task 8 — the one streaming family whose
    genuine-stream flavor was missing): file source staged as THREE
    time-ranged files delivered one micro-batch at a time
    (``maxFilesPerTrigger=1``), so sessions that straddle a batch
    boundary must be MERGED by the stateful session-window operator —
    the behavior batch mode never exercises. Watermark bounds state
    exactly as a production run would (session state is evictable once
    the watermark passes a session's close); the complete-mode memory
    sink surfaces the final merged sessions for the batch≡stream parity
    test.

    Tests assert this equals ``events_session_30m`` (batch ≡ stream).
    """
    src = _t(spark, sf_dir, "events")
    stage_dir = checkpoint_dir + "_src"
    # three chronological slices, one file each, named in replay order —
    # cross-slice sessions force state merges between micro-batches
    bounds = ("2024-01-11", "2024-01-21")
    slices = (
        src.filter(F.col("ts") < bounds[0]),
        src.filter((F.col("ts") >= bounds[0]) & (F.col("ts") < bounds[1])),
        src.filter(F.col("ts") >= bounds[1]),
    )
    for i, sl in enumerate(slices):
        sl.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(stage_dir, f"slice={i}")
        )
    schema = spark.read.parquet(os.path.join(stage_dir, "slice=0")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .parquet(stage_dir)
    )
    agg = (
        stream.withWatermark("ts", "10 minutes")
        .groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(dec_col("value")).cast("double").alias("sum_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            "n_events",
            "sum_value",
        )
    )
    return drain_to_memory(agg, "session_windows", checkpoint_dir)


@register(
    "events_view_purchase_within_30m",
    oracle="""
    SELECT v.user_id,
           epoch_us(v.ts) AS view_us,
           epoch_us(p.ts) AS purchase_us,
           round(p.value, 6) AS purchase_value
    FROM events v
    JOIN events p
      ON p.user_id = v.user_id
     AND p.ts > v.ts
     AND p.ts <= v.ts + INTERVAL 30 MINUTE
    WHERE v.event_type = 'view' AND p.event_type = 'purchase'
    """,
    tags=("streaming", "join", "interval"),
)
def events_view_purchase_within_30m(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: purchases within 30 minutes after a view by the
    same user — the batch equivalent of a watermarked stream-stream
    join (run_stream_stream_join runs the genuine streaming version;
    tests assert they match). Equi-key on user_id bounds the shuffle;
    the time band bounds the per-key state."""
    e = _t(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("v_ts")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    return (
        v.join(
            p,
            (F.col("user_id") == F.col("p_user"))
            & (F.col("p_ts") > F.col("v_ts"))
            & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
        )
        .select(
            "user_id",
            F.unix_micros("v_ts").alias("view_us"),
            F.unix_micros("p_ts").alias("purchase_us"),
            F.round("p_value", 6).alias("purchase_value"),
        )
    )


def run_stream_stream_join(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Genuine watermarked stream-stream join: the views stream joins the
    purchases stream on user within (0, 30 min]. Both sides carry
    watermarks and the join's time band lets Spark expire state — the
    production pattern for event-correlation pipelines. Returns the
    joined rows after processing all available input."""
    stream = events_stream(spark, sf_dir, checkpoint_dir + "_src")
    v = (
        stream.filter(F.col("event_type") == "view")
        .select("user_id", F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", "1 hour")
    )
    p = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("value").alias("p_value"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = v.join(
        p,
        (F.col("user_id") == F.col("p_user"))
        & (F.col("p_ts") > F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
    ).select(
        "user_id",
        F.unix_micros("v_ts").alias("view_us"),
        F.unix_micros("p_ts").alias("purchase_us"),
        F.round("p_value", 6).alias("purchase_value"),
    )
    return drain_to_memory(joined, "ss_join", checkpoint_dir, mode="append")


def run_streaming_dedup_counts(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Genuine streaming duplicate removal: ``dropDuplicatesWithinWatermark``
    on (user_id, event_type, minute_bucket), then per-type unique counts —
    the streaming form of the batch ``events_dedup_keyed`` query (tests
    assert batch ≡ stream).

    ``dropDuplicatesWithinWatermark`` (not plain ``dropDuplicates``) is the
    scale-correct operator: dedup state for a key is dropped once the
    watermark passes its event time + delay, so state is bounded by the
    duplicate-arrival window instead of growing with all history — at
    100 TB/day of events, unbounded dedup state is the difference between
    a running job and an OOM'd one.
    """
    stream = events_stream(spark, sf_dir, checkpoint_dir + "_src")
    deduped = (
        stream.withWatermark("ts", "10 minutes")
        .select(
            "ts",
            "user_id",
            "event_type",
            (F.unix_micros("ts") / 60_000_000)
            .cast("bigint")
            .alias("minute_bucket"),
        )
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "minute_bucket"])
    )
    counts = deduped.groupBy("event_type").agg(F.count("*").alias("n_unique"))
    return drain_to_memory(counts, "dedup_counts", checkpoint_dir)


def run_stream_static_join(
    spark: SparkSession, sf_dir: str, checkpoint_dir: str
) -> DataFrame:
    """Stream-static enrichment: the event stream joined to the static
    customer dimension (user_id → c_custkey), aggregated per segment.
    The static side is re-read per micro-batch and broadcast — no state
    store involvement at all, which is why stream-static is the FIRST
    tool for dimension enrichment before reaching for stream-stream
    state. Tests assert ≡ the batch join."""
    stream = events_stream(spark, sf_dir, checkpoint_dir + "_src")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    joined = (
        stream.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(cust), stream.user_id == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("n"),
            F.sum(dec_col("value")).cast("double").alias("sum_value"),
        )
    )
    return drain_to_memory(joined, "stream_static_seg", checkpoint_dir)


@register(
    "events_tumbling_distinct_users",
    oracle=f"""
    SELECT bucket_us,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(n_ev) AS BIGINT) AS n_events
    FROM (
      SELECT (epoch_us(ts) // {_US_5M}) * {_US_5M} AS bucket_us,
             user_id, count(*) AS n_ev
      FROM events
      GROUP BY bucket_us, user_id
    )
    GROUP BY bucket_us
    """,
    tags=("streaming", "window", "agg", "distinct"),
)
def events_tumbling_distinct_users(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Exact distinct users per 5-minute window, written as the
    TWO-LEVEL aggregate ((window, user) → window) rather than
    countDistinct: level 1 partial-aggregates map-side so the shuffle
    carries one row per (window, user) — the expanded-row state
    countDistinct would buffer inside a single aggregation — and level
    2 is a plain count. This is the 100 TB distinct shape (and the one
    that streams: level 1 under a watermark, level 2 per emitted
    window; single-shot countDistinct is unsupported in streaming).
    Per-user event counts ride along for free."""
    e = _t(spark, sf_dir, "events")
    per_user = (
        e.groupBy(
            F.window("ts", "5 minutes").alias("w"), "user_id"
        )
        .agg(F.count("*").alias("n_ev"))
        .select(
            F.unix_micros(F.col("w.start")).alias("bucket_us"), "n_ev"
        )
    )
    return per_user.groupBy("bucket_us").agg(
        F.count("*").alias("n_users"),
        F.sum("n_ev").alias("n_events"),
    )


@register(
    "watermark_sizing_report",
    oracle="""
    WITH arr AS (
      -- arrival order proxy: event_id (monotone ingest id); disorder =
      -- how far behind the per-user running max event-time each
      -- arrival is
      SELECT event_type,
             greatest(coalesce(max(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               - epoch_us(ts), 0) AS disorder_us
      FROM events
    ),
    ranked AS (
      SELECT event_type, disorder_us,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY disorder_us) AS rn,
             count(*) OVER (PARTITION BY event_type) AS n
      FROM arr
    )
    SELECT event_type,
           CAST(max(n) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN disorder_us > 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_disordered,
           CAST(max(CASE WHEN rn = (95 * n + 99) // 100
                         THEN disorder_us END) // 1000000 AS BIGINT)
             AS p95_disorder_s,
           CAST(max(disorder_us) // 1000000 AS BIGINT) AS max_disorder_s
    FROM ranked
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("streaming", "ops", "watermark", "window", "agg"),
)
def watermark_sizing_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark sizing from measured out-of-orderness — the number
    every ``withWatermark`` call in this module should be derived
    from, not guessed: per event type, how many events arrive (by
    ingest order, proxied by event_id) BEHIND the per-user running
    maximum event time, and the p95/max lateness in seconds. A
    watermark at p95 drops ≤5% of late events; the gap between p95
    and max is the tail you trade state size against. Disorder is
    integer microseconds from a user-partitioned running-max window;
    the p95 is the discrete rank-⌈0.95n⌉ order statistic via a
    type-partitioned rank window (every window partitioned — nothing
    global)."""
    from pyspark.sql import Window as W

    e = _t(spark, sf_dir, "events")
    w_run = (
        W.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    arr = e.select(
        "event_type",
        F.greatest(
            F.coalesce(
                F.max(F.unix_micros("ts")).over(w_run), F.lit(0)
            )
            - F.unix_micros("ts"),
            F.lit(0),
        ).alias("disorder_us"),
    )
    w_rank = W.partitionBy("event_type").orderBy("disorder_us")
    w_n = W.partitionBy("event_type")
    ranked = arr.select(
        "event_type",
        "disorder_us",
        F.row_number().over(w_rank).alias("rn"),
        F.count("*").over(w_n).alias("n"),
    )
    return (
        ranked.groupBy("event_type")
        .agg(
            F.max("n").alias("n_events"),
            F.sum(
                F.when(F.col("disorder_us") > 0, 1).otherwise(0)
            ).alias("n_disordered"),
            F.expr(
                "max(CASE WHEN rn = (95 * n + 99) div 100"
                " THEN disorder_us END) div 1000000"
            )
            .cast("long")
            .alias("p95_disorder_s"),
            F.expr("max(disorder_us) div 1000000")
            .cast("long")
            .alias("max_disorder_s"),
        )
        .orderBy("event_type")
    )


@register(
    "events_session_capped",
    oracle=f"""
    WITH seq AS (
      SELECT user_id, event_id, ts, value,
             CASE WHEN epoch_us(ts)
                       - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                 ORDER BY ts, event_id)
                       > {_US_30M}
                  OR lag(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS is_new
      FROM events
    ),
    sess AS (
      SELECT user_id, ts, value,
             sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM seq
    ),
    capped AS (
      SELECT user_id, ts, value, sid,
             (epoch_us(ts)
              - min(epoch_us(ts)) OVER (PARTITION BY user_id, sid))
             // {2 * 3_600_000_000} AS chunk_idx
      FROM sess
    )
    SELECT user_id,
           chunk_idx,
           epoch_us(min(ts)) AS session_start_us,
           epoch_us(max(ts)) - epoch_us(min(ts)) AS duration_us,
           count(*) AS n_events,
           (CAST(sum(CAST(floor((value) * 1e6 + 0.5) AS BIGINT)) AS DOUBLE)
            / 1e6) AS sum_value
    FROM capped
    GROUP BY user_id, sid, chunk_idx
    """,
    tags=("streaming", "window", "session", "agg"),
)
def events_session_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization with a MAX-DURATION CAP: 30-minute inactivity gap
    defines raw sessions (gaps-and-islands), then each raw session is
    sub-split into 2-hour chunks measured from its start — the
    "session cap" semantics product-analytics stores apply so one
    pathological always-on client can't produce an unbounded session
    (and, in streaming terms, so session state is guaranteed to evict).
    ``chunk_idx > 0`` rows are exactly the splits the cap introduced
    over plain ``events_session_30m``.

    Scale shape: three window passes all partitioned BY USER (uniform
    key, one shuffle reused across all three via the same partitioning)
    then one hash aggregate on (user, sid, chunk) — no global window,
    no join. Money sums use the split-sum LONG path (order-independent
    exact)."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "events")
    w_seq = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros("ts")
    is_new = (
        F.when(
            (us - F.lag(us).over(w_seq) > F.lit(_US_30M))
            | F.lag("ts").over(w_seq).isNull(),
            F.lit(1),
        )
        .otherwise(F.lit(0))
    )
    sess = e.select(
        "user_id",
        "ts",
        "value",
        F.sum(is_new)
        .over(w_seq.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("sid"),
    )
    chunk = F.floor(
        (us - F.min(us).over(Window.partitionBy("user_id", "sid")))
        / F.lit(2 * 3_600_000_000)
    )
    capped = sess.select(
        "user_id", "ts", "value", "sid", chunk.alias("chunk_idx")
    )
    return (
        capped.groupBy("user_id", "sid", "chunk_idx")
        .agg(
            F.min("ts").alias("_t0"),
            F.max("ts").alias("_t1"),
            F.count("*").alias("n_events"),
            *split_sum_aggs("value", "val"),
        )
        .select(
            "user_id",
            "chunk_idx",
            F.unix_micros("_t0").alias("session_start_us"),
            (F.unix_micros("_t1") - F.unix_micros("_t0")).alias("duration_us"),
            "n_events",
            split_sum_value("val").alias("sum_value"),
        )
    )
