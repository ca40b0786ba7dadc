"""Checkpoint recovery + idempotent sinks — the operational half of the
streaming surface (SURVEY §2.11 N*).

``run_recoverable_totals`` runs per-event_type totals as a Structured
Streaming job whose sink is a ``foreachBatch`` full overwrite of a
parquet result table: complete-mode state lives in the checkpoint, and
overwriting per batch makes the sink idempotent — replaying a batch
after a crash rewrites the same rows instead of double-appending. Call
it again with the same checkpoint after new files arrive and the
restarted query resumes from the offset log: only unseen files are
read (the test asserts input-row counts per phase), totals continue
from restored state.

At scale this is exactly the production recipe: offsets + state in the
checkpoint (DFS), RocksDB state store via config for big key spaces,
and an idempotent (overwrite / MERGE) sink so restarts are exactly-once
end-to-end.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.money import dec_col
from ..sources.fixtures import load_table


def stage_events_split(
    spark: SparkSession, sf_dir: str, stage_dir: str, n_files: int = 3
) -> list[str]:
    """Split the events fixture into n parquet files so tests can feed
    the file source incrementally. Deterministic split on event_id."""
    os.makedirs(stage_dir, exist_ok=True)
    ev = load_table(spark, sf_dir, "events")
    paths = []
    for i in range(n_files):
        part = ev.filter(F.col("event_id") % n_files == i)
        tmp = os.path.join(stage_dir, f"_tmp_{i}")
        part.coalesce(1).write.mode("overwrite").parquet(tmp)
        src = next(
            f for f in os.listdir(tmp) if f.endswith(".parquet")
        )
        dst = os.path.join(stage_dir, f"events_{i}.parquet")
        shutil.move(os.path.join(tmp, src), dst)
        shutil.rmtree(tmp)
        paths.append(dst)
    return paths


def run_recoverable_totals(
    spark: SparkSession, src_dir: str, checkpoint_dir: str, out_dir: str
) -> int:
    """Process all currently-available files, then stop. Returns the
    number of input rows THIS run read (0 on a no-new-data restart).
    The result table at ``out_dir`` always holds the current totals."""
    raw_schema = spark.read.parquet(src_dir).schema
    stream = (
        spark.readStream.schema(raw_schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
        .select("event_type", "value")
    )
    totals = stream.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.sum(dec_col("value")).cast("double").alias("sum_value"),
    )

    def _overwrite(batch_df: DataFrame, batch_id: int) -> None:
        # complete-mode snapshot → full overwrite = idempotent under
        # batch replay (a re-run of batch N writes identical content)
        batch_df.write.mode("overwrite").parquet(out_dir)

    q = (
        totals.writeStream.outputMode("complete")
        .foreachBatch(_overwrite)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    q.processAllAvailable()
    rows_read = sum(
        int(p["numInputRows"]) for p in q.recentProgress
    )
    q.stop()
    q.awaitTermination()
    return rows_read


def read_totals(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(out_dir)
