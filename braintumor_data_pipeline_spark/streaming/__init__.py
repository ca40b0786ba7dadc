"""Streaming surface over the ``events`` fixture (SURVEY §2.11)."""

from __future__ import annotations

from pyspark.sql import DataFrame


def drain_to_memory(
    df: DataFrame, name: str, checkpoint_dir: str, mode: str = "complete"
) -> DataFrame:
    """Run a streaming frame into the memory sink ``name`` until every
    available input is processed, stop the query, and return the sink
    table. ``mode`` is the output mode the query supports (complete,
    append or update)."""
    q = (
        df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return df.sparkSession.table(name)
