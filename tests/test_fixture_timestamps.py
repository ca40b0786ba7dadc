"""Timestamp normalization of the fixture loaders: the legacy
TIMESTAMP(NANOS) events encoding and the current naive-micros
(TIMESTAMP_NTZ) one both reach queries as TIMESTAMP (UTC instants),
through ``load_table`` and through the ``events_stream`` file source."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from braintumor_data_pipeline_spark.sources.fixtures import events_stream, load_table
from braintumor_data_pipeline_spark.streaming import drain_to_memory

NANOS = [1704067200123456789, 1704153600000000999, 1704240000999999000]


def _micros(df):
    rows = df.select("event_id", F.unix_micros("ts").alias("us")).collect()
    return sorted((r.event_id, r.us) for r in rows)


def _streamed(spark, sf_dir, tmp_path, name):
    stream = events_stream(spark, sf_dir, str(tmp_path / f"{name}_src"))
    return drain_to_memory(
        stream.select("event_id", "ts"), name, str(tmp_path / name), mode="append"
    )


def test_legacy_nanos_events_truncate_to_micros(spark, tmp_path):
    sf_dir = tmp_path / "sf_nanos"
    sf_dir.mkdir()
    n = len(NANOS)
    table = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(NANOS, pa.timestamp("ns")),
            "user_id": pa.array([1] * n, pa.int64()),
            "event_type": pa.array(["view"] * n),
            "value": pa.array([1.5] * n),
            "props": pa.array(["{}"] * n),
        }
    )
    pq.write_table(table, str(sf_dir / "events.parquet"), version="2.6")
    want = [(i, ns // 1000) for i, ns in enumerate(NANOS)]

    batch = load_table(spark, str(sf_dir), "events")
    assert dict(batch.dtypes)["ts"] == "timestamp"
    assert _micros(batch) == want

    streamed = _streamed(spark, str(sf_dir), tmp_path, "nanos_events_stream")
    assert dict(streamed.dtypes)["ts"] == "timestamp"
    assert _micros(streamed) == want


def test_ntz_fixture_timestamps_become_instants(spark, sf_dir, tmp_path):
    raw = pq.read_table(f"{sf_dir}/events.parquet", columns=["event_id", "ts"])
    assert raw.schema.field("ts").type == pa.timestamp("us")
    want = sorted(
        zip(raw["event_id"].to_pylist(), raw["ts"].cast(pa.int64()).to_pylist())
    )

    batch = load_table(spark, sf_dir, "events")
    assert dict(batch.dtypes)["ts"] == "timestamp"
    assert _micros(batch) == want

    streamed = _streamed(spark, sf_dir, tmp_path, "ntz_events_stream")
    assert dict(streamed.dtypes)["ts"] == "timestamp"
    assert _micros(streamed) == want

    for name, col in (("orders", "o_orderdate"), ("lineitem", "l_shipdate")):
        assert dict(load_table(spark, sf_dir, name).dtypes)[col] == "timestamp"
