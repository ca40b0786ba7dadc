"""The fixture schema memo in sources.fixtures: a repeated read runs no
schema-inference job, reads the same types as plain inference, and a
rewritten file is inferred afresh."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from braintumor_data_pipeline_spark.sources.fixtures import (
    TABLES,
    ensure_nanos_readable,
    events_stream,
    load_table,
    normalize_timestamps,
)

SF_DIRS = ("/root/testdata/sf0.001", "/root/testdata/sf0.01")


def _jobs(spark, group: str, fn) -> int:
    """Number of Spark jobs ``fn()`` runs under job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture()
def orders_copy(sf_dir, tmp_path):
    shutil.copy(os.path.join(sf_dir, "orders.parquet"), tmp_path)
    return str(tmp_path)


def test_second_load_runs_no_job(spark, orders_copy):
    first = _jobs(spark, "schema_memo_first", lambda: load_table(spark, orders_copy, "orders"))
    again = _jobs(spark, "schema_memo_again", lambda: load_table(spark, orders_copy, "orders"))
    assert first >= 1  # the counter sees the inference job
    assert again == 0


def test_events_stream_reuses_the_source_schema(spark, sf_dir, tmp_path):
    shutil.copy(os.path.join(sf_dir, "events.parquet"), tmp_path)
    src = str(tmp_path)
    batch = load_table(spark, src, "events")
    n = _jobs(
        spark,
        "schema_memo_stream",
        lambda: events_stream(spark, src, str(tmp_path / "stage")),
    )
    assert n == 0
    assert events_stream(spark, src, str(tmp_path / "stage2")).dtypes == batch.dtypes


@pytest.mark.parametrize("sf", SF_DIRS)
def test_memo_dtypes_equal_plain_inference(spark, sf):
    ensure_nanos_readable(spark)
    for name in TABLES:
        plain = normalize_timestamps(spark.read.parquet(f"{sf}/{name}.parquet"))
        load_table(spark, sf, name)
        assert load_table(spark, sf, name).dtypes == plain.dtypes, name


def _write_region(path, extra: bool) -> None:
    cols = {"r_regionkey": pa.array([0, 1], pa.int64()), "r_name": pa.array(["A", "B"])}
    if extra:
        cols["r_added"] = pa.array([1.5, 2.5])
    pq.write_table(pa.table(cols), path)


def test_rewritten_file_is_inferred_afresh(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    _write_region(path, extra=False)
    assert load_table(spark, str(tmp_path), "region").columns == ["r_regionkey", "r_name"]
    _write_region(path, extra=True)
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name", "r_added"]
    assert sorted(df.collect()) == [(0, "A", 1.5), (1, "B", 2.5)]


def test_changed_mtime_same_size_is_inferred_afresh(spark, orders_copy):
    path = os.path.join(orders_copy, "orders.parquet")
    load_table(spark, orders_copy, "orders")
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    n = _jobs(spark, "schema_memo_touched", lambda: load_table(spark, orders_copy, "orders"))
    assert n >= 1


def test_directory_is_not_memoized(spark, orders_copy):
    """A directory's schema depends on every part file, so it is
    inferred on each read."""
    load_table(spark, orders_copy, "orders").write.parquet(
        os.path.join(orders_copy, "dir", "orders.parquet")
    )
    sf = os.path.join(orders_copy, "dir")
    load_table(spark, sf, "orders")
    assert _jobs(spark, "schema_memo_dir", lambda: load_table(spark, sf, "orders")) >= 1
