"""End-to-end ETL pipeline test (SURVEY §3.1, FIXTURES.md B1)."""

from __future__ import annotations

import os
import shutil

import numpy as np
import pytest

from braintumor_data_pipeline_spark.functions.imaging import (
    apply_windowing_pipeline,
    clahe,
    gaussian_blur,
)
from braintumor_data_pipeline_spark.plans.etl import (
    STATS_SCHEMA,
    process_dicom_files,
    process_dicom_stream,
    run_etl,
)
from braintumor_data_pipeline_spark.sources.dicom import dcmread, dcmwrite
from braintumor_data_pipeline_spark.sources.png import decode_png


@pytest.fixture(scope="module")
def dicom_dir(tmp_path_factory):
    """~12 synthetic DICOMs: Gaussian 'tumor' blob + noise; some with
    windowing headers (incl. MultiValue), some without; one empty
    PatientID (FIXTURES.md B1)."""
    d = tmp_path_factory.mktemp("dicoms")
    rng = np.random.RandomState(42)
    yy, xx = np.mgrid[0:64, 0:64]
    for i in range(12):
        cy, cx = rng.randint(16, 48, size=2)
        blob = 2000 * np.exp(-((yy - cy) ** 2 + (xx - cx) ** 2) / 60.0)
        px = (blob + rng.normal(0, 50, size=(64, 64)) + 100).astype(np.int16)
        kwargs = {}
        if i % 3 == 0:
            kwargs = {"window_center": 1000.0, "window_width": 2000.0}
        elif i % 3 == 1:
            kwargs = {
                "window_center": [900.0, 500.0],
                "window_width": [1800.0, 300.0],
            }
        blob_bytes = dcmwrite(
            px,
            patient_id="" if i == 5 else f"PAT{i:03d}",
            study_uid=f"1.2.{i // 4}",
            series_uid=f"1.2.{i // 4}.{i}",
            sop_uid=f"1.2.{i // 4}.{i}.0",
            modality="MR",
            **kwargs,
        )
        (d / f"img_{i:03d}.dcm").write_bytes(blob_bytes)
    (d / "not_an_image.txt").write_text("ignored by glob")
    return str(d)


def test_pipeline_stats_frame(spark, dicom_dir):
    df = process_dicom_files(spark, dicom_dir, "processed")
    rows = {r.file_name: r for r in df.collect()}
    assert len(rows) == 12  # .txt filtered by glob (F1)
    r0 = rows["img_000.dcm"]
    assert r0.rows == 64 and r0.cols == 64
    assert r0.gcs_uri_processed == "processed/img_000.png"
    assert r0.window_center == 1000.0 and r0.window_width == 2000.0
    # MultiValue header → first element (P6)
    r1 = rows["img_001.dcm"]
    assert r1.window_center == 900.0 and r1.window_width == 1800.0
    # no header → min-max fallback → NULL wc/ww
    r2 = rows["img_002.dcm"]
    assert r2.window_center is None and r2.window_width is None
    # empty PatientID → NULL hash (P3)
    assert rows["img_005.dcm"].patient_id_hash is None
    h = rows["img_000.dcm"].patient_id_hash
    assert h is not None and len(h) == 16
    # population std over uint8 pixels is bounded
    for r in rows.values():
        assert 0.0 <= r.mean_intensity <= 255.0
        assert 0.0 <= r.std_intensity <= 128.0
    assert df.schema == STATS_SCHEMA


def test_stats_match_direct_recomputation(spark, dicom_dir):
    """mean/std are np.mean / population np.std over the PROCESSED uint8
    image (first window value → window → CLAHE → blur), recomputed here
    without the ETL (dataflow_pipeline.py:75-88)."""
    rows = {r.file_name: r for r in process_dicom_files(spark, dicom_dir).collect()}
    # img_001: MultiValue window header; img_002: no header (min-max)
    for name in ("img_001.dcm", "img_002.dcm"):
        with open(os.path.join(dicom_dir, name), "rb") as f:
            ds = dcmread(f.read())
        wc = ds.window_center[0] if ds.window_center else None
        ww = ds.window_width[0] if ds.window_width else None
        img, _, _ = apply_windowing_pipeline(ds.pixel_array, wc, ww)
        img = gaussian_blur(clahe(img, clip_limit=2.0, tile_grid=(8, 8)), 0.5)
        assert rows[name].mean_intensity == pytest.approx(np.mean(img))
        assert rows[name].std_intensity == pytest.approx(np.std(img))


def _without_processed_at(df):
    return sorted(df.drop("processed_at").collect())


def test_dicom_stream_matches_batch_and_restarts(spark, dicom_dir, tmp_path):
    """Two landings into one running stream give 3 rows, then 5, equal
    to the batch frame over the same directory; a restart from the same
    checkpoint reads only the files that landed since."""
    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "notes.txt").write_text("not a dicom")

    def land(*idx):
        for i in idx:
            shutil.copy(os.path.join(dicom_dir, f"img_{i:03d}.dcm"), landing)

    land(0, 1, 2)
    q = (
        process_dicom_stream(spark, str(landing))
        .writeStream.format("memory")
        .queryName("dicom_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt_memory"))
        .start()
    )
    try:
        q.processAllAvailable()
        assert spark.table("dicom_stream").count() == 3
        land(3, 4)
        q.processAllAvailable()
        got = spark.table("dicom_stream")
        assert got.count() == 5
        assert _without_processed_at(got) == _without_processed_at(
            process_dicom_files(spark, str(landing))
        )
    finally:
        q.stop()

    # a memory sink cannot restart from a checkpoint; a parquet sink can
    out, ckpt = str(tmp_path / "stats"), str(tmp_path / "ckpt_parquet")

    def run_once():
        (
            process_dicom_stream(spark, str(landing))
            .drop("png")
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
            .awaitTermination()
        )
        return sorted(r.file_name for r in spark.read.parquet(out).collect())

    assert run_once() == [f"img_{i:03d}.dcm" for i in range(5)]
    land(5, 6)
    assert run_once() == [f"img_{i:03d}.dcm" for i in range(7)]


def test_run_etl_sinks(spark, dicom_dir, tmp_path):
    processed = str(tmp_path / "processed")
    stats = str(tmp_path / "stats")
    n = run_etl(spark, dicom_dir, processed, stats)
    assert n == 12
    pngs = sorted(os.listdir(processed))
    assert len(pngs) == 12 and pngs[0] == "img_000.png"
    img = decode_png((tmp_path / "processed" / "img_000.png").read_bytes())
    assert img.shape == (64, 64) and img.dtype == np.uint8
    # append semantics (S10 WRITE_APPEND): each run writes its own 12
    # rows and reports only them; the table accumulates
    n2 = run_etl(spark, dicom_dir, processed, stats)
    assert n2 == 12
    assert spark.read.parquet(stats).count() == 24
    # flagship A13 over the stats table (README.md:167-172 shape)
    stats_df = spark.read.parquet(stats)
    agg = (
        stats_df.groupBy("study_uid")
        .avg("mean_intensity")
        .orderBy("avg(mean_intensity)", ascending=False)
        .limit(50)
    )
    assert agg.count() == 3
