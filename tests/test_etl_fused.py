"""`run_etl` as one Spark job: the job count, empty and unreadable
inputs, atomic PNG publication, and each written PNG against its stats
row."""

from __future__ import annotations

import math
import os
import threading

import numpy as np
import pytest

from braintumor_data_pipeline_spark.plans import etl
from braintumor_data_pipeline_spark.plans.etl import run_etl
from braintumor_data_pipeline_spark.sources.dicom import dcmwrite
from braintumor_data_pipeline_spark.sources.png import decode_png, encode_png

N_IMAGES = 6
SHAPE = (40, 56)  # not square, so a rows/cols swap shows


def _write_dicoms(d, n: int) -> None:
    rng = np.random.RandomState(7)
    for i in range(n):
        px = (rng.normal(800, 300, size=SHAPE) + 200 * i).astype(np.int16)
        kwargs = {"window_center": 900.0, "window_width": 1600.0} if i % 2 else {}
        (d / f"img_{i:03d}.dcm").write_bytes(
            dcmwrite(px, patient_id=f"P{i}", study_uid=f"1.{i % 2}", **kwargs)
        )


@pytest.fixture(scope="module")
def dicom_dir(tmp_path_factory):
    """Six readable DICOMs plus one unreadable `*.dcm`."""
    d = tmp_path_factory.mktemp("fused_dicoms")
    _write_dicoms(d, N_IMAGES)
    (d / "broken.dcm").write_bytes(b"DICM but not really")
    return str(d)


def _wait_listeners(sc) -> None:
    # the status tracker is fed by the async listener bus; drain it so
    # every job of the call is visible before counting
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def _run_with_timeout(fn, seconds: float = 180.0):
    """Run `fn` on a daemon thread so a hung `Observation.get` fails the
    test instead of stalling the suite."""
    out = {}

    def target():
        try:
            out["value"] = fn()
        except BaseException as exc:  # re-raised on the test thread
            out["error"] = exc

    t = threading.Thread(target=target, daemon=True)
    t.start()
    t.join(seconds)
    assert not t.is_alive(), f"run_etl did not return within {seconds} s"
    if "error" in out:
        raise out["error"]
    return out["value"]


def _expected_pngs() -> list[str]:
    return [f"img_{i:03d}.png" for i in range(N_IMAGES)]


def test_run_etl_is_one_job(spark, dicom_dir, tmp_path):
    sc = spark.sparkContext
    group = "test_run_etl_is_one_job"
    sc.setJobGroup(group, group)
    try:
        n = run_etl(spark, dicom_dir, str(tmp_path / "png"), str(tmp_path / "stats"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    _wait_listeners(sc)
    assert n == N_IMAGES
    assert len(sc.statusTracker().getJobIdsForGroup(group)) == 1


@pytest.mark.parametrize("contents", ["unreadable_only", "no_dcm"])
def test_run_etl_edge_inputs_write_nothing(spark, tmp_path, contents):
    src = tmp_path / "in"
    src.mkdir()
    (src / "notes.txt").write_text("not an image")
    if contents == "unreadable_only":
        (src / "img_000.dcm").write_bytes(b"\x00" * 64)
    processed = tmp_path / "png"
    n = _run_with_timeout(
        lambda: run_etl(spark, str(src), str(processed), str(tmp_path / "stats"))
    )
    assert n == 0
    assert not processed.exists() or os.listdir(processed) == []


def test_run_etl_replaces_stale_png(spark, dicom_dir, tmp_path):
    processed = tmp_path / "png"
    processed.mkdir()
    whole = encode_png(np.zeros(SHAPE, dtype=np.uint8))
    (processed / "img_000.png").write_bytes(whole[: len(whole) // 2])
    with pytest.raises(Exception):
        decode_png((processed / "img_000.png").read_bytes())
    assert run_etl(spark, dicom_dir, str(processed), str(tmp_path / "stats")) == N_IMAGES
    assert sorted(os.listdir(processed)) == _expected_pngs()  # no temp files left
    assert decode_png((processed / "img_000.png").read_bytes()).shape == SHAPE


def test_each_png_matches_its_stats_row(spark, dicom_dir, tmp_path):
    processed = tmp_path / "png"
    stats = str(tmp_path / "stats")
    assert run_etl(spark, dicom_dir, str(processed), stats) == N_IMAGES
    rows = spark.read.parquet(stats).collect()
    assert "png" not in spark.read.parquet(stats).columns
    assert sorted(r.gcs_uri_processed for r in rows) == sorted(
        f"{processed}/{name}" for name in _expected_pngs()
    )
    for r in rows:
        with open(r.gcs_uri_processed, "rb") as fh:
            img = decode_png(fh.read())
        assert img.shape == (r.rows, r.cols) == SHAPE, r.file_name
        assert math.isclose(float(img.mean()), r.mean_intensity, rel_tol=1e-9), r.file_name
        assert math.isclose(float(img.std()), r.std_intensity, rel_tol=1e-9), r.file_name


def test_publish_png_keeps_old_file_when_rename_fails(tmp_path, monkeypatch):
    final = tmp_path / "img_000.png"
    final.write_bytes(b"old")
    etl._publish_png(str(final), b"new", attempt=3)
    assert final.read_bytes() == b"new" and os.listdir(tmp_path) == ["img_000.png"]

    def fail(src, dst):
        raise OSError("rename failed")

    monkeypatch.setattr(etl.os, "replace", fail)
    with pytest.raises(OSError):
        etl._publish_png(str(final), b"partial", attempt=4)
    assert final.read_bytes() == b"new" and os.listdir(tmp_path) == ["img_000.png"]
