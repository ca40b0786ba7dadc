"""NIfTI / BMP / dispatch / storage-helper tests (SURVEY S4-S8)."""

from __future__ import annotations

import os

import numpy as np
import pytest

from braintumor_data_pipeline_spark.sources.dicom import dcmwrite
from braintumor_data_pipeline_spark.sources.image_io import (
    decode_bmp,
    decode_image,
    encode_bmp,
)
from braintumor_data_pipeline_spark.sources.nifti import (
    middle_slice,
    read_nifti,
    write_nifti,
)
from braintumor_data_pipeline_spark.sources.png import encode_png
from braintumor_data_pipeline_spark.sources.storage import (
    download_image_np,
    list_images,
    upload_dir,
)


def test_nifti_roundtrip_and_middle_slice():
    rng = np.random.RandomState(4)
    vol = rng.randint(-100, 2000, size=(9, 16, 12)).astype(np.int16)
    blob = write_nifti(vol)
    back = read_nifti(blob)
    assert np.array_equal(back, vol)
    # middle slice = volume[shape[0]//2] (preprocessor.py:56-58)
    assert np.array_equal(middle_slice(back), vol[4])


def test_nifti_gzip_container():
    import gzip

    vol = np.arange(24, dtype=np.float32).reshape(2, 3, 4)
    assert np.array_equal(read_nifti(gzip.compress(write_nifti(vol))), vol)


def test_bmp_roundtrip_rgb():
    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, size=(7, 5, 3), dtype=np.uint8)
    assert np.array_equal(decode_bmp(encode_bmp(img)), img)


def test_decode_image_dispatch():
    gray = np.arange(64, dtype=np.uint8).reshape(8, 8)
    assert np.array_equal(decode_image(encode_png(gray)), gray)
    rgb = np.dstack([gray] * 3)
    assert np.array_equal(decode_image(encode_bmp(rgb)), rgb)
    px = np.arange(16, dtype=np.uint8).reshape(4, 4)
    assert np.array_equal(decode_image(dcmwrite(px)), px)
    vol = np.zeros((3, 4, 4), dtype=np.int16)
    vol[1] = 7
    assert (decode_image(write_nifti(vol)) == 7).all()
    from braintumor_data_pipeline_spark.sources.jpeg import encode_jpeg
    from braintumor_data_pipeline_spark.sources.tiff import encode_tiff

    jpg = decode_image(encode_jpeg(gray, quality=95))
    assert jpg.shape == gray.shape and np.abs(
        jpg.astype(int) - gray.astype(int)
    ).max() <= 8
    assert np.array_equal(decode_image(encode_tiff(rgb)), rgb)
    with pytest.raises(ValueError, match="unrecognized"):
        decode_image(b"garbage")


def test_storage_helpers(spark, tmp_path):
    src = tmp_path / "src"
    (src / "sub").mkdir(parents=True)
    img = np.full((6, 6), 9, dtype=np.uint8)
    (src / "a.png").write_bytes(encode_png(img))
    (src / "sub" / "b.PNG").write_bytes(encode_png(img))
    (src / "c.txt").write_text("not an image")

    dest = str(tmp_path / "bucket")
    uploaded = upload_dir(str(src), dest, prefix="raw")
    assert len(uploaded) == 3
    assert all(os.path.exists(p) for p in uploaded)

    # S7: case-insensitive suffix + limit, via the engine's binaryFile
    # scan (glob-matched directories are descended into, so both a.png
    # and sub/b.PNG appear; c.txt is suffix-filtered)
    listed_all = list_images(spark, dest + "/raw/*", suffix=".png", limit=50)
    assert len(listed_all) == 2
    assert len(list_images(spark, dest + "/raw/*", ".png", limit=1)) == 1

    # S8: exact-path fetch + decode; missing → None
    arr = download_image_np(spark, listed_all[0])
    assert arr is not None and arr.shape == (6, 6) and (arr == 9).all()
    assert download_image_np(spark, dest + "/raw/zzz.png") is None


def test_generator_counts_and_repartition_invariance(spark, sf_dir):
    """The in-plan generator is a pure function of row id: results are
    identical under different parallelism, and the flag partition sizes
    follow id % 3 exactly."""
    from braintumor_data_pipeline_spark.sources.generator import (
        N_ROWS,
        synthetic_lineitem_pricing,
        synthetic_skew_stress_agg,
    )

    rows = {r.flag: r for r in synthetic_lineitem_pricing(spark, sf_dir).collect()}
    assert sum(r.n for r in rows.values()) == N_ROWS
    assert rows["A"].n == (N_ROWS + 2) // 3
    assert all(1 <= 1 and r.min_cents >= 100000 for r in rows.values())

    s1 = synthetic_skew_stress_agg(spark, sf_dir).collect()[0]
    # key k owns exactly 2k+1 rows; max key = floor(sqrt(N-1))
    import math

    kmax = math.isqrt(N_ROWS - 1)
    assert s1.n_keys == kmax + 1
    assert s1.max_key_rows >= 2 * (kmax - 1) + 1
    # repartition must not change the checksum (pure function of ids)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        s2 = synthetic_skew_stress_agg(spark, sf_dir).collect()[0]
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert (s1.checksum, s1.n_keys, s1.max_key_rows) == (
        s2.checksum,
        s2.n_keys,
        s2.max_key_rows,
    )
