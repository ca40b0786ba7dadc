"""``imaging.clahe`` builds its tile histograms in one bincount and
interpolates from broadcast row/column weights. Its output must stay bit
for bit what the per-tile loop below produced."""

from __future__ import annotations

import numpy as np
import pytest

from braintumor_data_pipeline_spark.functions import imaging as im


def _clahe_per_tile(img, clip_limit=2.0, tile_grid=(8, 8)):
    """Frozen copy of the per-tile-loop kernel the vectorized one replaced."""
    h, w = img.shape
    ty, tx = tile_grid
    th = (h + ty - 1) // ty
    tw = (w + tx - 1) // tx
    padded = np.pad(img, ((0, th * ty - h), (0, tw * tx - w)), mode="reflect")
    luts = np.zeros((ty, tx, 256), dtype=np.float64)
    clip = max(int(clip_limit * th * tw / 256.0), 1)
    for i in range(ty):
        for j in range(tx):
            tile = padded[i * th : (i + 1) * th, j * tw : (j + 1) * tw]
            hist = np.bincount(tile.ravel(), minlength=256).astype(np.int64)
            excess = np.sum(np.maximum(hist - clip, 0))
            hist = np.minimum(hist, clip)
            hist += excess // 256
            residual = int(excess % 256)
            if residual:
                step = max(256 // residual, 1)
                hist[::step][:residual] += 1
            cdf = np.cumsum(hist)
            scale = 255.0 / max(cdf[-1], 1)
            luts[i, j] = cdf * scale
    yy, xx = np.mgrid[0:h, 0:w]
    fy = (yy + 0.5) / th - 0.5
    fx = (xx + 0.5) / tw - 0.5
    y0 = np.clip(np.floor(fy).astype(int), 0, ty - 1)
    x0 = np.clip(np.floor(fx).astype(int), 0, tx - 1)
    y1 = np.clip(y0 + 1, 0, ty - 1)
    x1 = np.clip(x0 + 1, 0, tx - 1)
    wy = np.clip(fy - y0, 0.0, 1.0)
    wx = np.clip(fx - x0, 0.0, 1.0)
    v = img
    out = (
        luts[y0, x0, v] * (1 - wy) * (1 - wx)
        + luts[y1, x0, v] * wy * (1 - wx)
        + luts[y0, x1, v] * (1 - wy) * wx
        + luts[y1, x1, v] * wy * wx
    )
    return np.clip(np.floor(out + 0.5), 0, 255).astype(np.uint8)


def _synthetic_images():
    rng = np.random.default_rng(7)
    yield "uniform-random", rng.integers(0, 256, (256, 256), dtype=np.uint8)
    yield "normal-noise", np.clip(rng.normal(128, 20, (256, 256)), 0, 255).astype(np.uint8)
    yield "all-zero", np.zeros((256, 256), np.uint8)
    yield "flat", np.full((64, 64), 42, np.uint8)
    # odd sizes: tiles do not divide the image, so reflect padding runs
    yield "odd-200x173", rng.integers(0, 256, (200, 173), dtype=np.uint8)
    yield "odd-37x61-lowcontrast", rng.integers(100, 131, (37, 61), dtype=np.uint8)
    # every value 4 times per 32×32 tile, under the clip limit of 8: no
    # excess, so no residual either
    r, c = np.mgrid[0:256, 0:256]
    yield "spread-unclipped", (((r % 32) * 32 + c % 32) % 256).astype(np.uint8)
    # left half flat (every tile there clips), right half noise
    half = rng.integers(0, 256, (96, 96), dtype=np.uint8)
    half[:, :48] = 200
    yield "half-flat", half


@pytest.mark.parametrize("img", [pytest.param(img, id=name) for name, img in _synthetic_images()])
def test_clahe_matches_per_tile_loop(img):
    assert np.array_equal(im.clahe(img), _clahe_per_tile(img))


def test_images_reach_tiles_with_and_without_residual():
    """The images above reach both redistribution branches: tiles with no
    residual to spread and tiles with one."""
    residues = set()
    for _, img in _synthetic_images():
        th, tw = (img.shape[0] + 7) // 8, (img.shape[1] + 7) // 8
        padded = np.pad(img, ((0, th * 8 - img.shape[0]), (0, tw * 8 - img.shape[1])), mode="reflect")
        clip = max(int(2.0 * th * tw / 256.0), 1)
        for i in range(8):
            for j in range(8):
                hist = np.bincount(padded[i * th : (i + 1) * th, j * tw : (j + 1) * tw].ravel(), minlength=256)
                residues.add(int(np.maximum(hist - clip, 0).sum() % 256) > 0)
    assert residues == {True, False}


@pytest.mark.parametrize("clip_limit,tile_grid", [(2.0, (8, 8)), (4.0, (4, 6)), (0.5, (3, 3))])
def test_clahe_matches_per_tile_loop_other_grids(clip_limit, tile_grid):
    img = np.random.default_rng(3).integers(0, 256, (90, 71), dtype=np.uint8)
    assert np.array_equal(
        im.clahe(img, clip_limit, tile_grid), _clahe_per_tile(img, clip_limit, tile_grid)
    )


def test_clahe_matches_per_tile_loop_on_windowed_dicoms(tmp_path):
    """The benchmark's DICOM slices (a blob on noise, some without window
    tags), decoded and windowed as ``process_dicom`` does."""
    from braintumor_data_pipeline_spark.sources.dicom import dcmread
    from perfbench.inputs import write_dicoms

    files = write_dicoms(str(tmp_path), seed=5, batches=1, per_batch=8, truncated=0, side=128)
    assert len(files) == 8
    for rec in files:
        with open(rec["path"], "rb") as fh:
            ds = dcmread(fh.read())
        wc = ds.window_center[0] if ds.window_center else None
        ww = ds.window_width[0] if ds.window_width else None
        img, _, _ = im.apply_windowing_pipeline(ds.pixel_array, wc, ww)
        assert np.array_equal(im.clahe(img), _clahe_per_tile(img)), rec["path"]
