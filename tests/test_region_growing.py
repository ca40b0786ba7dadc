"""Region-growing semantics (SURVEY G1/G2, FIXTURES.md B4 cases)."""

from __future__ import annotations

import numpy as np
import pytest

from braintumor_data_pipeline_spark.functions.imaging import (
    region_growing_adaptive_np,
    region_growing_np,
)


def _two_blob_image():
    img = np.zeros((40, 40), dtype=np.uint8)
    img[5:15, 5:15] = 200  # blob A
    img[25:35, 25:35] = 210  # blob B (separate, similar intensity)
    return img


def test_seed_out_of_bounds_raises():
    img = np.zeros((10, 10), dtype=np.uint8)
    with pytest.raises(ValueError, match="outside image bounds"):
        region_growing_np(img, (10, 0))
    with pytest.raises(ValueError):
        region_growing_np(img, (0, -1))


def test_two_blobs_no_leak():
    img = _two_blob_image()
    mask = region_growing_np(
        img, (10, 10), threshold=0.1, connectivity=4,
        max_iterations=None, morphology=False,
    )
    assert mask[5:15, 5:15].all()
    assert mask[25:35, 25:35].sum() == 0  # disconnected blob untouched
    assert mask.sum() == 100


def test_iteration_cap_truncates_flat_image():
    """The reference quirk (`region_growing.py:67`): max_iterations counts
    DEQUEUED pixels; default 100 on a flat image truncates the region."""
    img = np.full((64, 64), 128, dtype=np.uint8)
    capped = region_growing_np(
        img, (32, 32), threshold=0.1, connectivity=4,
        max_iterations=100, morphology=False,
    )
    # each dequeue admits ≤4 new pixels; with 100 dequeues the region is
    # far smaller than the image
    assert 100 <= capped.sum() < 64 * 64
    uncapped = region_growing_np(
        img, (32, 32), threshold=0.1, connectivity=4,
        max_iterations=None, morphology=False,
    )
    assert uncapped.sum() == 64 * 64


def test_capped_bfs_prefix_of_uncapped():
    img = _two_blob_image()
    capped = region_growing_np(
        img, (10, 10), threshold=0.1, connectivity=8,
        max_iterations=10, morphology=False,
    )
    full = region_growing_np(
        img, (10, 10), threshold=0.1, connectivity=8,
        max_iterations=None, morphology=False,
    )
    assert (capped & ~full).sum() == 0  # capped ⊆ uncapped
    assert capped.sum() < full.sum()


def test_connectivity_4_vs_8_diagonal():
    img = np.zeros((5, 5), dtype=np.uint8)
    img[0, 0] = img[1, 1] = 200  # diagonal touch only
    m4 = region_growing_np(img, (0, 0), 0.05, 4, None, morphology=False)
    m8 = region_growing_np(img, (0, 0), 0.05, 8, None, morphology=False)
    assert m4[1, 1] == 0 and m8[1, 1] == 1


def test_threshold_vs_fixed_seed_not_chained():
    """Admission compares against the FIXED seed value — a smooth gradient
    must stop once |v−seed| exceeds t·255, even though neighbors differ
    only by 1."""
    img = np.tile(np.arange(0, 240, 10, dtype=np.uint8), (3, 1))  # 24 cols
    mask = region_growing_np(
        img, (1, 0), threshold=0.1, connectivity=4,
        max_iterations=None, morphology=False,
    )
    # seed v=0; admissible cols have v ≤ 25.5 → cols 0,1,2
    assert mask[:, :3].all() and mask[:, 3:].sum() == 0


def test_adaptive_grows_small_region():
    img = np.zeros((40, 40), dtype=np.uint8)
    img[19:22, 19:22] = 190  # small bright patch
    img[20, 20] = 200  # seed differs from patch by 10 → t=0.01 admits none
    mask, t = region_growing_adaptive_np(
        img, (20, 20), initial_threshold=0.01, max_threshold=0.3,
        connectivity=4, max_iterations=100000,
    )
    assert t > 0.01  # threshold was increased
    assert mask.sum() >= 1600 * 0.005 or t >= 0.3


def test_adaptive_shrinks_large_region():
    rng = np.random.RandomState(3)
    img = rng.randint(120, 136, size=(40, 40), dtype=np.uint8)
    mask, t = region_growing_adaptive_np(
        img, (20, 20), initial_threshold=0.3, max_threshold=0.3,
        connectivity=4, max_iterations=100000,
    )
    assert t < 0.3  # threshold was decreased from the initial


def test_capped_query_cap_actually_binds(spark, sf_dir):
    """region_grow_capped exists to pin the reference's 100-dequeue
    truncation quirk — so the cap must actually truncate: every image's
    capped mask must be strictly smaller than the uncapped component at
    the same threshold (otherwise the oracle parity is vacuous)."""
    from collections import Counter

    from braintumor_data_pipeline_spark.operators.segmentation import (
        CAP_THRESHOLD,
        GRID,
        SEED_YX,
        grid_images_df,
        region_grow_capped,
    )

    capped = Counter(
        r.image_id for r in region_grow_capped(spark, sf_dir).collect()
    )
    assert capped, "no images produced"
    # replay uncapped at the same threshold per image
    rows = grid_images_df(spark, sf_dir).collect()
    imgs: dict[int, np.ndarray] = {}
    for r in rows:
        imgs.setdefault(r.image_id, np.zeros((GRID, GRID), dtype=np.uint8))[
            r.y, r.x
        ] = r.v
    for image_id, img in imgs.items():
        full = region_growing_np(
            img, SEED_YX, threshold=CAP_THRESHOLD, connectivity=8,
            max_iterations=None, morphology=False,
        )
        assert capped[image_id] < int(full.sum()), (
            f"cap did not bind on image {image_id}"
        )


# --- the packed-grid boundary (segmentation.map_grid_images) ---
def test_packed_grid_size_check_rejects_short_batch():
    """A packed batch whose flattened length is not n·32·32 must raise,
    not mis-tile pixels across images after the reshape."""
    import pyarrow as pa

    from braintumor_data_pipeline_spark.operators.segmentation import (
        GRID,
        _unpack_grids,
    )

    good = pa.array([list(range(GRID * GRID))] * 2, pa.list_(pa.int32()))
    assert _unpack_grids(good, 2).shape == (2, GRID, GRID)
    short = pa.array(
        [list(range(GRID * GRID)), list(range(GRID * GRID - 1))],
        pa.list_(pa.int32()),
    )
    with pytest.raises(ValueError, match="packed grid expects 2x32x32"):
        _unpack_grids(short, 2)


def _decoded(g, key="image_id"):
    from braintumor_data_pipeline_spark.operators.segmentation import (
        map_grid_images,
    )

    out = map_grid_images(
        g,
        lambda _, v, v2: [(v.ravel().tolist(), v2.ravel().tolist())],
        f"{key} int, v array<int>, v2 array<int>",
        ("v", "v2"),
        key=key,
    )
    return {r[key]: (r.v, r.v2) for r in out.collect()}


def _scattered(rows, key="image_id"):
    from braintumor_data_pipeline_spark.operators.segmentation import GRID

    imgs: dict[int, np.ndarray] = {}
    for r in rows:
        img = imgs.setdefault(r[key], np.zeros((2, GRID, GRID), np.int64))
        img[:, r.y, r.x] = (r.v, r.v2)
    return {
        k: (a[0].ravel().tolist(), a[1].ravel().tolist())
        for k, a in imgs.items()
    }


def test_packed_grid_decode_matches_pixel_scatter(spark, sf_dir):
    """Both channels of every fixture image decode to exactly the
    row-major arrays a scatter of the grid's pixel rows gives — pins
    channel order and position order through the pack."""
    from braintumor_data_pipeline_spark.operators.segmentation import (
        grid_images_df,
    )

    g = grid_images_df(spark, sf_dir, with_gt=True)
    want = _scattered(g.collect())
    assert want
    assert _decoded(g) == want


def test_packed_grid_decode_is_order_free_across_images(spark):
    """Several images under another key column, rows shuffled across
    partitions: each image still decodes to its own pixels."""
    from pyspark.sql import functions as F

    g = (
        spark.range(3 * 1024)
        .select(
            (F.col("id") / 1024).cast("int").alias("pid"),
            ((F.col("id") % 1024) / 32).cast("int").alias("y"),
            (F.col("id") % 32).cast("int").alias("x"),
            F.abs(F.xxhash64("id") % 256).cast("int").alias("v"),
            F.abs(F.xxhash64("id", F.lit(1)) % 256).cast("int").alias("v2"),
        )
        .repartition(4, F.rand(7))
    )
    want = _scattered(g.collect(), key="pid")
    assert sorted(want) == [0, 1, 2]
    assert _decoded(g, key="pid") == want
