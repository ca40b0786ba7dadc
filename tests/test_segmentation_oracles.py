"""The region-growing oracle fragments of operators/segmentation.py
(flood fill, capped BFS replay, open/close morphology) against the numpy
kernels they replay: each fragment on hand-made 32×32 cell sets, and the
six registered ``region_grow_*`` oracles on the sf0.01 grid. DuckDB and
numpy only; no Spark session."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest

from braintumor_data_pipeline_spark import registry
from braintumor_data_pipeline_spark.functions.imaging import (
    morphology_open_close,
    region_growing_adaptive_np,
    region_growing_np,
)
from braintumor_data_pipeline_spark.operators import segmentation as seg

SF_ORACLE = "/root/testdata/sf0.01"
N = seg.GRID


def _con(**masks: dict[tuple, np.ndarray]) -> duckdb.DuckDBPyConnection:
    """A connection with one table per keyword: the nonzero cells of
    each mask as rows (k, image_id, y, x) for its key (k, image_id)."""
    con = duckdb.connect()
    for table, by_key in masks.items():
        rows = [
            (k, i, int(y), int(x))
            for (k, i), m in by_key.items()
            for y, x in zip(*np.nonzero(m))
        ]
        df = pd.DataFrame(rows, columns=["k", "image_id", "y", "x"])
        con.register("_df", df)
        con.execute(
            f"CREATE TABLE {table} (k VARCHAR, image_id INT, y INT, x INT)"
        )
        con.execute(f"INSERT INTO {table} SELECT * FROM _df")
        con.unregister("_df")
    return con


def _masks(rows, shape=(N, N)) -> dict[tuple, np.ndarray]:
    """(key..., y, x) rows → {key: uint8 mask}."""
    out: dict[tuple, np.ndarray] = {}
    for *key, y, x in rows:
        out.setdefault(tuple(key), np.zeros(shape, np.uint8))[y, x] = 1
    return out


def _admissible(img: np.ndarray, t: float) -> np.ndarray:
    """The kernel's admissible set at seed (16, 16)."""
    seed = float(img[seg.SEED_YX]) / 255.0
    return np.abs(img.astype(np.float32) / 255.0 - seed) <= t


# --- morphology -----------------------------------------------------------
def _blob_with_holes_and_spurs() -> np.ndarray:
    m = np.zeros((N, N), np.uint8)
    m[6:20, 5:22] = 1
    m[9, 9] = m[12, 15] = m[16, 7] = 0  # 1-px holes
    m[14:17, 16:19] = 0  # 3-px hole: a 5×5 close fills it, a 3×3 would not
    m[3:6, 12] = 1  # 1-px-wide spur off the top edge
    m[13, 22:28] = 1  # spur to the right
    m[25, 25] = 1  # isolated speck
    return m


def _border_blob() -> np.ndarray:
    m = np.zeros((N, N), np.uint8)
    m[0:7, 0:9] = 1  # touches the top and left borders
    m[26:32, 20:32] = 1  # bottom-right corner
    m[28, 24] = 0
    return m


MORPH_CASES = {
    "empty": np.zeros((N, N), np.uint8),
    "full": np.ones((N, N), np.uint8),
    "border": _border_blob(),
    "holes_spurs": _blob_with_holes_and_spurs(),
}


def test_morph_fragment_matches_open_close():
    """Erode pads with +inf and dilate with −inf (cv2): a full mask
    stays full, a border blob is not eaten from the border side."""
    keys = {("m", i): m for i, m in enumerate(MORPH_CASES.values())}
    con = _con(mask=keys)
    con.execute(
        "CREATE TABLE universe AS SELECT * FROM (VALUES "
        + ", ".join(f"('m', {i})" for i in range(len(keys)))
        + ") u(k, image_id)"
    )
    frag = seg._morph_sql("mask", ("k", "image_id"), "universe")
    got = _masks(con.execute(
        f"WITH {frag} SELECT k, image_id, y, x FROM closed"
    ).fetchall())
    areas = dict(
        ((k, i), a)
        for k, i, a in con.execute(
            f"WITH {frag} SELECT k, image_id, area FROM morph"
        ).fetchall()
    )
    for (name, m), key in zip(MORPH_CASES.items(), keys):
        want = morphology_open_close(m)
        have = got.get(key, np.zeros((N, N), np.uint8))
        assert np.array_equal(have, want), name
        assert areas[key] == int(want.sum()), name
    assert areas[("m", 0)] == 0  # the empty mask still has its row
    assert areas[("m", 1)] == N * N


# --- flood fill -----------------------------------------------------------
def _two_blobs_diagonal() -> np.ndarray:
    img = np.full((N, N), 20, np.uint8)
    img[12:20, 12:20] = 200  # blob holding the seed
    img[21:28, 21:28] = 205  # second blob
    img[20, 20] = 200  # touches both blobs only at corners
    img[4:8, 2:30] = 198  # far blob
    img[8:12, 16] = 201  # 4-connected bridge to the far blob
    return img


def test_flood_fragment_matches_uncapped_bfs():
    """Two keys; a corner-only link between blobs must not join them."""
    img = _two_blobs_diagonal()
    flat = np.full((N, N), 90, np.uint8)
    cases = {("a", 3): (img, 0.1), ("b", 3): (flat, 0.1)}
    con = _con(adm={k: _admissible(im, t) for k, (im, t) in cases.items()})
    got = _masks(con.execute(
        f"WITH RECURSIVE {seg._flood_sql('adm', ('k', 'image_id'))} "
        "SELECT k, image_id, y, x FROM flood"
    ).fetchall())
    for key, (im, t) in cases.items():
        want = region_growing_np(
            im, seg.SEED_YX, threshold=t, connectivity=4,
            max_iterations=None, morphology=False,
        )
        assert np.array_equal(got[key], want), key
    assert got[("a", 3)][21:28, 21:28].sum() == 0  # diagonal: no leak
    assert got[("a", 3)][4:8, 2:30].all()  # the bridge does join
    assert got[("b", 3)].sum() == N * N


# --- capped BFS -----------------------------------------------------------
def test_capped_bfs_fragment_matches_capped_bfs():
    """100 dequeues on a flat image admit far fewer cells than the
    image holds; a speckled image checks the 8-neighbour enqueue order."""
    flat = np.full((N, N), 128, np.uint8)
    speckled = np.random.RandomState(5).randint(0, 256, (N, N)).astype(np.uint8)
    cases = {0: (flat, 0.1), 1: (speckled, 0.7)}
    con = _con(adm={("c", i): _admissible(im, t) for i, (im, t) in cases.items()})
    got = _masks(con.execute(
        f"WITH RECURSIVE {seg._capped_bfs_sql('adm')} "
        "SELECT image_id, y, x FROM bmask"
    ).fetchall())
    for i, (im, t) in cases.items():
        want = region_growing_np(
            im, seg.SEED_YX, threshold=t, connectivity=8,
            max_iterations=100, morphology=False,
        )
        assert np.array_equal(got[(i,)], want), i
    full = region_growing_np(
        flat, seg.SEED_YX, threshold=0.1, connectivity=8,
        max_iterations=None, morphology=False,
    )
    assert got[(0,)].sum() < full.sum() == N * N  # the cap binds


# --- the six registered oracles at sf0.01 ---------------------------------
@pytest.fixture(scope="module")
def grid():
    """(duckdb connection over sf0.01 orders, {image_id: uint8 image})."""
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM '{SF_ORACLE}/orders.parquet'"
    )
    imgs: dict[int, np.ndarray] = {}
    for i, y, x, v in con.execute(
        f"SELECT image_id, y, x, v FROM ({seg._GRID_SQL})"
    ).fetchall():
        imgs.setdefault(i, np.zeros((N, N), np.uint8))[y, x] = v
    assert len(imgs) > 8
    return con, imgs


def _cells(mask_by_image) -> list[tuple]:
    return sorted(
        (i, int(y), int(x))
        for i, m in mask_by_image.items()
        for y, x in zip(*np.nonzero(m))
    )


def _grow(imgs, **kw):
    return {
        i: region_growing_np(im, seg.SEED_YX, morphology=False, **kw)
        for i, im in imgs.items()
    }


def _area(imgs, t):
    return sorted(
        (i, int(region_growing_np(
            im, seg.SEED_YX, threshold=t, connectivity=8,
            max_iterations=100, morphology=True,
        ).sum()))
        for i, im in imgs.items()
    )


def _adaptive(imgs):
    out = []
    for i, im in imgs.items():
        mask, t = region_growing_adaptive_np(
            im, seg.SEED_YX, initial_threshold=0.05, max_threshold=0.3,
            connectivity=4, max_iterations=100000,
        )
        out.append((i, int(mask.sum()), round(float(t), 6)))
    return sorted(out)


EXPECTED = {
    "region_grow_component": lambda imgs: _cells(_grow(
        imgs, threshold=seg.THRESHOLD, connectivity=4, max_iterations=None
    )),
    "region_grow_capped": lambda imgs: _cells(_grow(
        imgs, threshold=seg.CAP_THRESHOLD, connectivity=8, max_iterations=100
    )),
    "region_grow_faithful": lambda imgs: _area(imgs, seg.THRESHOLD),
    "region_grow_capped_morph": lambda imgs: _area(imgs, seg.MORPH_THRESHOLD),
    "region_grow_adaptive": _adaptive,
    "region_grow_adaptive_first8": lambda imgs: _adaptive(
        {i: im for i, im in imgs.items() if i < 8}
    ),
}


@pytest.mark.parametrize("name", sorted(EXPECTED))
def test_region_grow_oracle_matches_numpy(grid, name):
    con, imgs = grid
    got = sorted(con.execute(registry.all_queries()[name].oracle).fetchall())
    assert got == EXPECTED[name](imgs)
