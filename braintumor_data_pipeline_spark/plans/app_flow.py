"""The interactive-app analysis chain (SURVEY §3.2) as a distributed
query — the reference's whole Streamlit flow (`/root/reference/app.py:
21-259`) per image: preprocess (blur+CLAHE) → auto-seed (argmax,
row-major tie-break) → adaptive region growing → metrics (area,
perimeter, circularity, regionprops, tumor probability, Dice vs seeded
dummy-GT) — except here it runs across ALL images as one packed-grid
Arrow stage (``segmentation.map_grid_images``) instead of one image per
browser interaction.

Registered as ``app_analysis_chain`` (rows-only: the chain composes G1/
G2/X4/X5/X10/X11/X15/X16/A15, each individually pinned by tests or
oracles)."""

from __future__ import annotations

import math

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from ..functions.imaging import (
    generate_dummy_ground_truth,
    gaussian_blur,
    clahe,
    region_growing_adaptive_np,
)
from ..functions.regionprops import region_properties
from ..operators.segmentation import grid_images_df, map_grid_images
from ..operators import _pinned_sql as _PINNED
from ..registry import register


def analyze_image(
    img: np.ndarray,
    smoothing: float = 0.5,
    initial_threshold: float = 0.1,
    connectivity: int = 8,
    max_iterations: int = 100,
    gt_seed: int = 42,
) -> dict[str, float]:
    """One image through the full app chain; returns the metrics panel.
    Mirrors `app.py`: preprocess (`app.py:100` → utils.preprocess_image),
    auto-seed argmax (`app.py:107-113`), adaptive G2 (`app.py:136-144`),
    metrics (`app.py:172`), dummy-GT comparison."""
    pre = clahe(gaussian_blur(img, smoothing))
    seed = np.unravel_index(int(np.argmax(pre)), pre.shape)
    mask, thr = region_growing_adaptive_np(
        pre, (int(seed[0]), int(seed[1])),
        initial_threshold=initial_threshold,
        connectivity=connectivity,
        max_iterations=max_iterations,
    )
    area = float(mask.sum())
    # perimeter: boundary-pixel proxy (X9 SQL-checkable variant)
    m = mask.astype(bool)
    inner = np.zeros_like(m)
    inner[1:-1, 1:-1] = (
        m[1:-1, 1:-1] & m[:-2, 1:-1] & m[2:, 1:-1] & m[1:-1, :-2] & m[1:-1, 2:]
    )
    perimeter = float((m & ~inner).sum())
    circularity = (
        4 * math.pi * area / (perimeter**2) if perimeter > 0 else 0.0
    )
    props = region_properties(mask)
    gt = generate_dummy_ground_truth(mask, seed=gt_seed)
    inter = float(np.logical_and(m, gt > 0).sum())
    s = area + float((gt > 0).sum())
    dice = 2.0 * inter / s if s > 0 else 1.0
    return {
        "seed_y": float(seed[0]),
        "seed_x": float(seed[1]),
        "threshold_used": thr,
        "area": area,
        "perimeter_px": perimeter,
        "circularity": circularity,
        "eccentricity": props["eccentricity"],
        "solidity": props["solidity"],
        "dice_vs_dummy": dice,
    }


@register(
    "app_analysis_chain",
    # The chain crosses CLAHE/Gaussian float paths and the seeded dummy
    # GT — not SQL-recomputable; frozen sf0.01 golden instead
    # (tools/pin_oracle.py), which still hash-pins the full composed
    # pipeline (G1/G2/X4/X5/X10/X11/X15/X16/A15) against drift.
    oracle=_PINNED.APP_ANALYSIS_CHAIN_PINNED,
    tags=("imaging", "udf", "chain"),
    pinned_sf="sf0.01",
)
def app_analysis_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The §3.2 app flow across all grid images — every image decoded
    from its packed grid, the whole chain fused in one Arrow stage."""

    # analyze_image's panel keys, bound to output columns by name
    cols = (
        "seed_y", "seed_x", "threshold_used", "area", "perimeter_px",
        "circularity", "eccentricity", "solidity", "dice_vs_dummy",
    )

    def chain(image_id, img):
        out = analyze_image(img, gt_seed=image_id)
        return [tuple(round(out[c], 6) for c in cols)]

    schema = "image_id int, " + ", ".join(f"{c} double" for c in cols)
    return map_grid_images(grid_images_df(spark, sf_dir), chain, schema)
