"""Pure-numpy image math — the reference's per-image scalar library
(SURVEY §2.9-2.10) reimplemented without cv2/skimage (not available in
this environment, and JVM-shippable numpy keeps the pandas-UDF closure
tiny).

Every function is deterministic and operates on one image; distribution
across images happens in Spark via mapInPandas/applyInPandas. Functions
whose reference counterpart is a cv2 call are reimplemented to the same
contract and pinned by golden tests (cv2 bit-exactness is NOT claimed
where cv2 uses internal fixed-point paths — deviations are noted).
"""

from __future__ import annotations

import numpy as np

# ---------------------------------------------------------------------------
# Windowing (SURVEY X1/X2 — two deliberately preserved variants)
# ---------------------------------------------------------------------------


def apply_windowing_pipeline(arr: np.ndarray, wc: float | None, ww: float | None):
    """Float-midpoint windowing with min-max fallback
    (`dataflow_pipeline.py:19-39`). Returns (uint8 array, wc, ww) with
    wc/ww None when the fallback path ran."""
    if wc is not None and ww is not None and ww > 0:
        low = wc - ww / 2.0
        high = wc + ww / 2.0
        a = np.clip(arr.astype(np.float32), low, high)
        a = ((a - low) / max(high - low, 1e-6) * 255.0).astype(np.uint8)
        return a, wc, ww
    a = arr.astype(np.float32)
    a = (a - a.min()) / max(a.max() - a.min(), 1e-6) * 255.0
    return a.astype(np.uint8), None, None


def apply_windowing_app(arr: np.ndarray, wc: float, ww: float) -> np.ndarray:
    """Integer-half-width windowing, unguarded denominator
    (`preprocessor.py:150-160`) — disagrees with the pipeline variant on
    odd widths; both are part of the reference contract."""
    lo = wc - ww // 2
    hi = wc + ww // 2
    a = np.clip(arr, lo, hi)
    a = ((a - lo) / (hi - lo)) * 255
    return a.astype(np.uint8)


def normalize_minmax(arr: np.ndarray, guarded: bool = True) -> np.ndarray:
    """Min-max → uint8 (SURVEY X3). guarded=True is the pipeline variant
    (`dataflow_pipeline.py:38`); False the preprocessor variant
    (`preprocessor.py:97-99`, raises on flat images like the original)."""
    a = arr.astype(np.float64)
    denom = a.max() - a.min()
    if guarded:
        denom = max(denom, 1e-6)
    return ((a - a.min()) / denom * 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# Grayscale (SURVEY X6) — cv2's fixed-point BT.601 coefficients
# ---------------------------------------------------------------------------


def to_grayscale(img: np.ndarray) -> np.ndarray:
    """RGB→gray iff 3-channel (`utils.py:86-103`). Uses cv2's fixed-point
    arithmetic ((R·4899 + G·9617 + B·1868 + 8192) >> 14) so uint8 results
    match cv2.cvtColor exactly."""
    if img.ndim == 2:
        return img
    r = img[..., 0].astype(np.int64)
    g = img[..., 1].astype(np.int64)
    b = img[..., 2].astype(np.int64)
    return ((r * 4899 + g * 9617 + b * 1868 + 8192) >> 14).astype(img.dtype)


# ---------------------------------------------------------------------------
# Gaussian blur (SURVEY X5) — separable, cv2 kernel-size convention
# ---------------------------------------------------------------------------


def _gaussian_kernel(sigma: float, ksize: int | None = None) -> np.ndarray:
    if ksize is None:
        # cv2 convention for CV_8U when ksize=(0,0): 2·round(3σ)+1, odd
        ksize = int(round(sigma * 3)) * 2 + 1
        ksize = max(ksize, 1)
    half = (ksize - 1) / 2.0
    xs = np.arange(ksize) - half
    k = np.exp(-(xs**2) / (2.0 * sigma * sigma))
    return k / k.sum()


def gaussian_blur(img: np.ndarray, sigma: float) -> np.ndarray:
    """cv2.GaussianBlur(img,(0,0),sigmaX=σ) equivalent: separable
    convolution, BORDER_REFLECT_101 padding, round-half-away for uint8.
    σ ≤ 0 → unchanged (`utils.py:28-31`)."""
    if sigma <= 0:
        return img
    k = _gaussian_kernel(sigma)
    pad = len(k) // 2
    a = img.astype(np.float64)
    # reflect-101 padding: edge pixel not duplicated
    ap = np.pad(a, ((pad, pad), (0, 0)), mode="reflect")
    out = np.zeros_like(a)
    for i, kv in enumerate(k):
        out += kv * ap[i : i + a.shape[0], :]
    ap = np.pad(out, ((0, 0), (pad, pad)), mode="reflect")
    out2 = np.zeros_like(a)
    for i, kv in enumerate(k):
        out2 += kv * ap[:, i : i + a.shape[1]]
    if img.dtype == np.uint8:
        return np.clip(np.floor(out2 + 0.5), 0, 255).astype(np.uint8)
    return out2.astype(img.dtype)


# ---------------------------------------------------------------------------
# CLAHE (SURVEY X4) — tile histogram equalization, clip limit 2.0, 8×8
# ---------------------------------------------------------------------------


def clahe(
    img: np.ndarray, clip_limit: float = 2.0, tile_grid: tuple[int, int] = (8, 8)
) -> np.ndarray:
    """Contrast-limited adaptive histogram equalization, reimplementing
    cv2.createCLAHE(2.0,(8,8)) (`dataflow_pipeline.py:42-44`,
    `utils.py:33-35`): per-tile clipped histogram → CDF LUT, bilinear
    interpolation between the 4 surrounding tile LUTs. Matches cv2's
    algorithm structure (incl. residual redistribution); not asserted
    bit-identical to cv2 (its interpolation is fixed-point)."""
    assert img.ndim == 2
    h, w = img.shape
    ty, tx = tile_grid
    # cv2 pads the image so tiles divide evenly
    th = (h + ty - 1) // ty
    tw = (w + tx - 1) // tx
    padded = np.pad(img, ((0, th * ty - h), (0, tw * tx - w)), mode="reflect")
    # all ty·tx tile histograms in one bincount over tile_id·256 + value
    tile_id = (np.arange(ty * th) // th)[:, None] * tx + np.arange(tx * tw) // tw
    hist = np.bincount(
        (tile_id * 256 + padded).ravel(), minlength=ty * tx * 256
    ).reshape(ty * tx, 256)
    clip = max(int(clip_limit * th * tw / 256.0), 1)
    excess = np.maximum(hist - clip, 0).sum(axis=1)
    hist = np.minimum(hist, clip)
    # redistribute the clipped excess evenly (cv2 style)
    hist += (excess // 256)[:, None]
    residual = excess % 256
    for t in np.flatnonzero(residual):
        r = int(residual[t])
        hist[t, :: max(256 // r, 1)][:r] += 1
    cdf = np.cumsum(hist, axis=1)
    luts = (cdf * (255.0 / np.maximum(cdf[:, -1], 1))[:, None]).reshape(ty, tx, 256)
    # bilinear interpolation of tile mappings: rows and columns separately,
    # broadcast to every pixel
    fy = (np.arange(h) + 0.5) / th - 0.5
    fx = (np.arange(w) + 0.5) / tw - 0.5
    y0 = np.clip(np.floor(fy).astype(int), 0, ty - 1)
    x0 = np.clip(np.floor(fx).astype(int), 0, tx - 1)
    y1 = np.clip(y0 + 1, 0, ty - 1)[:, None]
    x1 = np.clip(x0 + 1, 0, tx - 1)
    wy = np.clip(fy - y0, 0.0, 1.0)[:, None]
    wx = np.clip(fx - x0, 0.0, 1.0)
    y0 = y0[:, None]
    v = img
    out = (
        luts[y0, x0, v] * (1 - wy) * (1 - wx)
        + luts[y1, x0, v] * wy * (1 - wx)
        + luts[y0, x1, v] * (1 - wy) * wx
        + luts[y1, x1, v] * wy * wx
    )
    return np.clip(np.floor(out + 0.5), 0, 255).astype(np.uint8)


# ---------------------------------------------------------------------------
# The per-image DICOM chain (SURVEY S3, X1, X4, X5)
# ---------------------------------------------------------------------------


def process_dicom(data: bytes):
    """The reference DoFn's transform (`dataflow_pipeline.py:68-88`) on
    one file's bytes: decode → first window value (MultiValue → first
    element) → :func:`apply_windowing_pipeline` → CLAHE → blur. Returns
    (dataset, uint8 image, wc, ww), wc/ww None when the min-max fallback
    ran. Raises on a file it cannot decode; the ETL stage
    (`plans/etl._process_partition`) drops such a file (F3)."""
    from ..sources.dicom import dcmread

    ds = dcmread(data)
    wc_vals = ds.window_center
    ww_vals = ds.window_width
    wc = wc_vals[0] if wc_vals else None
    ww = ww_vals[0] if ww_vals else None
    img_u8, wc, ww = apply_windowing_pipeline(ds.pixel_array, wc, ww)
    img_u8 = clahe(img_u8, clip_limit=2.0, tile_grid=(8, 8))
    return ds, gaussian_blur(img_u8, 0.5), wc, ww


# ---------------------------------------------------------------------------
# Morphology (SURVEY X8) — open 3×3 then close 5×5, cv2 border semantics
# ---------------------------------------------------------------------------


def _erode(mask: np.ndarray, k: int) -> np.ndarray:
    pad = k // 2
    m = np.pad(mask, pad, mode="constant", constant_values=1)  # cv2: +inf border
    out = np.ones_like(mask)
    for dy in range(k):
        for dx in range(k):
            out &= m[dy : dy + mask.shape[0], dx : dx + mask.shape[1]]
    return out


def _dilate(mask: np.ndarray, k: int) -> np.ndarray:
    pad = k // 2
    m = np.pad(mask, pad, mode="constant", constant_values=0)  # cv2: -inf border
    out = np.zeros_like(mask)
    for dy in range(k):
        for dx in range(k):
            out |= m[dy : dy + mask.shape[0], dx : dx + mask.shape[1]]
    return out


def morphology_open_close(mask: np.ndarray) -> np.ndarray:
    """MORPH_OPEN 3×3 ones then MORPH_CLOSE 5×5 ones
    (`region_growing.py:94-96`), binary masks."""
    m = (mask > 0).astype(np.uint8)
    m = _dilate(_erode(m, 3), 3)  # open
    m = _erode(_dilate(m, 5), 5)  # close
    return m


# ---------------------------------------------------------------------------
# Sobel + Butterworth + SSIM + BF-score (SURVEY X13-X15)
# ---------------------------------------------------------------------------

_SOBEL_X = np.array([[-1, 0, 1], [-2, 0, 2], [-1, 0, 1]], dtype=np.float64)


def sobel_magnitude(img: np.ndarray) -> np.ndarray:
    """Gradient magnitude with 3×3 Sobel kernels (CV_64F, reflect-101
    borders like cv2.Sobel defaults)."""
    a = img.astype(np.float64)
    ap = np.pad(a, 1, mode="reflect")
    gx = np.zeros_like(a)
    gy = np.zeros_like(a)
    for dy in range(3):
        for dx in range(3):
            sl = ap[dy : dy + a.shape[0], dx : dx + a.shape[1]]
            gx += _SOBEL_X[dy, dx] * sl
            gy += _SOBEL_X[dx, dy] * sl
    return np.sqrt(gx**2 + gy**2)


def butterworth_filter(
    image: np.ndarray,
    cutoff_frequency: float = 30,
    order: int = 2,
    high_pass: bool = True,
) -> np.ndarray:
    """Frequency-domain Butterworth filter, exact contract of
    `advanced_metrics.py:24-47`: FFT2 → shift → H → inverse → |.| →
    min-max rescale to uint8."""
    if image.ndim == 3:
        image = to_grayscale(image)
    rows, cols = image.shape
    crow, ccol = rows // 2, cols // 2
    u, v = np.meshgrid(np.arange(rows), np.arange(cols), indexing="ij")
    u = u - crow
    v = v - ccol
    d = np.sqrt(u**2 + v**2)
    if high_pass:
        h = 1 / (1 + (cutoff_frequency / (d + 1e-8)) ** (2 * order))
    else:
        h = 1 / (1 + (d / (cutoff_frequency + 1e-8)) ** (2 * order))
    f = np.fft.fftshift(np.fft.fft2(image))
    filtered = np.abs(np.fft.ifft2(np.fft.ifftshift(f * h)))
    denom = max(filtered.max() - filtered.min(), 1e-6)
    filtered = (filtered - filtered.min()) / denom * 255
    return filtered.astype(np.uint8)


def ssim(image1: np.ndarray, image2: np.ndarray) -> float:
    """SSIM with skimage defaults (`advanced_metrics.py:7-21`): grayscale
    both, resize img2 to img1's shape (nearest), rescale non-uint8 by
    ÷max·255, then windowed SSIM (uniform 7×7, K1=.01, K2=.03,
    data_range=255, unbiased covariance, border-cropped mean)."""
    if image1.ndim == 3:
        image1 = to_grayscale(image1)
    if image2.ndim == 3:
        image2 = to_grayscale(image2)
    if image1.shape != image2.shape:
        image2 = _resize_nearest(image2, image1.shape)
    if image1.dtype != np.uint8:
        imax = max(float(image1.max()), 1e-6)
        image1 = (image1 / imax * 255).astype(np.uint8)
    if image2.dtype != np.uint8:
        imax = max(float(image2.max()), 1e-6)
        image2 = (image2 / imax * 255).astype(np.uint8)
    return float(ssim_map(image1, image2).mean())


def ssim_map(image1: np.ndarray, image2: np.ndarray) -> np.ndarray:
    """The per-window SSIM map behind :func:`ssim` (uint8 inputs, same
    shape): one value per valid 7×7 window position, border-cropped.

    All window sums are integer-valued (inputs ≤255, 49 terms) so the
    float64 cumsums are EXACT — every map value is a deterministic
    scalar expression of exact integers, reproducible bit-for-bit by
    any engine that evaluates the same double-precision DAG (the basis
    of the ``ssim_window_map`` DuckDB oracle)."""
    win = 7
    x = image1.astype(np.float64)
    y = image2.astype(np.float64)

    def _win_mean(a: np.ndarray) -> np.ndarray:
        c = np.cumsum(np.cumsum(np.pad(a, ((1, 0), (1, 0))), axis=0), axis=1)
        s = (
            c[win:, win:]
            - c[:-win, win:]
            - c[win:, :-win]
            + c[:-win, :-win]
        )
        return s / (win * win)

    ux, uy = _win_mean(x), _win_mean(y)
    uxx, uyy, uxy = _win_mean(x * x), _win_mean(y * y), _win_mean(x * y)
    np_ = win * win
    cov_norm = np_ / (np_ - 1.0)
    vx = cov_norm * (uxx - ux * ux)
    vy = cov_norm * (uyy - uy * uy)
    vxy = cov_norm * (uxy - ux * uy)
    c1 = (0.01 * 255) ** 2
    c2 = (0.03 * 255) ** 2
    return ((2 * ux * uy + c1) * (2 * vxy + c2)) / (
        (ux * ux + uy * uy + c1) * (vx + vy + c2)
    )


def _resize_nearest(img: np.ndarray, shape: tuple[int, int]) -> np.ndarray:
    h, w = shape
    ys = (np.arange(h) * img.shape[0] / h).astype(int)
    xs = (np.arange(w) * img.shape[1] / w).astype(int)
    return img[np.ix_(ys, xs)]


def bf_score(
    segmented_image: np.ndarray,
    ground_truth: np.ndarray | None = None,
    cutoff_frequency: float = 30,
    order: int = 2,
) -> float:
    """Boundary-F score, per the bytecode-recovered spec of the truncated
    `advanced_metrics.py:50-54` (SURVEY §2.9 X15): binarize×255 → Sobel
    magnitude → ÷max·255 → Butterworth high-pass; with GT: SSIM of the
    two filtered edge maps; without: sum(filtered)/(size·255)."""

    def _edges(img: np.ndarray) -> np.ndarray:
        if img.dtype != np.uint8:
            img = (img > 0).astype(np.uint8) * 255
        else:
            img = (img > 0).astype(np.uint8) * 255
        mag = sobel_magnitude(img)
        mag = mag / max(mag.max(), 1e-6) * 255
        return butterworth_filter(
            mag.astype(np.uint8), cutoff_frequency, order, high_pass=True
        )

    fe = _edges(segmented_image)
    if ground_truth is not None:
        return ssim(fe, _edges(ground_truth))
    return float(fe.sum()) / (fe.size * 255.0)


def overlay_segmentation(
    original_image: np.ndarray,
    segmentation_mask: np.ndarray,
    overlay_color: tuple[int, int, int] = (255, 0, 0),
    alpha: float = 0.5,
) -> np.ndarray:
    """Presentation overlay (SURVEY X12, `utils.py:39-84`): color mask
    pixels, alpha-blend onto the RGB image, draw the boundary in the
    overlay color. Vectorized (the reference loops per pixel at
    `utils.py:72-73` — one of its documented hot spots); boundary via
    mask − erode(mask) instead of cv2 contour tracing."""
    if original_image.ndim == 2:
        rgb = np.stack([original_image] * 3, axis=-1)
    else:
        rgb = original_image.copy()
    rgb = rgb.astype(np.float64)
    m = segmentation_mask == 1
    color = np.array(overlay_color, dtype=np.float64)
    # cv2.addWeighted(rgb, 1, overlay, alpha, 0) = rgb + alpha·overlay, saturated
    rgb[m] = np.clip(rgb[m] + alpha * color, 0, 255)
    boundary = (m & ~_erode(m.astype(np.uint8), 3).astype(bool))
    rgb[boundary] = color
    return rgb.astype(np.uint8)


# ---------------------------------------------------------------------------
# Seeded dummy ground truth (SURVEY X16, pyc-only in the reference)
# ---------------------------------------------------------------------------


def generate_dummy_ground_truth(
    mask: np.ndarray, variation_factor: float = 0.3, seed: int = 42
) -> np.ndarray:
    """Perturbed pseudo-GT from a mask — the reference's mock-data
    generator (pyc-recovered, SURVEY §2.9 X16): kernel =
    max(3, int(min(shape)·vf·0.1)); coin-flip dilate-vs-erode one
    iteration. The contour-point jitter step needs cv2 contour tracing
    and is replaced by a seeded boundary flip (documented deviation);
    RNG is explicitly seeded for test determinism (the original used
    global np.random)."""
    rng = np.random.RandomState(seed)
    m = (mask > 0).astype(np.uint8)
    k = max(3, int(min(mask.shape) * variation_factor * 0.1))
    if k % 2 == 0:
        k += 1
    m2 = _dilate(m, k) if rng.rand() > 0.5 else _erode(m, k)
    # jitter ≈30% of boundary pixels (flip them) instead of contour-point
    # displacement
    boundary = m2 & ~_erode(m2, 3)
    ys, xs = np.nonzero(boundary)
    if len(ys):
        n = int(len(ys) * 0.3)
        idx = rng.choice(len(ys), size=n, replace=False)
        jy = rng.randint(-3, 4, size=n)
        jx = rng.randint(-3, 4, size=n)
        ny = np.clip(ys[idx] + jy, 0, m2.shape[0] - 1)
        nx = np.clip(xs[idx] + jx, 0, m2.shape[1] - 1)
        m2[ny, nx] = 1
    return m2


# ---------------------------------------------------------------------------
# Region growing (SURVEY G1/G2) — faithful BFS + uncapped vectorized
# ---------------------------------------------------------------------------

_OFFSETS_4 = [(-1, 0), (0, 1), (1, 0), (0, -1)]
_OFFSETS_8 = [(-1, 0), (-1, 1), (0, 1), (1, 1), (1, 0), (1, -1), (0, -1), (-1, -1)]


def region_growing_np(
    image: np.ndarray,
    seed_point: tuple[int, int],
    threshold: float = 0.1,
    connectivity: int = 8,
    max_iterations: int | None = 100,
    morphology: bool = True,
) -> np.ndarray:
    """BFS flood fill from seed (`region_growing.py:6-98`): admit a
    neighbor iff |v/255 − seed_v/255| ≤ threshold (vs the FIXED seed).

    max_iterations counts DEQUEUED pixels (the reference's quirk at
    `region_growing.py:67` — default 100 silently truncates big regions);
    None → uncapped, computed by vectorized frontier expansion (same
    result as BFS-to-exhaustion, order-free).
    """
    if image.ndim == 3 and image.shape[2] > 1:
        image = to_grayscale(image)
    h, w = image.shape
    sy, sx = seed_point
    if sy < 0 or sy >= h or sx < 0 or sx >= w:
        raise ValueError(
            f"Seed point {seed_point} is outside image bounds ({h}x{w})"
        )
    seed_norm = float(image[sy, sx]) / 255.0
    norm = image.astype(np.float32) / 255.0
    admissible = np.abs(norm - seed_norm) <= threshold
    offsets = _OFFSETS_4 if connectivity == 4 else _OFFSETS_8
    mask = np.zeros((h, w), dtype=np.uint8)
    mask[sy, sx] = 1

    if max_iterations is None:
        # vectorized frontier BFS — identical final set, no cap semantics
        frontier = mask.astype(bool)
        region = frontier.copy()
        while frontier.any():
            nxt = np.zeros_like(frontier)
            for dy, dx in offsets:
                shifted = np.zeros_like(frontier)
                ys0, ys1 = max(dy, 0), h + min(dy, 0)
                xs0, xs1 = max(dx, 0), w + min(dx, 0)
                shifted[ys0:ys1, xs0:xs1] = frontier[
                    ys0 - dy : ys1 - dy, xs0 - dx : xs1 - dx
                ]
                nxt |= shifted
            frontier = nxt & admissible & ~region
            region |= frontier
        mask = region.astype(np.uint8)
    else:
        from collections import deque

        queue: deque[tuple[int, int]] = deque()
        queue.append((sy, sx))
        iterations = 0
        while queue and iterations < max_iterations:
            cy, cx = queue.popleft()
            for dy, dx in offsets:
                ny, nx = cy + dy, cx + dx
                if ny < 0 or ny >= h or nx < 0 or nx >= w:
                    continue
                if mask[ny, nx] == 1:
                    continue
                if admissible[ny, nx]:
                    mask[ny, nx] = 1
                    queue.append((ny, nx))
            iterations += 1

    if morphology:
        mask = morphology_open_close(mask)
    return mask


def region_growing_adaptive_np(
    image: np.ndarray,
    seed_point: tuple[int, int],
    initial_threshold: float = 0.1,
    max_threshold: float = 0.3,
    connectivity: int = 8,
    max_iterations: int = 100,
) -> tuple[np.ndarray, float]:
    """Adaptive wrapper (`region_growing.py:100-147`): +0.05 while region
    < 0.5% of pixels; reset and −0.01 while > 30%. Returns (mask, final
    threshold)."""
    min_size = image.shape[0] * image.shape[1] * 0.005
    max_size = image.shape[0] * image.shape[1] * 0.3
    t = initial_threshold
    mask = region_growing_np(image, seed_point, t, connectivity, max_iterations)
    size = mask.sum()
    while size < min_size and t < max_threshold:
        t += 0.05
        mask = region_growing_np(image, seed_point, t, connectivity, max_iterations)
        size = mask.sum()
    if size > max_size:
        t = initial_threshold
        while size > max_size and t > 0.01:
            t -= 0.01
            mask = region_growing_np(
                image, seed_point, t, connectivity, max_iterations
            )
            size = mask.sum()
    return mask, t
