"""Multimodal columns (north star, SURVEY N*): image/audio/video as
opaque ``binary`` columns with typed metadata, processed by Arrow-batched
pandas UDFs.

The pattern at 100 TB: blobs ride in parquet binary columns (or
references to object storage), metadata columns drive partition pruning,
and each modality's decode/feature stage is a ``mapInPandas`` over the
binary column — the blob never leaves the executor, only features come
back.

- **Images** are REAL end-to-end here: grid images → PNG-encode into a
  binary column (+ metadata) → a second Arrow stage decodes and extracts
  features. Two stages on purpose: stage 1 materializes the multimodal
  table shape, stage 2 is the consumer any downstream pipeline would run.
- **Audio/Video** are real too: RIFF/WAV PCM (`sources/wav.py`) and
  MJPEG over the repo's baseline JPEG codec (`sources/mjpeg.py`);
  ``codec=`` stays injectable so tests can exercise failure paths.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from . import _pinned_sql as _pinned
from ..functions.imaging import sobel_magnitude, to_grayscale
from ..sources.image_io import decode_image
from ..sources.mjpeg import decode_mjpeg_frames, encode_mjpeg
from ..sources.png import encode_png
from ..sources.wav import decode_wav, encode_wav
from .segmentation import GRID, _GRID_SQL, grid_images_df, map_grid_images

IMAGE_TABLE_SCHEMA = (
    "image_id int, format string, width int, height int, n_bytes long,"
    " payload binary"
)


def images_as_binary_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage 1: the multimodal image table — (metadata…, payload binary),
    PNG-encoded per image inside the packed-grid Arrow stage."""

    def encode(_, img):
        payload = encode_png(img)
        return [("png", GRID, GRID, len(payload), payload)]

    return map_grid_images(
        grid_images_df(spark, sf_dir), encode, IMAGE_TABLE_SCHEMA
    )


def image_features_df(df: DataFrame) -> DataFrame:
    """Feature stage over any (image_id, payload binary) table: decode
    (magic-byte dispatch — PNG/BMP/JPEG/TIFF all work), grayscale if
    needed, then mean/std/edge-energy/thumbnail features. One fused
    Arrow stage per batch of blobs, mirroring the ETL DoFn fusion.

    Deterministic formulations (the imaging_udf_stats tie-safety
    doctrine): mean/std/thumbnails come from EXACT integer pixel sums
    (< 2^53, lossless in float64) through a fixed double DAG, and edge
    energy is Σ floor(|∇|·1e6) per pixel as a BIGINT — integer Sobel
    gradients (reflect-101 borders, same as functions/imaging
    sobel_magnitude), one sqrt and one multiply per pixel, then an
    order-independent integer sum. Every output is bit-reproducible on
    any engine that replays the same algebra."""

    def features(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                # magic-byte dispatch: PNG/BMP/JPEG/TIFF payloads all work
                img = decode_image(bytes(r.payload))
                if img.ndim == 3:
                    img = to_grayscale(img)
                a = img.astype(np.int64)
                n = float(a.size)
                sx = int(a.sum())
                sxx = int((a * a).sum())
                mean = sx / n
                std = float(np.sqrt(sxx / n - mean * mean))
                ap = np.pad(a, 1, mode="reflect")
                gx = (
                    ap[0:-2, 2:] + 2 * ap[1:-1, 2:] + ap[2:, 2:]
                    - ap[0:-2, 0:-2] - 2 * ap[1:-1, 0:-2] - ap[2:, 0:-2]
                )
                gy = (
                    ap[2:, 0:-2] + 2 * ap[2:, 1:-1] + ap[2:, 2:]
                    - ap[0:-2, 0:-2] - 2 * ap[0:-2, 1:-1] - ap[0:-2, 2:]
                )
                mag = np.sqrt((gx * gx + gy * gy).astype(np.float64))
                em = int(np.floor(mag * 1e6).astype(np.int64).sum())
                h = a.shape[0] // 2
                rows.append(
                    {
                        "image_id": int(r.image_id),
                        "mean_v": mean,
                        "std_v": std,
                        "edge_energy_micro": em,
                        "thumb_tl": a[:h, :h].sum() / float(h * h),
                        "thumb_br": a[h:, h:].sum() / float(h * h),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "image_id", "mean_v", "std_v", "edge_energy_micro",
                    "thumb_tl", "thumb_br",
                ],
            )

    return df.mapInPandas(
        features,
        schema="image_id int, mean_v double, std_v double,"
        " edge_energy_micro long, thumb_tl double, thumb_br double",
    )


# Sobel contribution weights per neighbor offset (dy, dx) → (wx, wy);
# wx = SOBEL_X[dy+1][dx+1], wy is the transpose — mirrors
# functions/imaging.sobel_magnitude exactly, reflect-101 borders.
_IMG_FEATURES_ORACLE = f"""
    WITH g AS ({_GRID_SQL}),
    off(dy, dx, wx, wy) AS (VALUES
      (-1,-1,-1,-1), (-1,0,0,-2), (-1,1,1,-1),
      ( 0,-1,-2, 0), ( 0,0,0, 0), ( 0,1,2, 0),
      ( 1,-1,-1, 1), ( 1,0,0, 2), ( 1,1,1, 1)),
    grad AS (
      SELECT t.image_id, t.y, t.x,
             sum(s.v * o.wx) AS gx, sum(s.v * o.wy) AS gy
      FROM g t
      CROSS JOIN off o
      JOIN g s ON s.image_id = t.image_id
        AND s.y = CASE WHEN t.y + o.dy = -1 THEN 1
                       WHEN t.y + o.dy = 32 THEN 30
                       ELSE t.y + o.dy END
        AND s.x = CASE WHEN t.x + o.dx = -1 THEN 1
                       WHEN t.x + o.dx = 32 THEN 30
                       ELSE t.x + o.dx END
      GROUP BY t.image_id, t.y, t.x
    ),
    edge AS (
      SELECT image_id,
             CAST(sum(CAST(floor(sqrt(CAST(gx*gx + gy*gy AS DOUBLE)) * 1e6)
                      AS BIGINT)) AS BIGINT) AS edge_energy_micro
      FROM grad GROUP BY image_id
    ),
    stats AS (
      SELECT image_id,
             CAST(sum(v) AS DOUBLE) / 1024.0 AS mean_v,
             sqrt(CAST(sum(v*v) AS DOUBLE) / 1024.0
                  - (CAST(sum(v) AS DOUBLE) / 1024.0)
                    * (CAST(sum(v) AS DOUBLE) / 1024.0)) AS std_v,
             CAST(sum(CASE WHEN y < 16 AND x < 16 THEN v ELSE 0 END)
                  AS DOUBLE) / 256.0 AS thumb_tl,
             CAST(sum(CASE WHEN y >= 16 AND x >= 16 THEN v ELSE 0 END)
                  AS DOUBLE) / 256.0 AS thumb_br
      FROM g GROUP BY image_id
    )
    SELECT s.image_id, s.mean_v, s.std_v, e.edge_energy_micro,
           s.thumb_tl, s.thumb_br
    FROM stats s JOIN edge e ON e.image_id = s.image_id
"""


@register(
    "multimodal_image_features",
    # The oracle rebuilds the pixels relationally (never touching PNG)
    # and recomputes all five features, Sobel included, via a 9-neighbor
    # self-join — a hash match certifies the PNG encode→decode round
    # trip AND the numpy gradient algebra bit-for-bit (the image
    # counterpart of the audio byte-recompute oracle).
    oracle=_IMG_FEATURES_ORACLE,
    tags=("multimodal", "udf"),
)
def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage 2: decode the binary column and extract features — the
    registered composition of the two stages, hash-checked against a
    relational recompute of every feature from the pixel relation."""
    return image_features_df(images_as_binary_table(spark, sf_dir))


# ---------------------------------------------------------------------------
# Audio / video: REAL codecs — RIFF/WAV PCM and MJPEG (concatenated
# baseline JPEG), both owned by this repo (sources/wav.py, sources/
# mjpeg.py). The former stubs are gone; ``codec=`` stays injectable for
# plumbing tests.
# ---------------------------------------------------------------------------


def decode_audio(payload: bytes, codec=None) -> tuple[np.ndarray, int]:
    """Audio blob → (int16 samples shaped (n, channels), sample_rate).

    Default codec is the repo's own RIFF/WAV PCM parser
    (`sources/wav.py` — u8/s16/s24/float32). A custom ``codec`` may be
    injected and must follow the same return contract."""
    if codec is None:
        return decode_wav(payload)
    return codec(payload)


def decode_video_frames(payload: bytes, every_nth: int = 10, codec=None):
    """Video blob → list of (frame_idx, 2-D/3-D pixel array) for every
    Nth frame. Default codec is the repo's MJPEG container over its own
    baseline JPEG decoder (`sources/mjpeg.py`): boundaries are found by
    marker scan, so only SAMPLED frames pay entropy decode."""
    if codec is None:
        return list(decode_mjpeg_frames(payload, every_nth=every_nth))
    frames = codec(payload)
    return [(i * every_nth, f) for i, f in enumerate(frames[::every_nth])]


def audio_features_df(df: DataFrame, codec=None) -> DataFrame:
    """(key, payload binary) → per-blob audio features via mapInPandas —
    the multimodal consumer stage. Real WAV path by default."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                samples, rate = decode_audio(bytes(r.payload), codec=codec)
                flat = samples.astype(np.int64).reshape(-1)
                # widen before abs: |int16 -32768| overflows int16
                # No rounding on rms/duration: every intermediate sum is
                # an exact integer < 2^53 in float64, so mean+sqrt are
                # single correctly-rounded IEEE ops — bit-identical to
                # the oracle's recompute regardless of accumulation
                # order, with no decimal-tie exposure.
                rms = float(np.sqrt(np.mean(flat.astype(np.float64) ** 2)))
                rows.append(
                    {
                        "key": int(r.key),
                        "n_samples": int(samples.shape[0]),
                        "n_channels": int(samples.shape[1]),
                        "sample_rate": int(rate),
                        "duration_ms": 1000.0 * samples.shape[0] / rate,
                        "rms": rms,
                        "peak": int(np.abs(flat).max()) if len(flat) else 0,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "key", "n_samples", "n_channels", "sample_rate",
                    "duration_ms", "rms", "peak",
                ],
            )

    return df.mapInPandas(
        feats,
        schema="key int, n_samples long, n_channels int, sample_rate int,"
        " duration_ms double, rms double, peak int",
    )


def video_frame_features_df(
    df: DataFrame, codec=None, every_nth: int = 10
) -> DataFrame:
    """(key, payload binary) → one row per SAMPLED frame (every_nth),
    with per-frame mean/std — the video consumer stage: frame sampling
    happens inside the executor (the blob never moves), and the fan-out
    to frames is a mapInPandas yielding multiple rows per blob. Real
    MJPEG path by default."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                for idx, fr in decode_video_frames(
                    bytes(r.payload), every_nth=every_nth, codec=codec
                ):
                    rows.append(
                        {
                            "key": int(r.key),
                            "frame_idx": idx,
                            "mean_v": round(float(fr.mean()), 6),
                            "std_v": round(float(fr.std()), 6),
                        }
                    )
            yield pd.DataFrame(
                rows, columns=["key", "frame_idx", "mean_v", "std_v"]
            )

    return df.mapInPandas(
        feats, schema="key int, frame_idx int, mean_v double, std_v double"
    )


def image_resize_df(
    spark: SparkSession, sf_dir: str, out_size: int = 8
) -> DataFrame:
    """Resize stage for the multimodal image table: decode → nearest-
    neighbor resize to (out_size, out_size) → re-encode. Same
    blob-stays-on-executor contract; the resized payload is the
    downstream-training-ready artifact."""
    from ..functions.imaging import _resize_nearest

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                img = decode_image(bytes(r.payload))
                if img.ndim == 3:
                    img = to_grayscale(img)
                small = _resize_nearest(img, (out_size, out_size))
                png = encode_png(small.astype(np.uint8))
                rows.append(
                    {
                        "image_id": int(r.image_id),
                        "format": "png",
                        "width": out_size,
                        "height": out_size,
                        "n_bytes": len(png),
                        "payload": png,
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "image_id", "format", "width", "height",
                    "n_bytes", "payload",
                ],
            )

    return images_as_binary_table(spark, sf_dir).mapInPandas(
        resize, schema=IMAGE_TABLE_SCHEMA
    )


def _doc_samples(text: bytes, cap: int = 2048) -> np.ndarray:
    """Deterministic int16 'waveform' from document bytes: the exact
    uint8→int16 range expansion (b·257 − 32768), capped for bound cost."""
    buf = np.frombuffer(text[:cap], dtype=np.uint8).astype(np.int32)
    return (buf * 257 - 32768).astype(np.int16)


def documents_as_wav_table(
    spark: SparkSession, sf_dir: str, limit: int = 100
) -> DataFrame:
    """Stage 1 of the audio surface: real RIFF/WAV PCM payloads in a
    binary column. Waveform bytes derive deterministically from document
    text; the sample rate cycles 8/12/16 kHz by doc_id so the decoder's
    rate handling is exercised, not just echoed."""
    from ..sources.fixtures import load_table as _t

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                key = int(r.doc_id)
                rate = 8000 + 4000 * (key % 3)
                wav = encode_wav(
                    _doc_samples(str(r.text).encode("utf-8")), rate
                )
                rows.append(
                    {"key": key, "n_bytes": len(wav), "payload": wav}
                )
            yield pd.DataFrame(rows, columns=["key", "n_bytes", "payload"])

    return (
        _t(spark, sf_dir, "documents")
        .filter(f"doc_id < {limit}")
        .select("doc_id", "text")
        .mapInPandas(encode, schema="key int, n_bytes long, payload binary")
    )


@register(
    "multimodal_audio_features",
    # The oracle recomputes every feature from the document BYTES in
    # DuckDB (hex expansion → per-byte PCM values), which proves the
    # WAV encode→decode round trip preserved the samples exactly: the
    # Spark side goes text → PCM → RIFF container → parse → features,
    # the oracle goes text → features directly. Hash-exact because all
    # sums are integers < 2^53 (see audio_features_df).
    oracle="""
    WITH raw AS (
      SELECT doc_id,
             substr(hex(encode(text)), 1, 4096) AS hx,
             8000 + 4000 * (doc_id % 3) AS rate
      FROM documents WHERE doc_id < 100
    ),
    b AS (
      SELECT doc_id, rate, strlen(hx) // 2 AS n,
             unnest(range(strlen(hx) // 2)) AS i, hx
      FROM raw
    ),
    v AS (
      SELECT doc_id, rate, n,
             ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT
               * 257 - 32768 AS s
      FROM b
    )
    SELECT CAST(doc_id AS INT) AS key,
           CAST(n AS BIGINT) AS n_samples,
           CAST(1 AS INT) AS n_channels,
           CAST(rate AS INT) AS sample_rate,
           1000.0 * n / rate AS duration_ms,
           sqrt(CAST(sum(s * s) AS DOUBLE) / count(*)) AS rms,
           CAST(max(abs(s)) AS INT) AS peak
    FROM v
    GROUP BY doc_id, n, rate
    """,
    tags=("multimodal", "audio", "udf"),
)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio surface end-to-end, REAL codec both directions: stage 1
    wraps deterministic PCM in genuine RIFF/WAV containers
    (sources/wav.py), stage 2 parses them back and computes sample
    count/channels/rate/duration/RMS/peak. Limited to 100 blobs: the
    point is the stage shape, not volume. The DuckDB oracle recomputes
    the features from the raw text bytes, so a hash match certifies the
    whole PCM round trip sample-exactly."""
    return audio_features_df(documents_as_wav_table(spark, sf_dir))


def documents_as_mjpeg_table(
    spark: SparkSession, sf_dir: str, limit: int = 25,
    n_frames: int = 12, side: int = 16,
) -> DataFrame:
    """Stage 1 of the video surface: real MJPEG payloads — ``n_frames``
    baseline JPEGs (encoded by sources/jpeg.py) concatenated per
    document. Frame f is a ``side``×``side`` gradient + text-byte
    texture, so per-frame stats differ and sampling is observable."""
    from ..sources.fixtures import load_table as _t

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                key = int(r.doc_id)
                text = str(r.text).encode("utf-8")[: side * side]
                tex = np.zeros(side * side, dtype=np.float64)
                tex[: len(text)] = np.frombuffer(text, dtype=np.uint8)
                tex = tex.reshape(side, side)
                ramp = np.linspace(0, 128, side)[None, :] + np.zeros((side, 1))
                frames = [
                    np.clip(ramp + tex * 0.5 + 8.0 * f, 0, 255).astype(np.uint8)
                    for f in range(n_frames)
                ]
                mj = encode_mjpeg(frames, quality=90)
                rows.append({"key": key, "n_bytes": len(mj), "payload": mj})
            yield pd.DataFrame(rows, columns=["key", "n_bytes", "payload"])

    return (
        _t(spark, sf_dir, "documents")
        .filter(f"doc_id < {limit}")
        .select("doc_id", "text")
        .mapInPandas(encode, schema="key int, n_bytes long, payload binary")
    )


@register(
    "multimodal_video_frame_sample",
    # JPEG is lossy, so frame stats cannot be recomputed from the source
    # bytes in SQL (unlike the audio path, whose PCM round trip is
    # sample-exact); the oracle is a frozen sf0.01 golden
    # (tools/pin_oracle.py) hash-checking the MJPEG split + entropy
    # decode + per-frame stats end to end.
    oracle=_pinned.MULTIMODAL_VIDEO_FRAME_SAMPLE_PINNED,
    tags=("multimodal", "video", "udf"),
    pinned_sf="sf0.01",
)
def multimodal_video_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video surface end-to-end, REAL codec both directions: stage 1
    builds 12-frame MJPEG payloads (the repo's baseline JPEG encoder),
    stage 2 marker-splits and entropy-decodes every 4th frame only —
    one output row per sampled frame with per-frame stats. The fan-out
    (1 blob → n frame rows) and decode-only-sampled-frames cost model
    are the 100 TB-relevant properties."""
    return video_frame_features_df(
        documents_as_mjpeg_table(spark, sf_dir), every_nth=4
    )


# --- spectral bands: integer fixed-point DFT (recomputing oracle) ----
#
# A spectrogram-style stage whose arithmetic is EXACT on both engines:
# per non-overlapping 64-sample window, the DFT real/imag parts at bins
# 1..4 via 7-bit fixed-point cos/sin tables (|C| ≤ 128 keeps re² + im²
# and the ≤32-window per-doc total inside BIGINT), energies summed per
# (doc, bin). Same doctrine as the pHash DCT: one Python-generated
# coefficient table feeds the numpy kernel AND the oracle VALUES list,
# so DuckDB replays the whole transform bit-for-bit from the raw
# document bytes — a stronger tier than a frozen golden, which FFT
# floats would force.
SPEC_WIN = 64
SPEC_BINS = (1, 2, 3, 4)
_SPEC_SCALE = 128
import math as _math

SPEC_COS = [
    [
        round(_math.cos(2 * _math.pi * k * i / SPEC_WIN) * _SPEC_SCALE)
        for i in range(SPEC_WIN)
    ]
    for k in SPEC_BINS
]
SPEC_SIN = [
    [
        round(_math.sin(2 * _math.pi * k * i / SPEC_WIN) * _SPEC_SCALE)
        for i in range(SPEC_WIN)
    ]
    for k in SPEC_BINS
]
_SPEC_COS_NP = np.array(SPEC_COS, dtype=np.int64)
_SPEC_SIN_NP = np.array(SPEC_SIN, dtype=np.int64)


def spectral_band_energy_np(samples: np.ndarray) -> list[int]:
    """Per-bin total energy over complete 64-sample windows (exact
    int64; incomplete tail window dropped on both engines)."""
    flat = samples.astype(np.int64).reshape(-1)
    n_win = len(flat) // SPEC_WIN
    if n_win == 0:
        return [0] * len(SPEC_BINS)
    w = flat[: n_win * SPEC_WIN].reshape(n_win, SPEC_WIN)
    re = w @ _SPEC_COS_NP.T  # (n_win, bins)
    im = w @ _SPEC_SIN_NP.T
    return [int(e) for e in (re * re + im * im).sum(axis=0)]


def _spec_coef_values_sql() -> str:
    rows = ", ".join(
        f"({k}, {i}, {c}, {s})"
        for bi, k in enumerate(SPEC_BINS)
        for i, (c, s) in enumerate(zip(SPEC_COS[bi], SPEC_SIN[bi]))
    )
    return f"(VALUES {rows}) AS coef(k, i, c, s)"


@register(
    "multimodal_audio_spectral_bands",
    # Recomputes the integer DFT from the document bytes: hex→PCM
    # expansion exactly as multimodal_audio_features, windowed by
    # sample index, joined against the shared coefficient table.
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, substr(hex(encode(text)), 1, 4096) AS hx
      FROM documents WHERE doc_id < 100
    ),
    v AS (
      SELECT doc_id,
             CAST(i // {SPEC_WIN} AS INT) AS w,
             CAST(i % {SPEC_WIN} AS INT) AS p,
             ('0x' || substr(hx, CAST(2 * i + 1 AS INT), 2))::BIGINT
               * 257 - 32768 AS s
      FROM (SELECT doc_id, hx, strlen(hx) // 2 AS n,
                   unnest(range(strlen(hx) // 2)) AS i
            FROM raw)
      WHERE i < (n // {SPEC_WIN}) * {SPEC_WIN}
    ),
    parts AS (
      SELECT doc_id, w, coef.k AS bin,
             CAST(sum(v.s * coef.c) AS BIGINT) AS re,
             CAST(sum(v.s * coef.s) AS BIGINT) AS im
      FROM v JOIN {_spec_coef_values_sql()} ON coef.i = v.p
      GROUP BY doc_id, w, coef.k
    ),
    agg AS (
      SELECT doc_id, bin,
             CAST(sum(re * re + im * im) AS BIGINT) AS energy
      FROM parts GROUP BY doc_id, bin
    ),
    spine AS (
      SELECT doc_id, unnest(ARRAY{list(SPEC_BINS)}) AS bin
      FROM (SELECT DISTINCT doc_id FROM raw)
    )
    SELECT CAST(spine.doc_id AS INT) AS key,
           CAST(spine.bin AS INT) AS bin,
           coalesce(agg.energy, 0) AS energy
    FROM spine LEFT JOIN agg
      ON agg.doc_id = spine.doc_id AND agg.bin = spine.bin
    """,
    tags=("multimodal", "audio", "udf", "spectral"),
)
def multimodal_audio_spectral_bands(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Spectral band energies over the WAV payload column: decode the
    RIFF container, window the PCM stream, apply the fixed-point DFT,
    and emit one (key, bin, energy) row per document and frequency bin.
    The DuckDB oracle recomputes the identical transform from the raw
    text bytes, so a hash match certifies container round trip AND
    transform together — the spectrogram stage shape with an exact
    recomputing oracle instead of a frozen golden."""
    wav = documents_as_wav_table(spark, sf_dir)

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                samples, _rate = decode_audio(bytes(r.payload))
                energies = spectral_band_energy_np(samples)
                for k, e in zip(SPEC_BINS, energies):
                    rows.append(
                        {"key": int(r.key), "bin": int(k), "energy": e}
                    )
            yield pd.DataFrame(rows, columns=["key", "bin", "energy"])

    return wav.mapInPandas(feats, schema="key int, bin int, energy long")


# --- shot-boundary detection over a LOSSLESS frame container ----------
#
# The MJPEG path can't have a recomputing oracle (JPEG is lossy), so the
# video family's exact tier rides PNG: frames are integer-generated from
# the document text, PNG-encoded (sources/png.py) into a length-prefixed
# container, split + decoded back on the consumer side — and because the
# codec round-trips bit-exactly, DuckDB can recompute every decoded
# pixel straight from documents.text and replay the whole shot-boundary
# analysis. Same doctrine as the WAV/PCM audio path (multimodal_audio_
# features), now for video.
VID_SIDE = 16
VID_FRAMES = 12
VID_SCENE_LEN = 4  # scene id = f // 4; odd scenes carry a +96 offset
VID_BOUNDARY_THRESHOLD = VID_SIDE * VID_SIDE * 32  # mean |Δ| > 32


def _vid_frame_np(text_bytes: bytes, f: int) -> np.ndarray:
    """Frame f: integer ramp + half text-byte texture + 8·f brightness
    drift + a 96-level jump on odd scenes, clipped at 255 — integers
    end to end so SQL replays it exactly."""
    side = VID_SIDE
    tex = np.zeros(side * side, dtype=np.int64)
    tb = text_bytes[: side * side]
    tex[: len(tb)] = np.frombuffer(tb, dtype=np.uint8)
    tex = tex // 2
    ramp = (8 * np.arange(side, dtype=np.int64))[None, :]
    scene = 96 if (f // VID_SCENE_LEN) % 2 == 1 else 0
    pix = ramp + tex.reshape(side, side) + 8 * f + scene
    return np.minimum(pix, 255).astype(np.uint8)


def documents_as_png_video_table(
    spark: SparkSession, sf_dir: str, limit: int = 25
) -> DataFrame:
    """Stage 1: per document, VID_FRAMES PNG frames in a length-prefixed
    container (4-byte big-endian size + PNG bytes per frame — the
    simplest self-describing concatenation; PNG's own signature can
    legally appear inside compressed data, so framing is explicit)."""
    from ..sources.fixtures import load_table as _t
    from ..sources.png import encode_png

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                tb = str(r.text).encode("utf-8")
                parts = []
                for f in range(VID_FRAMES):
                    png = encode_png(_vid_frame_np(tb, f))
                    parts.append(len(png).to_bytes(4, "big") + png)
                payload = b"".join(parts)
                rows.append(
                    {
                        "key": int(r.doc_id),
                        "n_bytes": len(payload),
                        "payload": payload,
                    }
                )
            yield pd.DataFrame(rows, columns=["key", "n_bytes", "payload"])

    return (
        _t(spark, sf_dir, "documents")
        .filter(f"doc_id < {limit}")
        .select("doc_id", "text")
        .mapInPandas(encode, schema="key int, n_bytes long, payload binary")
    )


def _split_png_container(payload: bytes) -> list[bytes]:
    out, off = [], 0
    while off + 4 <= len(payload):
        n = int.from_bytes(payload[off : off + 4], "big")
        out.append(payload[off + 4 : off + 4 + n])
        off += 4 + n
    return out


@register(
    "video_shot_boundaries",
    oracle=f"""
    WITH hx AS (
      SELECT doc_id, hex(encode(text)) AS h,
             octet_length(encode(text)) AS n_bytes
      FROM documents WHERE doc_id < 25
    ),
    grid AS (
      SELECT doc_id, f.f, i.i, j.j,
             least(8 * j.j
               + CASE WHEN i.i * {VID_SIDE} + j.j < n_bytes
                      THEN ('0x' || substr(h, 2 * (i.i * {VID_SIDE} + j.j) + 1,
                                           2))::BIGINT // 2
                      ELSE 0 END
               + 8 * f.f
               + CASE WHEN (f.f // {VID_SCENE_LEN}) % 2 = 1 THEN 96
                      ELSE 0 END,
               255) AS pix
      FROM hx
      CROSS JOIN (SELECT unnest(range({VID_FRAMES})) AS f) f
      CROSS JOIN (SELECT unnest(range({VID_SIDE})) AS i) i
      CROSS JOIN (SELECT unnest(range({VID_SIDE})) AS j) j
    ),
    diffs AS (
      SELECT a.doc_id, a.f AS transition,
             CAST(sum(abs(b.pix - a.pix)) AS BIGINT) AS abs_diff
      FROM grid a
      JOIN grid b ON b.doc_id = a.doc_id AND b.f = a.f + 1
                 AND b.i = a.i AND b.j = a.j
      GROUP BY a.doc_id, a.f
    )
    SELECT doc_id AS key,
           CAST({VID_FRAMES} AS BIGINT) AS n_frames,
           CAST(1 + sum(CASE WHEN abs_diff > {VID_BOUNDARY_THRESHOLD}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_shots,
           CAST(sum(abs_diff) AS BIGINT) AS total_abs_diff,
           CAST(max(abs_diff) AS BIGINT) AS max_transition_diff
    FROM diffs
    GROUP BY doc_id
    ORDER BY key
    """,
    tags=("multimodal", "video", "udf", "evaluation"),
)
def video_shot_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection — the first video operator with a full
    RECOMPUTING oracle: stage 1 encodes per-document frame sequences
    through the repo's REAL PNG codec into a length-prefixed container;
    stage 2 splits the container, decodes every frame, and flags a shot
    cut wherever the inter-frame sum of absolute pixel differences
    exceeds a mean-|Δ|>32 threshold (scene jumps are +96, drift +8, so
    the margin is wide). Because PNG round-trips losslessly, DuckDB
    recomputes the DECODED pixels straight from documents.text (hex
    byte algebra + generated frame/row/col grids) and replays the
    entire detection — the lossless-codec upgrade of the frozen-golden
    MJPEG path, mirroring what WAV/PCM did for audio. Scale shape: the
    blob never moves (decode + diff inside one mapInPandas), one row
    per video out."""
    from ..sources.png import decode_png

    vids = documents_as_png_video_table(spark, sf_dir)

    def detect(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                frames = [
                    decode_png(fb).astype(np.int64)
                    for fb in _split_png_container(bytes(r.payload))
                ]
                diffs = [
                    int(np.abs(b - a).sum())
                    for a, b in zip(frames, frames[1:])
                ]
                n_shots = 1 + sum(
                    1 for d in diffs if d > VID_BOUNDARY_THRESHOLD
                )
                rows.append(
                    {
                        "key": int(r.key),
                        "n_frames": len(frames),
                        "n_shots": n_shots,
                        "total_abs_diff": sum(diffs),
                        "max_transition_diff": max(diffs),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "key",
                    "n_frames",
                    "n_shots",
                    "total_abs_diff",
                    "max_transition_diff",
                ],
            )

    return vids.mapInPandas(
        detect,
        schema=(
            "key int, n_frames long, n_shots long, "
            "total_abs_diff long, max_transition_diff long"
        ),
    ).orderBy("key")
