"""Perceptual-hash (pHash) image near-dup detection — multimodal dedup.

The reference compares images only pairwise and pixel-exactly (SSIM,
Dice — `/root/reference/advanced_metrics.py:1-30`,
`/root/reference/evaluation.py:60-90`); a training-data pipeline needs
corpus-wide NEAR-duplicate detection for images, robust to small pixel
perturbations. The standard tool is the DCT perceptual hash: a 64-bit
signature whose Hamming distance tracks visual similarity, deduped at
scale by banded self-join exactly like SimHash for text
(`dedup.py` simhash family).

Fixed-point doctrine (SCALE.md): the 2-D DCT uses an INTEGER coefficient
matrix (cos values scaled by 2^14 and rounded once, at import, into both
the numpy kernel and the oracle's VALUES table), so every intermediate
is exact BIGINT arithmetic — Spark's Arrow/numpy path and DuckDB's SQL
replay agree bit-for-bit, with no float-accumulation-order hash risk.

Spark shape (the 100 TB plan):
- images ride as PNG payloads in a binary column (multimodal table
  shape, `multimodal.py`); one ``mapInPandas`` stage decodes and emits
  4×16-bit hash bands per image — blobs never leave the executor, only
  8 bytes of signature come back;
- candidate pairs come from a self-equi-join on (band_index, band_value)
  — cost ∝ bucket occupancy, never all-pairs (pigeonhole: Hamming ≤ 3
  guarantees a shared band; larger distances are best-effort recall,
  same contract as ``simhash_hamming_pairs``);
- the verify stage is a pure-codegen ``bit_count(a ^ b)`` over the
  four bands.

The oracle replays the whole chain relationally from the deterministic
grid-pixel relation (`segmentation._GRID_SQL`): block DCT as two
pixel⋈coefficient joins, the threshold as the 32nd order statistic, the
bands as bit sums — so a hash match certifies PNG encode → decode →
DCT → banding end-to-end.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..sources.image_io import decode_image
from ..sources.png import encode_png
from .segmentation import GRID, _GRID_SQL, grid_images_df, map_grid_images

#: DCT-II coefficients for the top 8 frequencies over a 32-sample axis,
#: fixed-point: COEF[u][i] = round(cos(pi*(2i+1)*u/64) * 2^14). The one
#: table feeds both the numpy kernel and the oracle VALUES list, so the
#: two sides cannot disagree. (Unnormalized DCT: per-row alpha(u)
#: scaling would not change any bit of the hash anyway — bits compare
#: coefficients against an order statistic of the same 64 values.)
DCT_SCALE = 1 << 14
COEF: list[list[int]] = [
    [
        round(math.cos(math.pi * (2 * i + 1) * u / (2 * GRID)) * DCT_SCALE)
        for i in range(GRID)
    ]
    for u in range(8)
]
_COEF_NP = np.array(COEF, dtype=np.int64)

#: pHash needs a pixel channel whose DCT has no exact-zero plateau: the
#: shared grid channel (o_orderkey·2654435761 mod 256) is so structured
#: that ~half the 64 DCT coefficients are exactly 0 == the threshold,
#: making the bits tie-unstable under any perturbation. md5 noise per
#: (image, y, x) has no such symmetry — measured: zero exact-zero
#: coefficients, and the lattice perturbation below flips ≤2 bits.
_V_SPARK = (
    "cast(conv(substring(md5(concat('ph', cast(image_id as string), '_',"
    " cast(y as string), '_', cast(x as string))), 1, 2), 16, 10) as int)"
)
_V_DUCK = (
    "('0x' || substr(md5('ph' || CAST(image_id AS VARCHAR) || '_'"
    " || CAST(y AS VARCHAR) || '_' || CAST(x AS VARCHAR)), 1, 2))::INT"
)

#: Perturbation for the synthetic near-dup variant of each grid image:
#: +8 on the sparse diagonal lattice (x+y) % 13 == 0 (≈79 of 1024
#: pixels) — visible energy, but the variant's hash stays within a
#: couple of bits of the original's.
_PERTURB_SQL = (
    "least(255, v + CASE WHEN (x + y) % 13 = 0 THEN 8 ELSE 0 END)"
)

_BANDS_SCHEMA = "pid int, b0 int, b1 int, b2 int, b3 int"


def phash_bands_np(img: np.ndarray) -> tuple[int, int, int, int]:
    """64-bit pHash of one grayscale GRID×GRID image as 4×16-bit bands.

    D = C·P·Cᵀ (top 8×8 of the 2-D DCT, exact int64); bit i (=u*8+w,
    row-major) is 1 iff D[u,w] strictly exceeds the 32nd-smallest of
    the 64 coefficients; band b packs bits 16b..16b+15 little-endian.
    """
    p = img.astype(np.int64)
    d = (_COEF_NP @ p @ _COEF_NP.T).reshape(-1)
    thr = np.sort(d)[31]
    bits = (d > thr).astype(np.int64)
    weights = np.int64(1) << np.arange(16, dtype=np.int64)
    return tuple(
        int((bits[b * 16 : (b + 1) * 16] * weights).sum()) for b in range(4)
    )


def phash_image_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The multimodal input: two PNG payloads per grid image —
    pid = 2·image_id (original) and 2·image_id+1 (perturbed variant)."""
    g = grid_images_df(spark, sf_dir).select(
        "image_id", "y", "x", F.expr(_V_SPARK).alias("v")
    )
    base = g.select(
        (F.col("image_id") * 2).alias("pid"), "y", "x", "v"
    )
    variant = g.select(
        (F.col("image_id") * 2 + 1).alias("pid"),
        "y",
        "x",
        F.expr(_PERTURB_SQL).alias("v"),
    )
    pix = base.unionByName(variant)

    def encode(_, img):
        return [(encode_png(img),)]

    return map_grid_images(pix, encode, "pid int, payload binary", key="pid")


def phash_bands_df(images: DataFrame) -> DataFrame:
    """payload → 4 hash bands, one Arrow stage; only 8 signature bytes
    per image leave the executor."""

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples():
                img = decode_image(bytes(r.payload))
                b0, b1, b2, b3 = phash_bands_np(img)
                rows.append(
                    {"pid": int(r.pid), "b0": b0, "b1": b1, "b2": b2, "b3": b3}
                )
            yield pd.DataFrame(rows)

    return images.mapInPandas(feats, _BANDS_SCHEMA)


def _coef_values_sql() -> str:
    rows = ", ".join(
        f"({u}, {i}, {c})"
        for u, row in enumerate(COEF)
        for i, c in enumerate(row)
    )
    return f"(VALUES {rows}) AS coef(u, i, c)"


#: Relational replay of phash_bands_np over a (pid, y, x, v) relation
#: named ``pix``: separable DCT as two join-aggregates, threshold as
#: the 32nd order statistic, bands as little-endian bit sums.
_ORACLE_BANDS = f"""
    m AS (
      SELECT pid, coef.u AS w, pix.y,
             CAST(sum(CAST(v AS BIGINT) * c) AS BIGINT) AS m
      FROM pix JOIN {_coef_values_sql()} ON coef.i = pix.x
      GROUP BY pid, coef.u, pix.y
    ),
    d AS (
      SELECT pid, coef.u AS u, m.w AS w,
             CAST(sum(m * c) AS BIGINT) AS d
      FROM m JOIN {_coef_values_sql()} ON coef.i = m.y
      GROUP BY pid, coef.u, m.w
    ),
    ranked AS (
      SELECT pid, u, w, d,
             row_number() OVER (PARTITION BY pid ORDER BY d, u, w) AS rk
      FROM d
    ),
    thr AS (SELECT pid, d AS thr FROM ranked WHERE rk = 32),
    bits AS (
      SELECT d.pid, (u * 8 + w) AS i,
             CASE WHEN d > thr THEN 1 ELSE 0 END AS bit
      FROM d JOIN thr ON d.pid = thr.pid
    ),
    bands AS (
      SELECT pid,
             CAST(sum(CASE WHEN i // 16 = 0 THEN bit * (1 << (i % 16)) ELSE 0 END) AS INT) AS b0,
             CAST(sum(CASE WHEN i // 16 = 1 THEN bit * (1 << (i % 16)) ELSE 0 END) AS INT) AS b1,
             CAST(sum(CASE WHEN i // 16 = 2 THEN bit * (1 << (i % 16)) ELSE 0 END) AS INT) AS b2,
             CAST(sum(CASE WHEN i // 16 = 3 THEN bit * (1 << (i % 16)) ELSE 0 END) AS INT) AS b3
      FROM bits GROUP BY pid
    )
"""

_ORACLE_PIX = f"""
    grid AS (SELECT image_id, y, x, {_V_DUCK} AS v FROM ({_GRID_SQL})),
    pix AS (
      SELECT image_id * 2 AS pid, y, x, v FROM grid
      UNION ALL
      SELECT image_id * 2 + 1 AS pid, y, x, {_PERTURB_SQL} FROM grid
    )
"""


@register(
    "phash_signatures",
    oracle=f"""
    WITH {_ORACLE_PIX}, {_ORACLE_BANDS}
    SELECT pid, b0, b1, b2, b3 FROM bands
    """,
    tags=("multimodal", "dedup", "phash", "udf"),
)
def phash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image 64-bit pHash as 4×16-bit bands, computed by decoding
    the PNG payload column (mapInPandas, exact int64 DCT). The oracle
    recomputes the identical bands relationally from the pixel
    relation — a hash match certifies the whole multimodal chain."""
    return phash_bands_df(phash_image_table(spark, sf_dir))


@register(
    "phash_hamming_pairs",
    oracle=f"""
    WITH {_ORACLE_PIX}, {_ORACLE_BANDS},
    unp AS (
      SELECT pid, b0, b1, b2, b3, bi,
             CASE bi WHEN 0 THEN b0 WHEN 1 THEN b1
                     WHEN 2 THEN b2 ELSE b3 END AS bv
      FROM bands CROSS JOIN (VALUES (0), (1), (2), (3)) AS t(bi)
    )
    SELECT a.pid AS pid_a, b.pid AS pid_b,
           CAST(bit_count(xor(CAST(a.b0 AS BIGINT), CAST(b.b0 AS BIGINT)))
              + bit_count(xor(CAST(a.b1 AS BIGINT), CAST(b.b1 AS BIGINT)))
              + bit_count(xor(CAST(a.b2 AS BIGINT), CAST(b.b2 AS BIGINT)))
              + bit_count(xor(CAST(a.b3 AS BIGINT), CAST(b.b3 AS BIGINT)))
             AS INT) AS hamming
    FROM unp a JOIN unp b ON a.bi = b.bi AND a.bv = b.bv AND a.pid < b.pid
    GROUP BY 1, 2, 3
    HAVING hamming <= 16
    """,
    tags=("multimodal", "dedup", "phash", "join"),
)
def phash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs: banded LSH self-join on 16-bit hash bands
    (candidates ∝ bucket occupancy — Hamming ≤ 3 is guaranteed recall,
    ≤ 16 is reported best-effort), verified by codegen popcounts. The
    perturbed variant of every grid image lands within a few bits of
    its original, so each (2k, 2k+1) pair surfaces here."""
    bands = phash_bands_df(phash_image_table(spark, sf_dir))
    unp = bands.select(
        "pid",
        "b0",
        "b1",
        "b2",
        "b3",
        F.expr("stack(4, 0, b0, 1, b1, 2, b2, 3, b3) AS (bi, bv)"),
    )
    a, b = unp.alias("a"), unp.alias("b")
    ham = sum(
        F.bit_count(
            F.col(f"a.b{k}").cast("long").bitwiseXOR(
                F.col(f"b.b{k}").cast("long")
            )
        )
        for k in range(4)
    ).cast("int")
    return (
        a.join(
            b,
            (F.col("a.bi") == F.col("b.bi"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.pid") < F.col("b.pid")),
        )
        .select(
            F.col("a.pid").alias("pid_a"),
            F.col("b.pid").alias("pid_b"),
            ham.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= 16)
    )
