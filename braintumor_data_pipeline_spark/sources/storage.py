"""Object-store helper parity (SURVEY S6-S8) on the local filesystem +
Spark binaryFile source.

The reference's `gcp_utils.py` wraps GCS: recursive dir upload (S6,
`:7-18`), suffix-filtered limited listing (S7, `:21-26`), single-blob
fetch-and-decode (S8, `:29-36`). Here "bucket" is any directory/URI
Spark can read; the listing/fetch run THROUGH the engine (binaryFile
scan → filter → limit), so the same code hits S3/GCS/HDFS on a real
cluster just by changing the URI scheme.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from .image_io import decode_image


def upload_dir(local_dir: str, dest_dir: str, prefix: str = "") -> list[str]:
    """S6: recursive local-dir 'upload' (copy) preserving relative paths;
    returns destination paths (mirrors `upload_dir_to_gcs`)."""
    out = []
    for root, _dirs, files in os.walk(local_dir):
        for name in files:
            src = os.path.join(root, name)
            rel = os.path.relpath(src, local_dir)
            dst = os.path.join(dest_dir, prefix, rel)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copy(src, dst)
            out.append(dst)
    return sorted(out)


def list_images(
    spark: SparkSession, base_dir: str, suffix: str = ".png", limit: int = 50
) -> list[str]:
    """S7: list blobs under a prefix, keep case-insensitive suffix
    matches, first `limit` (listing order — order-unstable by contract,
    like the original `gcp_utils.py:21-26`)."""
    df = (
        spark.read.format("binaryFile")
        .load(base_dir)
        .select("path")
        .filter(F.endswith(F.lower(F.col("path")), F.lit(suffix.lower())))
        .limit(limit)
    )
    return [r.path for r in df.collect()]


def download_image_np(
    spark: SparkSession, path: str
) -> np.ndarray | None:
    """S8: fetch one blob by exact path and decode to an array; None if
    missing or undecodable (mirrors `download_image_np`'s None returns)."""
    base = os.path.dirname(path.replace("file:", ""))
    try:
        rows = (
            spark.read.format("binaryFile")
            .load(base)
            .filter(F.element_at(F.split(F.col("path"), "/"), -1)
                    == os.path.basename(path))
            .select("content")
            .collect()
        )
    except Exception:
        return None
    if not rows:
        return None
    try:
        return decode_image(bytes(rows[0].content))
    except Exception:
        return None
