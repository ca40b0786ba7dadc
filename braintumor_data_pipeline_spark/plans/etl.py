"""The image-ETL pipeline (SURVEY §3.1) — Spark port of the
reference's Beam dataflow (`/root/reference/dataflow_pipeline.py`):

    MatchFiles → ReadMatches → ParDo(decode→window→CLAHE→blur→PNG→stats)
        → BigQuery append  (+ PNG side-writes inside the ParDo)

becomes

    binaryFile scan (glob) → ONE fused mapInPandas stage (each PNG
        written from inside the task) → stats parquet append

Design (SURVEY §4.2): the whole per-image transform chain is fused into
a single Arrow stage — N chained pandas UDFs would pay N JVM↔Python
round-trips for the same work the reference fuses into one DoFn body.
`run_etl` is one Spark job per call: the parquet append is the only
action, the PNGs are written by the same tasks that compute the stats
rows (so the PNG bytes never cross Arrow), and the row count comes from
an `Observation` on the appended frame. `process_dicom_files` is the
same scan and per-image body as a lazy frame that keeps the PNG as a
column. `process_dicom_stream` is its streaming twin: the same stage over
a streaming binaryFile scan of a landing directory, so each micro-batch
decodes only the files that arrived since the last one (the Pub/Sub
ingestion the reference left as a roadmap item, `README.md:246`).
Scale: the binaryFile source splits by files across executors
(`spark.sql.files.maxPartitionBytes` caps partition payload); stats
rows are tiny and shuffle-free. The Python in each task is the per-image
numpy math, batched by Arrow, plus the worker's fixed start-of-task cost.
The engine's daemon (``_daemon``) removes the largest part of that cost,
16 re-reads of ``pyspark.zip``'s directory per task (~130 ms on 4 vCPU).
"""

from __future__ import annotations

import contextlib
import os
from collections.abc import Iterator
from datetime import datetime, timezone
from hashlib import sha256

import numpy as np
import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame, DataFrameReader, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamReader

from ..functions.imaging import process_dicom
from ..sources.png import encode_png

# bq_schema.json:1-19 mapped per SURVEY §1.2: the table run_etl appends.
_TABLE_SCHEMA = T.StructType(
    [
        T.StructField("file_name", T.StringType(), False),
        T.StructField("gcs_uri_raw", T.StringType(), False),
        T.StructField("gcs_uri_processed", T.StringType(), False),
        T.StructField("patient_id_hash", T.StringType(), True),
        T.StructField("study_uid", T.StringType(), True),
        T.StructField("series_uid", T.StringType(), True),
        T.StructField("sop_instance_uid", T.StringType(), True),
        T.StructField("modality", T.StringType(), True),
        T.StructField("rows", T.LongType(), True),
        T.StructField("cols", T.LongType(), True),
        T.StructField("mean_intensity", T.DoubleType(), True),
        T.StructField("std_intensity", T.DoubleType(), True),
        T.StructField("window_center", T.DoubleType(), True),
        T.StructField("window_width", T.DoubleType(), True),
        T.StructField("processed_at", T.TimestampType(), False),
    ]
)
#: `process_dicom_files`' frame: the table's columns plus the png payload.
STATS_SCHEMA = T.StructType(
    _TABLE_SCHEMA.fields + [T.StructField("png", T.BinaryType(), True)]
)


def _publish_png(path: str, data: bytes, attempt: int) -> None:
    """Write `data` under a hidden name unique to this task attempt, then
    rename it over `path`: a killed attempt never leaves a truncated PNG
    under the final name, and a retried or speculative attempt replaces
    the whole file."""
    directory, name = os.path.split(path)
    os.makedirs(directory, exist_ok=True)
    tmp = os.path.join(directory, f".{name}.tmp-{attempt}")
    try:
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.replace(tmp, path)
    except BaseException:
        with contextlib.suppress(OSError):
            os.remove(tmp)
        raise


def _process_partition(
    batches: Iterator[pd.DataFrame], processed_prefix: str, write_png: bool
) -> Iterator[pd.DataFrame]:
    """The fused DoFn body (`dataflow_pipeline.py:68-110`), one Arrow
    batch of (path, content) in, one batch of stats rows out. With
    `write_png` each PNG is written to its `gcs_uri_processed` path and
    the rows carry no `png` column; otherwise the PNG is the column."""
    schema = _TABLE_SCHEMA if write_png else STATS_SCHEMA
    attempt = TaskContext.get().taskAttemptId() if write_png else None
    for pdf in batches:
        rows = []
        for path, content in zip(pdf["path"], pdf["content"]):
            try:
                ds, img_u8, wc, ww = process_dicom(bytes(content))
                png_bytes = encode_png(img_u8)
            except Exception:  # unreadable or unencodable → dropped row (F3)
                continue

            file_name = os.path.basename(path)
            stem = os.path.splitext(file_name)[0]
            png_path = f"{processed_prefix.rstrip('/')}/{stem}.png"
            if write_png:
                _publish_png(png_path, png_bytes, attempt)
            pid = ds.PatientID
            rows.append(
                {
                    "file_name": file_name,
                    "gcs_uri_raw": path,
                    "gcs_uri_processed": png_path,
                    "patient_id_hash": (
                        sha256(pid.encode("utf-8")).hexdigest()[:16] if pid else None
                    ),
                    "study_uid": ds.StudyInstanceUID or None,
                    "series_uid": ds.SeriesInstanceUID or None,
                    "sop_instance_uid": ds.SOPInstanceUID or None,
                    "modality": ds.Modality or None,
                    "rows": int(img_u8.shape[0]),
                    "cols": int(img_u8.shape[1]),
                    "mean_intensity": float(np.mean(img_u8)),
                    "std_intensity": float(np.std(img_u8)),  # population (A2)
                    "window_center": float(wc) if wc is not None else None,
                    "window_width": float(ww) if ww is not None else None,
                    "processed_at": datetime.now(timezone.utc).replace(tzinfo=None),
                    "png": png_bytes,
                }
            )
        yield pd.DataFrame(rows, columns=schema.fieldNames())


def _stats_frame(
    reader: DataFrameReader | DataStreamReader,
    path: str,
    processed_prefix: str,
    write_png: bool,
) -> DataFrame:
    """The fused stage over the `.dcm` files under `path`, scanned by
    `spark.read` or by a `spark.readStream` given binaryFile's schema
    (a stream source cannot infer one)."""
    scan = (
        reader.format("binaryFile")
        .option("pathGlobFilter", "*.dcm")
        .load(path)
        .select("path", "content")
    )
    return scan.mapInPandas(
        lambda it: _process_partition(it, processed_prefix, write_png),
        _TABLE_SCHEMA if write_png else STATS_SCHEMA,
    )


def process_dicom_files(
    spark: SparkSession, input_glob: str, processed_prefix: str = "processed"
) -> DataFrame:
    """Scan (S1/S2) + decode/transform/stats (S3, X1, X4, X5, X7, A1/A2,
    P1-P7) as a lazy DataFrame with the PNG as its `png` column; callers
    choose the sinks."""
    return _stats_frame(spark.read, input_glob, processed_prefix, write_png=False)


def process_dicom_stream(
    spark: SparkSession, landing_dir: str, processed_prefix: str = "processed"
) -> DataFrame:
    """`process_dicom_files` as a streaming DataFrame over the `.dcm`
    files that land in `landing_dir`. The query's checkpoint records
    which files were read, so a restart reads only new ones."""
    reader = spark.readStream.schema(
        "path string, modificationTime timestamp, length bigint, content binary"
    )
    return _stats_frame(reader, landing_dir, processed_prefix, write_png=False)


def run_etl(
    spark: SparkSession,
    input_glob: str,
    processed_dir: str,
    stats_path: str,
) -> int:
    """Execute the full pipeline as one Spark job: the fused stage writes
    each PNG into `processed_dir` from inside its task (S9), and the
    stats append (S10, `WRITE_APPEND`/`CREATE_IF_NEEDED` ≈ parquet
    mode=append) is the only action. Returns the number of stats rows
    THIS run wrote, read from an `Observation` on the appended frame
    (the parquet table itself accumulates across runs). Each PNG is
    published by a rename from a per-attempt temp file, so a retried
    task overwrites it whole."""
    obs = Observation("etl_rows")
    stats = _stats_frame(
        spark.read, input_glob, processed_dir, write_png=True
    ).observe(obs, F.count(F.lit(1)).alias("n"))
    stats.write.mode("append").parquet(stats_path)
    return obs.get["n"]
