"""Custom Spark DataSource: ``spark.read.format("dicom")`` (SURVEY S1-S3).

The reference's scan is Beam ``MatchFiles → ReadMatches → ParDo(decode)``
(`/root/reference/dataflow_pipeline.py:127-133`). The engine's primary
port of that chain is ``binaryFile`` + ``mapInPandas`` (plans/etl.py) —
this module is the OTHER idiomatic Spark formulation: the Python
DataSource API (Spark 4), which packages match+read+decode as a named
format with its own partition planning, so a DICOM directory is queried
like any table:

    spark.dataSource.register(DicomDataSource)
    spark.read.format("dicom").option("filesPerPartition", "4").load(dir)

Partition planning happens on the driver (cheap file listing only —
no bytes read); decoding runs on executors, one partition per file
chunk, which is exactly the Beam runner's bundle model. On a cluster the
path must be shared storage (object store / DBFS) — same constraint
``binaryFile`` has; the production-scale path stays plans/etl.py, this
is the extension-surface demonstration with real decode semantics
(pure-Python PS3.5 reader, window/min-max stats per the reference DoFn
`dataflow_pipeline.py:68-110`).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

DICOM_SOURCE_SCHEMA = StructType(
    [
        StructField("path", StringType(), False),
        StructField("file_name", StringType(), False),
        StructField("patient_id", StringType(), True),
        StructField("study_uid", StringType(), True),
        StructField("series_uid", StringType(), True),
        StructField("sop_instance_uid", StringType(), True),
        StructField("modality", StringType(), True),
        StructField("rows", LongType(), True),
        StructField("cols", LongType(), True),
        StructField("window_center", DoubleType(), True),
        StructField("window_width", DoubleType(), True),
        StructField("mean_intensity", DoubleType(), True),
        StructField("std_intensity", DoubleType(), True),
    ]
)


@dataclass
class _FileChunk(InputPartition):
    files: list


class DicomDataSourceReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("dicom source requires a path")
        self.suffix = options.get("suffix", ".dcm").lower()
        self.files_per_partition = int(options.get("filesPerPartition", "4"))

    def partitions(self):
        names = sorted(
            os.path.join(self.path, n)
            for n in os.listdir(self.path)
            if n.lower().endswith(self.suffix)
        )
        k = max(1, self.files_per_partition)
        chunks = [names[i : i + k] for i in range(0, len(names), k)]
        return [_FileChunk(files=c) for c in chunks] or [_FileChunk(files=[])]

    def read(self, partition):
        # runs on executors; decode imports live inside _decode_one so
        # the class pickles cheaply. std is population std, like np.std/A2.
        for fpath in partition.files:
            yield _decode_one(fpath)


def _decode_one(fpath):
    import numpy as np

    from ..functions.imaging import process_dicom

    # stats are taken on the PROCESSED uint8 image (window → CLAHE →
    # blur), exactly like the reference DoFn; an unreadable file raises
    with open(fpath, "rb") as f:
        ds, img_u8, wc, ww = process_dicom(f.read())
    return (
        fpath,
        os.path.basename(fpath),
        ds.PatientID or None,
        ds.StudyInstanceUID or None,
        ds.SeriesInstanceUID or None,
        ds.SOPInstanceUID or None,
        ds.Modality or None,
        int(img_u8.shape[0]),
        int(img_u8.shape[1]),
        float(wc) if wc is not None else None,
        float(ww) if ww is not None else None,
        float(np.mean(img_u8)),
        float(np.std(img_u8)),  # population std (A2)
    )


class DicomStreamReader(SimpleDataSourceStreamReader):
    """Directory-tailing micro-batch reader: the Pub/Sub-style ingestion
    the reference left as a roadmap item (`README.md:246`), as a Spark
    streaming source. The offset is the count of files already emitted
    over the lexicographically-sorted listing (files must arrive with
    increasing names — standard landing-zone convention); recovery
    replays [start, end) deterministically from the same sorted order.
    The Simple reader decodes on the driver — the prototype surface;
    at production volume the partition-planned DataSourceStreamReader
    (or the built-in file source + mapInPandas ETL) is the path."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("dicom stream requires a path")
        self.suffix = options.get("suffix", ".dcm").lower()

    def _files(self):
        return sorted(
            os.path.join(self.path, n)
            for n in os.listdir(self.path)
            if n.lower().endswith(self.suffix)
        )

    def initialOffset(self):
        return {"count": 0}

    def read(self, start):
        files = self._files()
        lo = start["count"]
        rows = [_decode_one(f) for f in files[lo:]]
        return iter(rows), {"count": len(files)}

    def readBetweenOffsets(self, start, end):
        files = self._files()
        return iter(
            _decode_one(f) for f in files[start["count"] : end["count"]]
        )

    def commit(self, end):
        pass  # offsets derive from the immutable sorted listing


class DicomDataSource(DataSource):
    @classmethod
    def name(cls):
        return "dicom"

    def schema(self):
        return DICOM_SOURCE_SCHEMA

    def reader(self, schema):
        return DicomDataSourceReader(self.options)

    def simpleStreamReader(self, schema):
        return DicomStreamReader(self.options)
