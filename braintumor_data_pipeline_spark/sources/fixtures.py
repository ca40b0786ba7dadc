"""Loaders for the driver-provided fixture tables (S11 in SURVEY §2.1).

The reference's relational surface is a single externally-declared BigQuery
table (``/root/reference/bq_schema.json:1-19``); our engine's relational
surface is the ten fixture parquet tables (TESTDATA.md), read through
:func:`load_table`; a builder that queries with ``spark.sql`` registers
the frames it needs as temp views itself.

Scale note: these are plain parquet scans — at 100 TB the same code path
benefits from parquet predicate pushdown, column pruning, and partition
splitting via ``spark.sql.files.maxPartitionBytes``; nothing here collects
to the driver.

Schema memo: inferring a parquet schema is a Spark job (footer read
through ``mergeSchemasInParallel``), and builders call :func:`load_table`
several times per query. So the inferred schema of each regular file is
kept per process, keyed on its real path and validated against
``(st_mtime_ns, st_size)``; a rewritten file is inferred afresh and
replaces its entry. Reads then pass the schema to ``spark.read.schema``
and run no job at build time. Directories are not memoized (their
schema depends on every part file) and are inferred on each read. The
memo holds what Spark infers under :func:`ensure_nanos_readable`'s conf
and the default parquet inference settings, which every session of
this package uses.
"""

from __future__ import annotations

import os
import shutil
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: Small dimension tables that should always be broadcast in joins.
DIM_TABLES = frozenset({"region", "nation", "supplier", "part", "customer"})

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
SMOKE_SF_DIR = "/root/testdata/sf0.001"

#: real path -> (st_mtime_ns, st_size, inferred schema); see module doc
_SCHEMAS: dict[str, tuple[int, int, StructType]] = {}


def ensure_nanos_readable(spark: SparkSession) -> None:
    """Make legacy TIMESTAMP(NANOS) parquet readable in THIS session.

    Earlier driver datasets wrote ``events.ts`` as TIMESTAMP(NANOS), which
    Spark's reader rejects without ``spark.sql.legacy.parquet.nanosAsLong``.
    Current datasets write plain micros, but the conf is runtime-settable
    and harmless, so :func:`load_table` and :func:`events_stream` set it
    for any session, not just ones from ``session.get_spark()``.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Timestamp semantics engine-wide are "instants, session tz UTC" — the
    # same view DuckDB has of the naive micros values in the parquet.
    # Runtime-settable, so set defensively for foreign sessions too.
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def normalize_timestamps(df: DataFrame) -> DataFrame:
    """Turn every fixture timestamp into a regular TIMESTAMP (UTC instant).

    The driver's parquet stores naive microsecond timestamps (no tz),
    which Spark 4 infers as TIMESTAMP_NTZ. The whole query catalog (and
    ``unix_micros`` in particular) is written against regular TIMESTAMP
    (instant/LTZ) semantics with a UTC session, which is also exactly how
    the DuckDB oracle reads the same files. So every NTZ column is cast
    to TIMESTAMP — a wall-clock reinterpretation under the UTC session
    tz, not a shift, hence bit-identical instants to the oracle. Older
    datasets wrote ``events.ts`` as TIMESTAMP(NANOS); that arrives as
    int64 nanos (via ``nanosAsLong``) and is floor-divided to micros —
    the same truncation DuckDB's ``epoch_us`` applies to TIMESTAMP_NS.
    Works on batch and streaming frames alike.
    """
    from pyspark.sql import functions as F

    if dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    ntz_cols = [c for c, t in df.dtypes if t == "timestamp_ntz"]
    if ntz_cols:
        df = df.withColumns({c: F.col(c).cast("timestamp") for c in ntz_cols})
    return df


def _file_schema(spark: SparkSession, path: str) -> StructType | None:
    """The memoized parquet schema of the regular file ``path``, or None
    when ``path`` is a directory or does not exist (see module doc).

    No lock is needed: the stat precedes the inference, so a rewrite
    racing it can only key an entry to an older stat (a later miss),
    never serve a stale schema; two racing callers just infer twice."""
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISREG(st.st_mode):
        return None
    real = os.path.realpath(path)
    hit = _SCHEMAS.get(real)
    if hit is not None and hit[:2] == (st.st_mtime_ns, st.st_size):
        return hit[2]
    schema = spark.read.parquet(path).schema
    _SCHEMAS[real] = (st.st_mtime_ns, st.st_size, schema)
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Parquet scan → pushdown/pruning for free;
    the schema comes from the memo (no build-time job after the first
    read of a file); timestamps go through :func:`normalize_timestamps`."""
    if name not in TABLES:
        raise ValueError(f"unknown fixture table {name!r}; expected one of {TABLES}")
    ensure_nanos_readable(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    schema = _file_schema(spark, path)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return normalize_timestamps(reader.parquet(path))


def events_stream(spark: SparkSession, sf_dir: str, stage_dir: str) -> DataFrame:
    """The ``events`` fixture as a Structured Streaming file source.

    File stream sources need a DIRECTORY, so the single parquet file is
    copied into ``stage_dir``; streams cannot infer, so the schema is the
    memoized one of the SOURCE file (:func:`_file_schema`, the same entry
    :func:`load_table` uses), files are delivered one per micro-batch,
    and timestamps are normalized exactly as :func:`load_table` does, so
    batch ≡ stream.
    """
    ensure_nanos_readable(spark)
    os.makedirs(stage_dir, exist_ok=True)
    src = os.path.join(sf_dir, "events.parquet")
    shutil.copy(src, stage_dir)  # raises unless src is a readable file
    return normalize_timestamps(
        spark.readStream.schema(_file_schema(spark, src))
        .option("maxFilesPerTrigger", "1")
        .parquet(stage_dir)
    )
