"""SparkSession factory with scale-oriented defaults.

The reference delegates physical execution to Beam runners
(``/root/reference/dataflow_pipeline.py:127-141``); here we delegate to
Catalyst/Tungsten and set the knobs that matter at 100 TB:

- **AQE on** (coalesce post-shuffle partitions, skew-join splitting,
  runtime join-strategy demotion) so the same logical plans survive a
  1000-executor cluster without hand-tuning partition counts.
- **Arrow on** for every pandas-UDF boundary (the image/segmentation
  operators) — Arrow batches replace Beam's fnapi harness hop.
- **UTC session timezone** so timestamp semantics match the oracle
  (DuckDB reads parquet timestamps as naive UTC).
- ``shuffle.partitions`` defaults to the local core count; on a real
  cluster AQE's coalescing makes the initial number mostly irrelevant,
  and callers that need another count pass ``shuffle_partitions``.
- **Python workers fork from the engine's daemon**
  (``spark.python.daemon.module`` = ``_daemon``). Every PySpark task calls
  ``importlib.invalidate_caches()``, and under CPython 3.11/3.12 that
  makes each of a worker's 16 zip importers re-read the directory of
  ``pyspark.zip`` or the py4j zip: ~130 ms per task before any user code
  (4 vCPU). The daemon re-reads an archive only when its stat key
  changed, so a task does 0 re-reads instead of 16. Executors must be
  able to import this package for that: ``spark.executorEnv.PYTHONPATH``
  points them at its root, whatever the JVM's cwd. A cluster whose
  executors cannot import it from there sets the daemon module back to
  ``pyspark.daemon`` through ``extra_conf``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    # --- correctness-critical ---
    "spark.sql.session.timeZone": "UTC",
    # --- adaptive execution: the 100 TB insurance policy ---
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # --- Arrow for the pandas-UDF image/segmentation operators ---
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
    # --- scan sizing: 128 MiB splits keep 100 TB ≈ 800k tasks, fine ---
    "spark.sql.files.maxPartitionBytes": "134217728",
    # --- dims (region/nation/customer at small SF) broadcast freely ---
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # local-mode JVM heap: the 1g default is thin for 32 executor
    # threads; only applies when this factory launches the JVM (a real
    # cluster sets executor/driver memory in its submit config)
    "spark.driver.memory": "8g",
    # quieter local runs
    "spark.ui.enabled": "false",
    "spark.sql.parquet.int96RebaseModeInRead": "CORRECTED",
    # older events.parquet files store TIMESTAMP(NANOS), which Spark's
    # vectorized reader rejects; read as int64 nanos and convert in
    # sources/fixtures.normalize_timestamps — truncation to micros
    # matches DuckDB's epoch_us on TIMESTAMP_NS.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # --- Python workers: fork them from the engine's daemon, and let
    # executors import the package whatever their cwd ---
    "spark.python.daemon.module": "braintumor_data_pipeline_spark._daemon",
    "spark.executorEnv.PYTHONPATH": os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    ),
}


def get_spark(
    app_name: str = "braintumor-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` resolves from the argument, then ``$SPARK_GRAFT_CPUS``
    (→ ``local[N]``), then ``local[*]``.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = os.cpu_count() or 8

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
