"""Benchmark harness — one JSON line for the driver.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]``; each query is
forced end-to-end with the ``noop`` sink (full materialization, no
collect-to-driver cost, no sink I/O).

Statistical honesty (VERDICT r2 item 2): a single suite run cannot
distinguish a ±35% per-query swing from noise, so the suite runs
``$SPARK_GRAFT_BENCH_RUNS`` times (default 3) and reports the PER-QUERY
MEDIAN; ``value`` is the sum of medians. ``runs`` carries each pass's
suite total and ``spread`` the max-min over runs so round-over-round
deltas can be judged against the observed noise floor. Prints:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...},
     "sf": ..., "runs": [...], "spread": ...}
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from braintumor_data_pipeline_spark import registry
from braintumor_data_pipeline_spark.caching import query_scope
from braintumor_data_pipeline_spark.registry import HEADLINE
from braintumor_data_pipeline_spark.session import get_spark

def _make_etl_inputs() -> str:
    """48 synthetic 64×64 DICOMs for the image-ETL throughput stage."""
    import tempfile

    import numpy as np

    from braintumor_data_pipeline_spark.sources.dicom import dcmwrite

    d = tempfile.mkdtemp(prefix="bench_dicom_")
    rng = np.random.RandomState(7)
    for i in range(48):
        px = rng.normal(800, 300, (64, 64)).astype("int16")
        with open(os.path.join(d, f"b{i:03d}.dcm"), "wb") as fh:
            fh.write(
                dcmwrite(px, patient_id=f"B{i}", study_uid="7.7",
                         sop_uid=f"7.7.{i}", window_center=800.0,
                         window_width=1200.0)
            )
    return d


def _run_suite(spark, sf_dir: str, etl_dir: str) -> dict[str, float]:
    """One full pass over the headline suite; per-query wall seconds."""
    from braintumor_data_pipeline_spark.plans.etl import process_dicom_files

    specs = registry.all_queries()
    timings: dict[str, float] = {}
    for name in HEADLINE:
        fn = specs[name].fn
        with query_scope(spark, name):
            t0 = time.time()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            timings[name] = round(time.time() - t0, 3)

    t0 = time.time()
    process_dicom_files(spark, etl_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    timings["etl_pipeline_48imgs"] = round(time.time() - t0, 3)
    return timings


def _python_worker_sentinel(spark, reps: int = 3) -> float:
    """Median wall of a fixed-size mapInArrow no-op (~0.2 s idle-box):
    a pure Python-worker-path round-trip whose cost is dominated by
    fork/exec + Arrow IPC, the exact path BASELINE.md's r7 forensic A/B
    showed is ~3× more sensitive to background box load than JVM-only
    queries. Round-over-round bench medians are comparable ONLY when
    this sentinel (and loadavg_1m) sit in the same band — see
    BASELINE.md 'Interpreting drift'."""

    def _ident(it):
        for batch in it:
            yield batch

    walls = []
    for _ in range(reps):
        t0 = time.time()
        spark.range(200_000).select(
            F.col("id"), (F.col("id") % 97).alias("m")
        ).mapInArrow(_ident, "id long, m long").write.format("noop").mode(
            "overwrite"
        ).save()
        walls.append(time.time() - t0)
    return round(statistics.median(walls), 3)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark(app_name="braintumor-bench")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM/codegen warmup
    etl_dir = _make_etl_inputs()

    # box-load self-diagnosis (VERDICT r7 task 4): record the load the
    # numbers were taken under, so drift is attributable without a
    # re-run forensic A/B
    load_1m, load_5m, load_15m = os.getloadavg()
    _python_worker_sentinel(spark, reps=1)  # sentinel's own warmup
    sentinel_s = _python_worker_sentinel(spark)

    # One untimed warmup pass (VERDICT r3 task 7): the first suite pass
    # carries JVM JIT, codegen-cache and OS page-cache warmup (~9.5 s of
    # r3's spread) — running it off the books makes the 3 timed passes
    # measure steady state, so `spread` reflects real variance and a
    # sub-second per-query regression is detectable.
    _run_suite(spark, sf_dir, etl_dir)

    passes = [_run_suite(spark, sf_dir, etl_dir) for _ in range(n_runs)]

    queries = {
        name: round(statistics.median(p[name] for p in passes), 3)
        for name in passes[0]
    }
    # Per-query noise bands (VERDICT r4 item 4): [min, max] across the
    # timed passes, so a real single-query regression (median outside
    # last round's band) is distinguishable from machine noise (median
    # inside the band).
    query_bands = {
        name: [
            round(min(p[name] for p in passes), 3),
            round(max(p[name] for p in passes), 3),
        ]
        for name in passes[0]
    }
    totals = [round(sum(p.values()), 3) for p in passes]
    total = round(sum(queries.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline_suite_wall",
                "value": total,
                "unit": "sec",
                "queries": queries,
                "query_bands": query_bands,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "runs": totals,
                "spread": round(max(totals) - min(totals), 3),
                "box": {
                    "loadavg_1m": round(load_1m, 2),
                    "loadavg_5m": round(load_5m, 2),
                    "loadavg_15m": round(load_15m, 2),
                    "cpus": os.cpu_count(),
                    "py_worker_sentinel_s": sentinel_s,
                },
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
