"""Per-query micro-benchmark: median-of-N noop-sink wall seconds for
named registered queries (or registry.HEADLINE) in one session — the r12
optimization round's isolated A/B measurement harness (guide §1.4).
Beside the wall medians it reports the build phase (the builder call,
before any action): median build seconds and the median number of
Spark jobs the builder runs eagerly, counted under a job group — a
load-insensitive counter for driver-side cost.

Usage: python tools/microbench.py [-n N] [name ...]
Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
       SPARK_GRAFT_CPUS
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    n = 3
    if args and args[0] == "-n":
        n = int(args[1])
        args = args[2:]
    from braintumor_data_pipeline_spark import registry
    from braintumor_data_pipeline_spark.session import get_spark
    from braintumor_data_pipeline_spark.caching import query_scope

    names = args or list(registry.HEADLINE)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="microbench")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    specs = registry.all_queries()
    sc = spark.sparkContext
    out = {}
    for name in names:
        fn = specs[name].fn
        walls, builds, build_jobs = [], [], []
        for i in range(n + 1):  # first pass untimed warmup
            group = f"microbench:{name}:{i}"
            with query_scope(spark, group):
                sc.setJobGroup(f"{group}:build", f"{group}:build")
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                b = time.perf_counter() - t0
                sc.setJobGroup(f"{group}:exec", f"{group}:exec")
                df.write.format("noop").mode("overwrite").save()
                w = time.perf_counter() - t0
            if i > 0:
                walls.append(w)
                builds.append(b)
                sc._jsc.sc().listenerBus().waitUntilEmpty()
                build_jobs.append(
                    len(sc.statusTracker().getJobIdsForGroup(f"{group}:build"))
                )
        out[name] = {
            "median": round(statistics.median(walls), 3),
            "min": round(min(walls), 3),
            "max": round(max(walls), 3),
            "build_median": round(statistics.median(builds), 3),
            "build_jobs": statistics.median(build_jobs),
        }
        print(f"{name}: {out[name]}", flush=True)
    load = os.getloadavg()
    print(json.dumps({"results": out, "loadavg_1m": round(load[0], 2)}))
    spark.stop()


if __name__ == "__main__":
    main()
