"""Partitioning-determinism sweep over the driver-window queries.

The driver runs each query in ITS OWN SparkSession with its own
parallelism; any result that depends on shuffle-partition count,
partial-aggregation order, or task scheduling will hash-match locally
and fail at the driver (the round-2 ``salted_heavy_key_agg`` incident
was exactly this class). This tool runs every driver-window query twice —
under deliberately different ``spark.sql.shuffle.partitions`` — in two
separate processes (sessions can't change partition count reliably
mid-flight for AQE'd plans) and compares canonicalized results.

Usage: python tools/determinism_sweep.py [sf_dir] [--all]
  --all sweeps EVERY recomputing-oracle query (the full catalog), two
  passes (5 vs 32 shuffle partitions, AQE on) — the catalog-wide
  stability certificate; default sweeps the generated driver window
  (the first ``registry.DRIVER_WINDOW`` entries of ``queries()``) with a
  third AQE-off pass.
Internal: ... --worker <sf_dir> <n_partitions> <out.json> [aqe] [all].
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            vals.append(repr(v))
        out.append(tuple(vals))
    return sorted(out)


def worker(
    sf_dir: str, n_part: int, out_path: str, aqe: str = "on",
    scope: str = "window",
) -> None:
    from braintumor_data_pipeline_spark import registry
    from braintumor_data_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name=f"determinism-{n_part}-{aqe}",
        shuffle_partitions=n_part,
        extra_conf={"spark.sql.adaptive.enabled": str(aqe == "on").lower()},
    )
    specs = registry.all_queries()
    if scope == "all":
        names = [
            n for n, sp in specs.items() if sp.oracle and not sp.pinned_sf
        ]
    else:
        names = list(registry.queries_dict())[: registry.DRIVER_WINDOW]
    from braintumor_data_pipeline_spark.caching import query_scope

    results = {}
    for name in names:
        spec = registry.all_queries()[name]
        with query_scope(spark, name):
            df = spec.fn(spark, sf_dir)
            results[name] = canon([tuple(r) for r in df.collect()], df.columns)
    with open(out_path, "w") as f:
        json.dump(results, f, default=repr)


def main() -> int:
    args = [a for a in sys.argv[1:] if a != "--all"]
    scope = "all" if "--all" in sys.argv[1:] else "window"
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    tmp = tempfile.mkdtemp(prefix="determinism_")
    if scope == "all":
        passes = [(5, "on"), (32, "on")]
    else:
        passes = [(5, "on"), (32, "on"), (17, "off")]  # AQE off = driver proxy
    outs = []
    for n_part, aqe in passes:
        out = os.path.join(tmp, f"pass_{n_part}_{aqe}.json")
        outs.append(out)
        rc = subprocess.call(
            [
                sys.executable, __file__, "--worker",
                sf_dir, str(n_part), out, aqe, scope,
            ]
        )
        if rc != 0:
            print(f"worker n_part={n_part} aqe={aqe} failed rc={rc}")
            return 1
    ref = json.load(open(outs[0]))
    others = [json.load(open(o)) for o in outs[1:]]
    n_fail = 0
    for name in ref:
        if any(o[name] != ref[name] for o in others):
            n_fail += 1
            print(f"NONDET  {name}: results differ across sessions")
        else:
            print(f"stable  {name}")
    print(f"\n{len(ref) - n_fail} stable, {n_fail} nondeterministic")
    return 1 if n_fail else 0


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--worker":
        worker(
            sys.argv[2],
            int(sys.argv[3]),
            sys.argv[4],
            sys.argv[5] if len(sys.argv) > 5 else "on",
            sys.argv[6] if len(sys.argv) > 6 else "window",
        )
    else:
        raise SystemExit(main())
