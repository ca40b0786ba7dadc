"""The repository benchmark: run one workload with one seed, print its
metrics.

    python3 perfbench/run.py --workload analytics_mix --seed 1 --seconds 20 --trace 0

Workloads, their inputs and the layer each per-layer metric belongs to
are described in ``perfbench/spec.json``. A run:

1. starts the engine (``session.get_spark`` on ``local[N]``, N = min(4,
   nproc)), imports the query registry and generates the image inputs under
   ``perfbench/.work/`` (removed at exit);
2. warms up with two untimed passes: the first pays JVM, codegen and
   Python-worker start (query workloads: it collects every result for
   the correctness check); the second lets JIT warm-up settle, which a
   first pass alone leaves ~20% slow;
3. runs a fixed number of whole timed passes, ``--seconds`` divided by
   the workload's nominal pass time (``pass_s`` in spec.json), at least
   ``MIN_PASSES``, and reports medians over the passes. The count does
   not depend on how fast the passes run, so a faster program does the
   same work and is not measured further along JIT warm-up;
4. checks correctness against DuckDB, outside the timed region;
5. with ``--trace 1``, also records spans and Spark's event log, runs the
   single-layer probes and writes ``perfbench/out/trace-<workload>-<seed>.json``.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``). Every engine call
is timed from outside with a monotonic clock.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
#: counters each operator module layer gets next to ``<module>.exec_s``
MODULE_COUNTERS = ("jobs", "tasks", "cpu_s", "shuffle_bytes", "spill_bytes")
#: the fewest timed passes a run makes, whatever ``--seconds`` says
MIN_PASSES = 3
#: per-image kernel probes; they run on image_etl only
KERNELS = ("imaging.window_ms", "imaging.clahe_ms", "imaging.blur_ms",
           "dicom.decode_ms", "png.encode_ms")


def _load_json(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


def _units() -> tuple[dict[str, str], dict[str, str]]:
    bench = _load_json(os.path.join(ROOT, "BENCHMARK.json"))
    return (
        {m["name"]: m["unit"] for m in bench["end_to_end"]},
        {m["name"]: m["unit"] for m in bench["per_layer"]},
    )


def tail_percentile(lats: list[float]) -> tuple[float, float] | None:
    """The highest percentile with at least ten samples beyond it, as
    (percentile, value); None below 20 samples."""
    n = len(lats)
    if n < 20:
        return None
    k = n - 11  # 0-based index: ten samples lie above it
    return 100.0 * (k + 1) / n, sorted(lats)[k]


def start_engine(work: str, trace: bool):
    from braintumor_data_pipeline_spark.session import get_spark

    cores = min(4, os.cpu_count() or 1)
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.driver.memory": "2g",  # the working sets are a few MB
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    # keep every JVM's temp files and perf counters inside the work dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    if trace:
        from tracing import event_log_conf

        conf.update(event_log_conf(os.path.join(work, "events")))
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        shuffle_partitions=cores, extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cores


def stop_engine(spark) -> None:
    """Stop Spark, end the JVM and wait for every process it started."""
    from tracing import descendants

    sc = spark.sparkContext
    proc = sc._gateway.proc
    started = descendants(os.getpid())
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    for pid in started:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def layer_metrics(wl, ctx, rec: dict, counters: dict, names) -> dict[str, float]:
    """Per-layer metrics of a traced run. Times and counts are per timed
    pass (sums over the timed passes divided by their number). Operator
    module layers are those ``names`` that end in ``.exec_s``."""
    tr = ctx.tr
    P = len(rec["walls"])

    def groups(kind: str, items=None):
        for g, c in counters.items():
            parts = g.split("|")
            if len(parts) == 3 and parts[0] == "timed" and parts[1] == kind:
                if items is None or parts[2] in items:
                    yield c

    def total(kind, key, items=None):
        return sum(c[key] for c in groups(kind, items)) / P

    m = {
        "session.start_s": rec["start_s"],
        "session.warmup_s": rec["warmup_wall"]
        - rec["warmup_calls"] * statistics.median(rec["walls"]) / wl.calls_per_pass(),
        "session.peak_rss_mb": ctx.peak_rss_mb,
        "inputs.gen_s": rec["gen_s"],
        "registry.import_s": rec["import_s"],
        "registry.build_s": sum(tr.durations("registry.build", phase="timed")) / P,
        "registry.build_jobs": total("build", "jobs"),
        "fixtures.load_s": sum(tr.durations("fixtures.load")),
        "fixtures.load_jobs": sum(
            c["jobs"] for g, c in counters.items() if g.startswith("probe|fixtures|")
        ),
        "exec.task_retries": sum(c["retries"] for c in counters.values()),
        "caching.released": rec["released"] / P,
        "caching.cached_bytes": ctx.peak_cached,
        "caching.release_s": sum(tr.durations("caching.release", phase="timed")) / P,
        # the traced run's wall_s; tracing overhead is this against the
        # untraced runs' wall_s (compare.py overhead)
        "trace.wall_s": statistics.median(rec["walls"]),
    }
    for mod in (n[: -len(".exec_s")] for n in names if n.endswith(".exec_s")):
        m[f"{mod}.exec_s"] = sum(tr.durations("exec", phase="timed", module=mod)) / P
        queries = {s["query"] for s in tr.spans if s["name"] == "exec" and s["module"] == mod}
        for key in MODULE_COUNTERS:
            m[f"{mod}.{key}"] = total("exec", key, queries)
    transform = [c for g, c in counters.items() if g.startswith("probe|transform|")]
    run_s = sum(tr.durations("etl.run", phase="timed")) / P
    m["etl.transform_s"] = sum(tr.durations("etl.transform"))
    m["etl.sink_s"] = run_s - m["etl.transform_s"] if run_s else 0.0
    m["etl.readback_s"] = sum(tr.durations("etl.readback", phase="timed")) / P
    m["etl.tasks"] = sum(c["tasks"] for c in transform) / len(transform) if transform else 0.0
    m["etl.cpu_s"] = total("etl", "cpu_s")
    for k in KERNELS:
        m[k] = rec["kernels"].get(k, 0.0)
    return m


def run(args, spec: dict, work: str) -> tuple[dict, list[str]]:
    """One benchmark run; returns (result object, human-readable lines)."""
    import workloads
    from tracing import Tracer, group_counters

    wl_spec = spec["workloads"][args.workload]
    wl = (workloads.QueryWorkload if wl_spec["kind"] == "queries" else workloads.EtlWorkload)(
        wl_spec
    )
    rec: dict = {}
    t = time.monotonic()
    spark, cores = start_engine(work, args.trace)
    rec["start_s"] = time.monotonic() - t
    tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", args.trace, spark.sparkContext)
    ctx = workloads.Ctx(spark, tracer, work, args.seed)
    try:
        t = time.monotonic()
        from braintumor_data_pipeline_spark import registry

        registry.all_queries()
        rec["import_s"] = time.monotonic() - t
        t = time.monotonic()
        wl.setup(ctx)
        rec["gen_s"] = time.monotonic() - t

        t = time.monotonic()
        with tracer.span("warmup"):
            rec["warmup_calls"] = wl.warmup(ctx)
            rec["warmup_calls"] += len(wl.run_pass(ctx, "warmup"))
        rec["warmup_wall"] = time.monotonic() - t
        setup_s = time.monotonic() - T_PROCESS

        released_before = ctx.released

        walls: list[float] = []
        rates: list[float] = []
        calls: list[tuple] = []
        tracer.phase = "timed"
        for _ in range(max(MIN_PASSES, round(args.seconds / wl_spec["pass_s"]))):
            t = time.monotonic()
            with tracer.span("pass"):
                done = wl.run_pass(ctx, "timed")
            walls.append(time.monotonic() - t)
            rates.append(sum(n for _, lat, n in done if lat is not None) / walls[-1])
            calls += done
        rec["walls"] = walls
        rec["released"] = ctx.released - released_before

        tracer.phase = "probe"
        n_checks = wl.check(ctx)
        if args.trace:
            rec["kernels"] = wl.probe(ctx)
    finally:
        stop_engine(spark)

    lats = [lat for _, lat, _ in calls if lat is not None]
    per_call: dict = {}
    for key, lat, _ in calls:
        if lat is not None:
            per_call.setdefault(key, []).append(lat)
    attempted = rec["warmup_calls"] + len(calls) + n_checks
    failed = len(ctx.failures)
    e2e = {
        "setup_s": setup_s,
        "wall_s": statistics.median(walls),
        # median over the calls of each call's median across the passes,
        # so one slow pass moves it no more than it moves wall_s
        "latency_p50_s": statistics.median(statistics.median(v) for v in per_call.values())
        if per_call else float("nan"),
        "items_per_s": statistics.median(rates),
    }
    tail = tail_percentile(lats)
    lines = [
        f"{args.workload} seed={args.seed} cores={cores} calls={len(calls)} "
        f"pass walls={[round(w, 3) for w in walls]}",
        "  ".join(f"{k}={v:.4f}" for k, v in e2e.items())
        + "  latency_tail_s="
        + (f"{tail[1]:.4f} (p{tail[0]:.0f} of {len(lats)} calls)" if tail else f"n/a ({len(lats)} calls)")
        + f"  fail_frac={failed / attempted:.4f} ({failed}/{attempted})",
    ]
    e2e_units, layer_units = _units()
    if args.trace:
        counters = group_counters(os.path.join(work, "events"))
        layers = layer_metrics(wl, ctx, rec, counters, layer_units)
        metrics = {k: {"value": layers[k], "unit": u} for k, u in layer_units.items()}
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
        with open(path, "w") as fh:
            json.dump(
                {
                    "workload": args.workload, "seed": args.seed, "e2e": e2e,
                    "metrics": metrics, "self_times_s": tracer.self_times(),
                    "job_groups": counters, "spans": tracer.spans,
                },
                fh, indent=1,
            )
        lines.append(f"trace written to {os.path.relpath(path, ROOT)}")
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in e2e_units.items()}
    result = {
        "correct": not ctx.failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }
    return result, lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    spec = _load_json(os.path.join(HERE, "spec.json"))
    if args.workload not in spec["workloads"]:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(spec['workloads'])}")

    # Python workers must import the engine whatever their cwd, and
    # timestamps collected into Python must read as UTC like DuckDB's.
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TZ"] = "UTC"
    time.tzset()
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")  # before anything asks tempfile
    try:
        import braintumor_data_pipeline_spark  # noqa: F401 — fail before any work if absent

        result, lines = run(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
