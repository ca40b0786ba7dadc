"""The two workload kinds: registered queries and the image-ETL pipeline.

Each kind provides the same steps, driven by ``run.py``: ``setup``
(input generation), ``warmup``, ``run_pass`` (the timed unit: every
call once, in an order the run seed shuffles), ``check`` (correctness,
outside the timed region) and ``probe`` (traced runs only: direct calls
on single layers). A call's latency is timed from outside with a
monotonic clock.
"""

from __future__ import annotations

import os
import random
import time

import checks
import inputs
from tracing import Tracer, cached_bytes, tree_rss_mb

#: README queries over the ETL stats table, written once for both engines.
A13 = (
    "SELECT study_uid, round(avg(mean_intensity), 6) AS avg_mean, count(*) AS n "
    "FROM {stats} GROUP BY study_uid ORDER BY avg_mean DESC, study_uid LIMIT 50"
)
A14 = (
    "SELECT file_name, study_uid, round(mean_intensity, 6) AS mean_intensity "
    "FROM {stats} ORDER BY processed_at DESC, file_name LIMIT 20"
)


class Ctx:
    """What every step needs: the session, the tracer, the run's work
    directory and seed, and the failure log."""

    def __init__(self, spark, tracer: Tracer, work: str, seed: int):
        self.spark = spark
        self.tr = tracer
        self.work = work
        self.seed = seed
        self.rng = random.Random(seed)
        self.failures: list[str] = []
        self.peak_rss_mb = 0.0
        #: caches released before calls, and the most bytes seen cached
        self.released = 0
        self.peak_cached = 0

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"FAIL {what}", flush=True)

    def after_call(self) -> None:
        if self.tr.enabled:
            self.peak_rss_mb = max(self.peak_rss_mb, tree_rss_mb(os.getpid()))


class QueryWorkload:
    def __init__(self, spec: dict):
        self.names: list[str] = spec["queries"]
        self.tables: list[str] = spec["tables"]
        self.sf_dir = inputs.FIXTURES
        self.collected: dict[str, tuple] = {}

    def setup(self, ctx: Ctx) -> None:
        from braintumor_data_pipeline_spark import registry

        self.specs = {n: registry.all_queries()[n] for n in self.names}
        for n, s in self.specs.items():
            if not s.oracle or s.pinned_sf:
                raise SystemExit(f"{n} has no recomputing oracle")

    def module(self, name: str) -> str:
        return self.specs[name].fn.__module__.split(".", 1)[1]

    def calls_per_pass(self) -> int:
        return len(self.names)

    def _release(self, ctx: Ctx) -> None:
        from braintumor_data_pipeline_spark.caching import release_tracked

        if ctx.tr.enabled:
            ctx.peak_cached = max(ctx.peak_cached, cached_bytes(ctx.spark.sparkContext))
        with ctx.tr.span("caching.release"):
            ctx.released += release_tracked()

    def _call(self, ctx: Ctx, name: str, tag: str, collect: bool = False) -> float | None:
        fn = self.specs[name].fn
        try:
            t0 = time.monotonic()
            with ctx.tr.span("registry.build", group=f"{tag}|build|{name}", query=name):
                df = fn(ctx.spark, self.sf_dir)
            with ctx.tr.span(
                "exec", group=f"{tag}|exec|{name}", query=name, module=self.module(name)
            ):
                if collect:
                    self.collected[name] = (df.collect(), df.columns)
                else:
                    df.write.format("noop").mode("overwrite").save()
            lat = time.monotonic() - t0
        except Exception as exc:  # noqa: BLE001 — a failed call is counted, the run goes on
            ctx.fail(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
            return None
        ctx.after_call()
        return lat

    def warmup(self, ctx: Ctx) -> int:
        """The first untimed pass, in catalogue order: it collects every
        result for the oracle check. Returns the number of calls."""
        for name in self.names:
            self._release(ctx)
            self._call(ctx, name, "warmup", collect=True)
        return len(self.names)

    def run_pass(self, ctx: Ctx, tag: str) -> list[tuple[str, float | None, int]]:
        """Every query once, jobs labelled ``tag``; returns (query,
        latency or None if the call failed, items) per call."""
        order = list(self.names)
        ctx.rng.shuffle(order)
        lats = []
        for name in order:
            self._release(ctx)
            lats.append((name, self._call(ctx, name, tag), 1))
        self._release(ctx)
        return lats

    def check(self, ctx: Ctx) -> int:
        from braintumor_data_pipeline_spark.sources.fixtures import TABLES

        con = checks.duckdb_views(self.sf_dir, TABLES)
        for name in self.names:
            if name not in self.collected:
                continue  # the call already failed and was counted
            rows, cols = self.collected[name]
            got = checks.result_digest(rows, cols)
            want = checks.duckdb_digest(con, self.specs[name].oracle)
            if got != want:
                ctx.fail(f"{name}: oracle mismatch (rows {got[0]} vs {want[0]})")
        con.close()
        return len(self.names)

    def probe(self, ctx: Ctx) -> dict[str, float]:
        """Direct ``load_table`` calls on every table the workload reads.
        The image kernels are not exercised here: their layers read 0."""
        from braintumor_data_pipeline_spark.sources.fixtures import load_table

        for t in self.tables:
            with ctx.tr.span("fixtures.load", group=f"probe|fixtures|{t}", table=t):
                load_table(ctx.spark, self.sf_dir, t)
        return {}


class EtlWorkload:
    def __init__(self, spec: dict):
        self.spec = spec
        self.pass_dirs: list[str] = []
        self.last_readback: dict[str, tuple] = {}

    def setup(self, ctx: Ctx) -> None:
        s = self.spec
        self.files = inputs.write_dicoms(
            os.path.join(ctx.work, "dicom"), ctx.seed, s["batches"], s["per_batch"],
            s["truncated"], s["side"],
        )
        self.batches = sorted({f["batch"] for f in self.files})
        self.batch_dirs = {f["batch"]: os.path.dirname(f["path"]) for f in self.files}
        self.valid = [f for f in self.files if f["valid"]]
        self.n_valid = {b: sum(1 for f in self.valid if f["batch"] == b) for b in self.batches}

    def calls_per_pass(self) -> int:
        return len(self.batches)

    def _call(self, ctx: Ctx, b: int, out: str, tag: str) -> float | None:
        from braintumor_data_pipeline_spark.plans.etl import run_etl

        stats_path = os.path.join(out, "stats")
        try:
            t0 = time.monotonic()
            with ctx.tr.span("etl.run", group=f"{tag}|etl|{b}", batch=b):
                n = run_etl(ctx.spark, self.batch_dirs[b], os.path.join(out, "png"), stats_path)
            with ctx.tr.span("etl.readback", group=f"{tag}|readback|{b}", batch=b):
                st = ctx.spark.read.parquet(stats_path)
                res = {}
                for q, sql in (("A13", A13), ("A14", A14)):
                    df = ctx.spark.sql(sql, stats=st)
                    res[q] = (df.collect(), df.columns)
            lat = time.monotonic() - t0
        except Exception as exc:  # noqa: BLE001 — a failed call is counted, the run goes on
            ctx.fail(f"etl batch {b}: {type(exc).__name__}: {str(exc)[:300]}")
            return None
        if n != self.n_valid[b]:
            ctx.fail(f"etl batch {b}: run_etl wrote {n} rows for {self.n_valid[b]} valid inputs")
        self.last_readback[out] = res
        ctx.after_call()
        return lat

    def warmup(self, ctx: Ctx) -> int:
        """The first untimed pass, into a throwaway directory. Returns the
        number of calls."""
        out = os.path.join(ctx.work, "out-warmup")
        for b in self.batches:
            self._call(ctx, b, out, "warmup")
        return len(self.batches)

    def run_pass(self, ctx: Ctx, tag: str) -> list[tuple[int, float | None, int]]:
        """Every batch once, jobs labelled ``tag``; returns (batch,
        latency or None if the call failed, valid images) per call."""
        # a fresh directory per pass: the stats sink appends, so reusing
        # one would make every later pass read more rows
        out = os.path.join(ctx.work, f"out-{tag}-{len(self.pass_dirs)}")
        self.pass_dirs.append(out)
        order = list(self.batches)
        ctx.rng.shuffle(order)
        return [(b, self._call(ctx, b, out, tag), self.n_valid[b]) for b in order]

    def check(self, ctx: Ctx) -> int:
        """Per pass: stats rows = valid inputs, every PNG decodes to the
        input shape, A13/A14 of the pass's last call = DuckDB on the
        written parquet. Once: a seeded sample's mean/std = a direct
        recomputation with the public kernels."""
        import duckdb

        from braintumor_data_pipeline_spark.sources.png import decode_png

        n_checks = 0
        valid_names = sorted(os.path.basename(f["path"]) for f in self.valid)
        for out in self.pass_dirs:
            n_checks += 3
            stats = os.path.join(out, "stats", "*.parquet").replace("'", "''")
            con = duckdb.connect()
            names = sorted(
                r[0] for r in con.execute(f"SELECT file_name FROM read_parquet('{stats}')").fetchall()
            )
            if names != valid_names:
                ctx.fail(f"{out}: {len(names)} stats rows for {len(valid_names)} valid inputs")
            png_dir = os.path.join(out, "png")
            pngs = sorted(os.listdir(png_dir)) if os.path.isdir(png_dir) else []
            side = self.spec["side"]
            bad = [p for p in pngs if decode_png(_read(os.path.join(png_dir, p))).shape != (side, side)]
            if len(pngs) != len(valid_names) or bad:
                ctx.fail(f"{out}: {len(pngs)} PNGs, {len(bad)} with a wrong shape")
            for q, sql in (("A13", A13), ("A14", A14)):
                if out not in self.last_readback:
                    continue
                got = checks.result_digest(*self.last_readback[out][q])
                want = checks.duckdb_digest(con, sql.format(stats=f"read_parquet('{stats}')"))
                if got != want:
                    ctx.fail(f"{out}: {q} differs from DuckDB on the written parquet")
            con.close()
        if self.pass_dirs:
            n_checks += 1
            self._check_sample(ctx, self.pass_dirs[-1])
        return n_checks

    def _check_sample(self, ctx: Ctx, out: str) -> None:
        import duckdb

        sample = random.Random(ctx.seed).sample(self.valid, 4)
        stats = os.path.join(out, "stats", "*.parquet").replace("'", "''")
        con = duckdb.connect()
        for f in sample:
            name = os.path.basename(f["path"])
            got = con.execute(
                f"SELECT mean_intensity, std_intensity FROM read_parquet('{stats}') "
                "WHERE file_name = ?",
                [name],
            ).fetchone()
            img = kernel_chain(f["path"])[0]
            want = (float(img.mean()), float(img.std()))
            if got is None or any(abs(a - b) > 1e-9 * max(1.0, abs(b)) for a, b in zip(got, want)):
                ctx.fail(f"{name}: stats {got} differ from recomputed {want}")
        con.close()

    def probe(self, ctx: Ctx) -> dict[str, float]:
        from braintumor_data_pipeline_spark.plans.etl import process_dicom_files

        for b in self.batches:
            with ctx.tr.span("etl.transform", group=f"probe|transform|{b}", batch=b):
                process_dicom_files(ctx.spark, self.batch_dirs[b]).write.format(
                    "noop"
                ).mode("overwrite").save()
        paths = [f["path"] for f in random.Random(ctx.seed).sample(self.valid, 8)]
        return kernel_probe(paths)


def kernel_chain(path: str):
    """The ETL per-image chain, called directly: returns the final image
    and the wall milliseconds of each kernel."""
    from braintumor_data_pipeline_spark.functions.imaging import (
        apply_windowing_pipeline,
        clahe,
        gaussian_blur,
    )
    from braintumor_data_pipeline_spark.sources.dicom import dcmread
    from braintumor_data_pipeline_spark.sources.png import encode_png

    data = _read(path)
    ms = {}
    t = time.monotonic()
    ds = dcmread(data)
    arr = ds.pixel_array
    ms["dicom.decode_ms"] = time.monotonic() - t
    wc, ww = ds.window_center, ds.window_width
    t = time.monotonic()
    img, _, _ = apply_windowing_pipeline(arr, wc[0] if wc else None, ww[0] if ww else None)
    ms["imaging.window_ms"] = time.monotonic() - t
    t = time.monotonic()
    img = clahe(img, clip_limit=2.0, tile_grid=(8, 8))
    ms["imaging.clahe_ms"] = time.monotonic() - t
    t = time.monotonic()
    img = gaussian_blur(img, 0.5)
    ms["imaging.blur_ms"] = time.monotonic() - t
    t = time.monotonic()
    encode_png(img)
    ms["png.encode_ms"] = time.monotonic() - t
    return img, {k: v * 1000.0 for k, v in ms.items()}


def _read(path: str) -> bytes:
    with open(path, "rb") as fh:
        return fh.read()


def kernel_probe(paths: list[str]) -> dict[str, float]:
    """Median per-image milliseconds of each kernel over ``paths``, after
    one untimed call."""
    import statistics

    kernel_chain(paths[0])
    per = [kernel_chain(p)[1] for p in paths]
    return {k: statistics.median(r[k] for r in per) for k in per[0]}
