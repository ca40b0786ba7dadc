"""Local mirror of the driver's DuckDB-oracle correctness gate.

Runs every registered query at the given SF, runs its oracle SQL in
DuckDB over the same parquet files, and compares row count, column
names, and order-insensitive values (with float tolerance reporting so
rounding mismatches are visible before the driver's exact hash sees
them).

Usage: python tools/verify_local.py [sf_dir] [name_filter...]
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

from braintumor_data_pipeline_spark import registry
from braintumor_data_pipeline_spark.caching import query_scope
from braintumor_data_pipeline_spark.session import get_spark
from braintumor_data_pipeline_spark.sources.fixtures import TABLES


def _canon(rows, cols):
    """Sort columns by name, rows by value — the driver's compare shape."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def key(row):
        out = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = round(v, 9)
            out.append((v is None, str(type(v).__name__), str(v)))
        return out

    return sorted([tuple(row[i] for i in order) for row in rows], key=key), [
        cols[i] for i in order
    ]


def _values_equal(a, b) -> bool:
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return fa == fb or abs(fa - fb) <= 1e-9 * max(1.0, abs(fa), abs(fb))
    return a == b


# Full-catalog sf0.1 sweep skip list (VERDICT r4 task 3): applied ONLY
# when the sf_dir is sf0.1 (pass --no-skip to force-run). Two documented
# classes, each with its one-line justification:
#   (a) LSH pair-graph fixture degeneracy — at sf >= 0.1 the documents
#       fixture's near-dup density makes the banding pair graph a
#       near-clique, so every graph/components query *consuming that
#       edge list* has a quadratic ORACLE (full closure / all-pairs
#       CTEs in DuckDB); the Spark sides run fine (star-reduced /
#       bucketed) — this is a fixture shape artifact, not an engine
#       scale limit (SCALE.md "sf0.1 cross-engine" section).
#   (b) DuckDB-side recursive-CTE blowup — oracles that replay
#       per-pixel flood fill / per-row recursion in SQL take minutes to
#       hours at 10x data while the Spark side stays in seconds; the
#       oracle, not the operator, is the bottleneck.
# Class (a): the LSH candidate graph of the documents fixture is a
# ~9.5M-edge near-clique at sf0.1, so these queries' deliberately
# independent DuckDB closures are quadratic-plus there. Every entry
# names its sf0.1-verified TWIN (graph_twins.py, r6): the SAME
# algorithm + unrolled oracle over the non-degenerate co-purchase /
# repeat-co-purchase edge lists, cross-engine green at sf0.1.
SKIP_SF01 = {
    "pagerank_fixed_point": "(a) degenerate clique edge list; unrolled power-iteration oracle quadratic at sf0.1 — twin: copurchase_pagerank_top20",
    "triangle_stats": "(a) degenerate clique edge list; triangle-closure oracle cubic-ish at sf0.1 — twin: copurchase_triangle_stats",
    "dedup_connected_components": "(a) oracle is deliberately independent FULL pair closure — quadratic on the sf0.1 clique — twin: copurchase_components",
    "component_modularity": "(a) same full-closure components oracle as dedup_connected_components — twin: copurchase_modularity",
    "bfs_levels_from_min_vertex": "(a) per-level frontier-replay oracle over the sf0.1 clique — twin: copurchase_bfs_levels",
    "link_prediction_common_neighbors": "(a) common-neighbor pair enumeration over the sf0.1 clique — twin: copurchase_link_prediction",
    "sssp_weighted_bellman": "(a) Bellman-Ford edge-relaxation replay over the sf0.1 clique — twin: copurchase_sssp_bellman",
    "kcore_peeling": "(a) iterative peeling replay over the sf0.1 clique — twin: copurchase_kcore",
    "local_clustering_coefficient": "(a) wedge enumeration over the sf0.1 clique — twin: copurchase_local_clustering",
    "degree_assortativity": "(a) degree-pair products over the sf0.1 clique edge list — twin: copurchase_assortativity",
    "harmonic_centrality_seeds": "(a) multi-source BFS replay over the sf0.1 clique — twin: copurchase_harmonic_centrality",
    "rich_club_coefficient": "(a) degree-threshold subgraph edge counts over the sf0.1 clique — twin: copurchase_rich_club",
    "region_grow_adaptive": "(b) DuckDB recursive flood-fill CTE measured 330 s at sf0.1 (Spark side 1.8 s) — r4 window run — twin: region_grow_adaptive_first8",
    "lsh_pairs_edit_verified": "(b) oracle is UNBOUNDED levenshtein over the 9.5M clique pairs (>600 s, interrupted); Spark side 25.6 s after the r5 repartition fix — twin: lsh_verify_pair_sample",
}


def select_names(names, filters) -> list[str]:
    """Registered names the filters select, in registration order. A
    filter equal to a registered name selects only that name (so a list
    of exact names runs exactly those queries); any other filter selects
    every name containing it. No filters select everything."""
    exact = {f for f in filters if f in names}
    subs = [f for f in filters if f not in exact]
    return [
        n
        for n in names
        if not filters or n in exact or any(f in n for f in subs)
    ]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    args = sys.argv[2:]
    no_skip = "--no-skip" in args
    budget = 0.0  # per-query wall budget, 0 = unlimited
    filters = []
    for a in args:
        if a == "--no-skip":
            continue
        if a.startswith("--budget="):
            budget = float(a.split("=", 1)[1])
            continue
        filters.append(a)

    spark = get_spark(app_name="verify-local")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    specs = registry.all_queries()
    names = select_names(specs, filters)
    n_pass = n_fail = n_rows_only = n_skip = 0
    failures = []
    apply_skips = ("sf0.1" in sf_dir.rstrip("/").rsplit("/", 1)[-1]) and not no_skip
    # Watchdog epoch (ADVICE r5): Timer.cancel() does not stop a
    # callback that has already started, so a timer firing just as its
    # query finishes could cancel/interrupt the NEXT query. Every
    # callback re-checks the generation token under the lock, and the
    # main thread bumps the token (under the same lock) the moment a
    # query's protected section ends — a stale callback then returns
    # without touching the engines; one that already holds the lock
    # fires only no-ops (its query has finished, nothing is running)
    # while the main thread waits to bump.
    import threading

    _wd_lock = threading.Lock()
    _wd_epoch = [0]
    for name in names:
        spec = specs[name]
        if apply_skips and name in SKIP_SF01:
            n_skip += 1
            print(f"skip  {name}: {SKIP_SF01[name]}")
            continue
        t0 = time.time()
        # per-query watchdog (--budget=N): a daemon timer cancels the
        # running Spark jobs / interrupts the DuckDB query once the
        # budget elapses, so one degenerate-fixture oracle can't stall
        # an unattended full-catalog sweep — it surfaces as a TIMEOUT
        # failure line instead.
        watchdog = None
        timed_out = []
        if budget > 0:
            my_epoch = _wd_epoch[0]

            def _cancel(my_epoch=my_epoch):
                with _wd_lock:
                    if _wd_epoch[0] != my_epoch:
                        return  # its query already finished — stand down
                    timed_out.append(True)
                    try:
                        spark.sparkContext.cancelAllJobs()
                    except Exception:  # noqa: BLE001
                        pass
                    try:
                        con.interrupt()
                    except Exception:  # noqa: BLE001
                        pass

            watchdog = threading.Timer(budget, _cancel)
            watchdog.daemon = True
            watchdog.start()

        def _disarm(watchdog=None):
            """Bump the epoch (stale callbacks stand down) and cancel."""
            with _wd_lock:
                _wd_epoch[0] += 1
            if watchdog is not None:
                watchdog.cancel()
        try:
            with query_scope(spark, name):
                sdf = spec.fn(spark, sf_dir)
                srows = [tuple(r) for r in sdf.collect()]
                scols = sdf.columns
        except Exception as exc:  # noqa: BLE001
            n_fail += 1
            failures.append(name)
            kind = "TIMEOUT (spark)" if timed_out else "spark error"
            print(f"FAIL  {name}: {kind}: {str(exc)[:200]}")
            _disarm(watchdog)
            continue
        if spec.oracle is None or (
            spec.pinned_sf and spec.pinned_sf not in sf_dir
        ):
            _disarm(watchdog)
            n_rows_only += 1
            why = "no oracle" if spec.oracle is None else (
                f"golden pinned at {spec.pinned_sf}"
            )
            print(
                f"rows  {name}: {len(srows)} rows ({why}) "
                f"[{time.time()-t0:.1f}s]"
            )
            continue
        try:
            res = con.execute(spec.oracle)
            ocols = [d[0] for d in res.description]
            orows = [tuple(r) for r in res.fetchall()]
        except Exception as exc:  # noqa: BLE001
            n_fail += 1
            failures.append(name)
            kind = "TIMEOUT (oracle)" if timed_out else "duckdb error"
            print(f"FAIL  {name}: {kind}: {str(exc)[:200]}")
            _disarm(watchdog)
            continue
        _disarm(watchdog)
        ok = True
        msg = ""
        if sorted(scols) != sorted(ocols):
            ok = False
            msg = f"columns differ: spark={sorted(scols)} oracle={sorted(ocols)}"
        elif len(srows) != len(orows):
            ok = False
            msg = f"row count differs: spark={len(srows)} oracle={len(orows)}"
        else:
            s_can, _ = _canon(srows, scols)
            o_can, _ = _canon(orows, ocols)
            for i, (sr, orow) in enumerate(zip(s_can, o_can)):
                if not all(_values_equal(a, b) for a, b in zip(sr, orow)):
                    ok = False
                    msg = f"value mismatch at sorted-row {i}: spark={sr} oracle={orow}"
                    break
        if ok:
            n_pass += 1
            print(f"PASS  {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
        else:
            n_fail += 1
            failures.append(name)
            print(f"FAIL  {name}: {msg}")

    skip_part = f", {n_skip} skipped" if n_skip else ""
    print(
        f"\n{n_pass} pass, {n_fail} fail, {n_rows_only} rows-only"
        f"{skip_part}, {len(names)} total"
    )
    if failures:
        print("failed:", " ".join(failures))
    spark.stop()
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
