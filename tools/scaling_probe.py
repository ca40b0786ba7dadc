"""Scale-probe gate: do the formulations the 100 TB argument rests on
stay linear as their input grows?

The argument in SCALE.md is structural (shuffle shapes, partial
aggregation, bounded buckets); these probes add measurement. Each probe
sub-command grows its input by the given factors (a zero-I/O synthetic
corpus over ``spark.range``; the two dedup probes write a synthetic
``documents`` fixture and run the registered builders on it; graph-cc
replicates sf0.1 lineitem with offset keys), times the stage under test
and prints one JSON line per factor. ``quick`` runs the six probes at
x1/x4 (kcenter at x1), each in its own process, and checks their
per-unit ratios against the stored bands (``check_bands``);
``tools/end_of_round.py`` runs it.

Usage: python tools/scaling_probe.py SUB-COMMAND [factors...]
  SUB-COMMAND: quick, blocked-rank, verify-skew, graph-cc, semdedup,
  dedup-skew, kcenter
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import tempfile
import time
from collections.abc import Iterator
from contextlib import contextmanager

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from braintumor_data_pipeline_spark.caching import query_scope
from braintumor_data_pipeline_spark.operators.dedup import (
    lsh_pairs_edit_verified,
    minhash_lsh_pairs,
    minhash_lsh_pairs_capped,
)
from braintumor_data_pipeline_spark.session import get_spark
from braintumor_data_pipeline_spark.sources.fixtures import load_table

# LCG-style column mixing: deterministic pseudo-random integer columns
# over spark.range, so the synthetic corpora cost no I/O.
_MIX_A = 2_654_435_761
_MIX_C = 1_013_904_223
_MIX_M = 2_147_483_648


def _mix(col, salt: int):
    return (col * _MIX_A + _MIX_C + salt) % _MIX_M


@contextmanager
def _documents_fixture(s: int, per_doc_tail: bool = False) -> Iterator[str]:
    """A temp directory whose ``documents.parquet`` (the fixture's
    columns) holds the duplicate-heavy skew corpus, so the registered
    dedup builders read it through ``load_table`` unchanged; removed on
    exit.

    5k·s docs: 25% sit in 8 LARGE exact-dup clusters (~156·s docs each —
    identical token streams, hence identical minhash and band signatures
    in every band: the hottest possible LSH keys), 12.5% in SMALL 4-doc
    clusters (the tier whose pairs survive the band-frequency cap, so
    the capped pair count grows linearly with the corpus), the rest
    unique. ``per_doc_tail`` appends one per-doc token, turning each
    cluster into a family of near-duplicates that passes the 0.8 edit
    gate."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    docs = 5_000 * s
    n_clustered = docs // 4
    n_small_end = n_clustered + docs // 8

    def tok(x: int, n: int) -> str:
        return hashlib.md5(str(x).encode()).hexdigest()[:n]

    texts = []
    for d in range(docs):
        # small-cluster seeds start at `docs`, above every unique doc's
        if d < n_clustered:
            seed = d % 8
        elif d < n_small_end:
            seed = docs + d // 4
        else:
            seed = d
        words = [tok(seed * 16 + p, 8) for p in range(16)]
        if per_doc_tail:
            words.append(tok(d, 6))
        texts.append(" ".join(words))
    table = pa.table(
        {
            "doc_id": list(range(docs)),
            "text": texts,
            "lang": ["en"] * docs,
            "source": ["probe"] * docs,
            "n_chars": [len(t) for t in texts],
        }
    )
    root = tempfile.mkdtemp(prefix="scaling-probe-")
    try:
        pq.write_table(table, os.path.join(root, "documents.parquet"))
        yield root
    finally:
        shutil.rmtree(root, ignore_errors=True)


def dedup_skew_row(spark, s: int) -> dict:
    """Time ``minhash_lsh_pairs_capped`` on the factor-``s`` corpus.
    Naive pair volume is quadratic in cluster size; the capped pairs
    must stay a flat count per doc."""
    docs = 5_000 * s
    with _documents_fixture(s) as root:
        with query_scope(spark, "minhash_lsh_pairs_capped"):
            t0 = time.perf_counter()
            n_capped = minhash_lsh_pairs_capped(spark, root).count()
            t_capped = time.perf_counter() - t0
    return {
        "shape": "clustered_dup_dedup",
        "factor": s,
        "docs": docs,
        "capped_pairs": n_capped,
        "capped_pairs_per_doc": round(n_capped / docs, 2),
        "builder_s": round(t_capped, 3),
    }


def verify_skew_row(spark, s: int) -> dict:
    """Time the dedup VERIFY stage — ``lsh_pairs_edit_verified``, LSH
    candidate pairs → bounded levenshtein — on the factor-``s`` corpus
    with a per-doc tail, so every within-cluster pair is a candidate
    that passes the 0.8 gate and pays the real bounded-DP cost. The
    band join leaves all pairs of one hot bucket in one partition; the
    builder repartitions them on (doc_a, doc_b) before the DP, so its
    wall per candidate pair (``minhash_lsh_pairs``, counted untimed)
    must stay ~flat as the clusters grow."""
    with _documents_fixture(s, per_doc_tail=True) as root:
        with query_scope(spark, "minhash_lsh_pairs"):
            n_pairs = minhash_lsh_pairs(spark, root).count()
        with query_scope(spark, "lsh_pairs_edit_verified"):
            t0 = time.perf_counter()
            n_verified = lsh_pairs_edit_verified(spark, root).count()
            t_verify = time.perf_counter() - t0
    return {
        "shape": "verify_stage_skew",
        "factor": s,
        "docs": 5_000 * s,
        "pairs": n_pairs,
        "survivors": n_verified,
        "builder_s": round(t_verify, 3),
        "repart_us_per_pair": round(t_verify / max(n_pairs, 1) * 1e6, 3),
    }


def _print_rows(app_name: str, default_factors: list[int], row) -> int:
    factors = [int(x) for x in sys.argv[2:]] or default_factors
    spark = get_spark(app_name=app_name)
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warmup
    # the builder's own first call pays one-time costs (class loading,
    # codegen, worker start) that would otherwise land in the first row
    row(spark, factors[0])
    for s in factors:
        print(json.dumps(row(spark, s)), flush=True)
    return 0


def main_dedup_skew() -> int:
    """Usage: python tools/scaling_probe.py dedup-skew [factors...]"""
    return _print_rows("dedup-skew-probe", [1, 10, 50], dedup_skew_row)


def main_verify_skew() -> int:
    """Usage: python tools/scaling_probe.py verify-skew [factors...]"""
    return _print_rows("verify-skew-probe", [1, 2, 4], verify_skew_row)


def main_blocked_rank() -> int:
    """Measure the r6 global-window rewrite: naive
    ``row_number() OVER (ORDER BY key)`` (one Exchange SinglePartition
    carrying EVERY row through one task) vs ``indexing.blocked_rank``
    (range-block + parallel per-block windows + ≤RANGE_BLOCKS broadcast
    offsets) on a growing user-grain aggregate — the exact frame class
    the audit now rejects (rfm/decile/gini/RRF/norm-outlier shape).

    Both paths compute the identical rank (asserted via a full
    anti-join count at the smallest factor); the probe times a count()
    over the ranked relation. Expect the naive path's wall to grow
    superlinearly with one hot task while blocked stays near-linear
    with flat per-row cost — the local[32] proxy for the cluster
    argument (at 1000 executors the naive plan is not slow, it is
    DEAD: one task sorts the entire corpus).

    Usage: python tools/scaling_probe.py blocked-rank [factors...]
    """
    from braintumor_data_pipeline_spark.operators.indexing import (
        blocked_rank,
    )
    from pyspark.sql import Window

    factors = [int(x) for x in sys.argv[2:]] or [1, 4, 16]
    spark = get_spark(app_name="blocked-rank-probe")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warmup

    def _mdh(col, digits=12):
        return F.conv(
            F.substring(F.md5(col.cast("string")), 1, digits), 16, 10
        ).cast("long")

    def frame(n_users: int, dist: str):
        # per-user aggregate shape: unique key; two key distributions —
        # "uniform" (hash-uniform values, the r6 probe) and "clustered"
        # (Zipf-ish: 90% of keys inside a 100k-wide band of a 10^14
        # range — the adversarial shape for value-interpolated
        # boundaries; VERDICT r6 task 2)
        ids = spark.range(n_users)
        if dist == "uniform":
            key = _mdh(F.col("id"))
        else:
            key = F.when(
                _mdh(F.col("id"), 2) % 10 < 9,
                _mdh(F.col("id") + 7) % 100_000,
            ).otherwise(_mdh(F.col("id") + 13) % (10**14))
        return ids.select(F.col("id").alias("user_id"), key.alias("cents"))

    base_users = 500_000
    for dist in ("uniform", "clustered"):
        checked = False
        for n in factors:
            users = frame(base_users * n, dist).persist()
            users.count()

            t0 = time.perf_counter()
            w = Window.orderBy("cents", "user_id")
            naive = users.select(
                "user_id", F.row_number().over(w).alias("rank")
            )
            naive.select(F.max("rank")).collect()
            t_naive = time.perf_counter() - t0

            t0 = time.perf_counter()
            blocked = blocked_rank(users, "cents", "user_id").select(
                "user_id", F.col("_rank").alias("rank")
            )
            blocked.select(F.max("rank")).collect()
            t_blocked = time.perf_counter() - t0

            if not checked:  # identity proof once, at the cheapest factor
                diff = (
                    naive.join(
                        blocked, ["user_id", "rank"], "left_anti"
                    ).count()
                )
                assert diff == 0, f"rank mismatch rows: {diff}"
                checked = True

            # block balance: rows in the hottest _blk (the quantity
            # count-balanced boundaries are supposed to bound)
            from braintumor_data_pipeline_spark.operators.indexing import (
                _with_range_block,
            )

            hot = (
                _with_range_block(users, "cents")
                .groupBy("_blk")
                .count()
                .agg(F.max("count"))
                .collect()[0][0]
            )

            users.unpersist()
            print(
                json.dumps(
                    {
                        "shape": "blocked_rank_vs_naive",
                        "dist": dist,
                        "factor": n,
                        "rows": base_users * n,
                        "hot_block_rows": int(hot),
                        "naive_global_window_s": round(t_naive, 3),
                        "blocked_rank_s": round(t_blocked, 3),
                        "blocked_ns_per_row": round(
                            t_blocked / (base_users * n) * 1e9, 1
                        ),
                    }
                ),
                flush=True,
            )
    return 0


def main_graph_cc() -> int:
    """Scale the repeat-co-purchase components twin
    (graph_twins.copurchase_components shape): replicate sf0.1
    lineitem N× with BOTH key spaces offset (copies stay disjoint, so
    the graph gains components without densifying — the way a bigger
    corpus actually grows), build the support-2 edge list, run the
    bounded min-label propagation, and report edges / rounds-to-
    convergence / wall. Pass criteria: rounds stay flat (component
    diameter is a property of order structure, not corpus size) and
    wall grows ~linearly with edges — each round is one edges⋈labels
    join + min-groupBy, all partial-aggregable.

    Usage: python tools/scaling_probe.py graph-cc [factors...]
    """
    from braintumor_data_pipeline_spark.operators.graph_twins import (
        CC_ROUNDS,
        _sym,
    )

    factors = [int(x) for x in sys.argv[2:]] or [1, 4, 16]
    sf_dir = "/root/testdata/sf0.1"
    spark = get_spark(app_name="graph-cc-probe")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warmup
    base = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )

    for n in factors:
        copies = [
            base.select(
                (F.col("l_orderkey") + F.lit(i * 10_000_000)).alias(
                    "l_orderkey"
                ),
                (F.col("l_partkey") + F.lit(i * 10_000_000)).alias(
                    "l_partkey"
                ),
            )
            for i in range(n)
        ]
        li = copies[0]
        for c in copies[1:]:
            li = li.unionAll(c)
        t0 = time.perf_counter()
        a, b = li.alias("a"), li.alias("b")
        pairs = (
            a.join(
                b,
                (F.col("b.l_orderkey") == F.col("a.l_orderkey"))
                & (F.col("b.l_partkey") > F.col("a.l_partkey")),
            )
            .groupBy(
                F.col("a.l_partkey").alias("pa"),
                F.col("b.l_partkey").alias("pb"),
            )
            .agg(F.countDistinct("a.l_orderkey").alias("n_ord"))
            .filter(F.col("n_ord") >= 2)
            .select("pa", "pb")
        )
        edges = _sym(pairs).localCheckpoint()
        n_edges = edges.count()
        t_edges = time.perf_counter() - t0

        t0 = time.perf_counter()
        labels = (
            edges.select(F.col("src").alias("node"))
            .distinct()
            .select("node", F.col("node").alias("label"))
            .localCheckpoint()
        )
        rounds = 0
        for _ in range(CC_ROUNDS):
            nbr = (
                edges.join(labels, edges.dst == labels.node)
                .groupBy(F.col("src").alias("n2"))
                .agg(F.min("label").alias("nl"))
            )
            new = (
                labels.join(nbr, labels.node == nbr.n2, "left")
                .select(
                    "node",
                    F.least(
                        F.col("label"),
                        F.coalesce(F.col("nl"), F.col("label")),
                    ).alias("label"),
                    (F.col("nl") < F.col("label")).alias("_chg"),
                )
            ).localCheckpoint()
            changed = new.agg(
                F.sum(F.when(F.col("_chg"), 1).otherwise(0)).alias("c")
            ).collect()[0]["c"]
            labels = new.select("node", "label")
            rounds += 1
            if not changed:
                break
        n_comp = labels.select("label").distinct().count()
        t_cc = time.perf_counter() - t0
        print(
            json.dumps(
                {
                    "shape": "copurchase_components_scale",
                    "factor": n,
                    "edges_directed": n_edges,
                    "edge_build_s": round(t_edges, 3),
                    "rounds": rounds,
                    "components": n_comp,
                    "propagation_s": round(t_cc, 3),
                    "ms_per_kedge_round": round(
                        t_cc / max(rounds, 1) / max(n_edges / 1000, 1) * 1000,
                        2,
                    ),
                }
            ),
            flush=True,
        )
    return 0


def main_semdedup() -> int:
    """Scale the r7 SemDeDup formulation (VERDICT r6 task 1): grow a
    synthetic embedding corpus N×, let K ≈ N/SEMDEDUP_STRIDE scale WITH
    it, and time the two stages separately:

    - route_s: seed selection + two-level assignment + cap rank
      (_semdedup_capped — the O(N·√K) routing);
    - pair_s: same-(cluster, subcluster) enumeration + integer cosine
      gate + report (_semdedup_report_from — bounded by N·CAP/2).

    Corpus: 64-dim integer vectors around 96·s true centers (center
    id = _mix(id) % (96·s), coordinate = center base ± small noise) so
    clusters actually form and pair volume is realistic. Pass criteria:
    cand_pairs grows ~linearly with N (K scaling keeps E[cluster] at
    STRIDE) and pair_us_per_pair stays flat.

    An ADVERSARIAL single-blob corpus (every vector identical up to
    noise → the router sends everything to ONE cluster) is probed at
    the smallest factor: without the cap this is N²/2 pairs; the probe
    asserts the capped pair count is ≤ N·CAP/2 and reports both.

    Usage: python tools/scaling_probe.py semdedup [factors...]
    """
    from braintumor_data_pipeline_spark.operators.similarity import (
        SEMDEDUP_CAP,
        _semdedup_capped,
        _semdedup_report_from,
    )

    factors = [int(x) for x in sys.argv[2:]] or [1, 4, 16]
    spark = get_spark(app_name="semdedup-probe")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # warmup
    base_n = 50_000

    def corpus(n_vec: int, n_centers: int):
        center = _mix(F.col("id"), 3) % n_centers
        dim = F.sequence(F.lit(0), F.lit(63))
        qv = F.transform(
            dim,
            lambda d: (
                (_mix(center * 64 + d, 11) % 2048 - 1024)
                + (_mix(F.col("id") * 64 + d, 23) % 128 - 64)
            ).cast("long"),
        )
        return spark.range(n_vec).select(
            F.col("id").alias("vec_id"), qv.alias("qv")
        )

    # untimed warmup of both sub-plans
    wq = corpus(2_000, 8)
    _semdedup_report_from(_semdedup_capped(wq), wq).count()

    for s in factors:
        n_vec = base_n * s
        q = corpus(n_vec, 96 * s).persist()
        q.count()

        t0 = time.perf_counter()
        capped = _semdedup_capped(q).persist()
        capped.count()
        t_route = time.perf_counter() - t0

        # candidate-pair volume by bucket-count math (never enumerated
        # twice): sum m(m-1)/2 over (cluster, subcluster)
        vol = (
            capped.groupBy("cluster", "subcluster")
            .agg(F.count("*").alias("m"))
            .agg(
                F.sum(F.col("m") * (F.col("m") - 1) / 2).alias("pairs"),
                F.max("m").alias("hot"),
                F.count("*").alias("n_buckets"),
            )
            .collect()[0]
        )
        assert int(vol["hot"]) <= SEMDEDUP_CAP

        t0 = time.perf_counter()
        report = _semdedup_report_from(capped, q)
        n_dup = report.agg(F.sum("n_dup_pairs")).collect()[0][0]
        t_pair = time.perf_counter() - t0
        capped.unpersist()
        q.unpersist()

        print(
            json.dumps(
                {
                    "shape": "semdedup_k_scaled",
                    "factor": s,
                    "vectors": n_vec,
                    "buckets": int(vol["n_buckets"]),
                    "hot_bucket_m": int(vol["hot"]),
                    "cand_pairs": int(vol["pairs"]),
                    "dup_pairs": int(n_dup or 0),
                    "route_s": round(t_route, 3),
                    "pair_s": round(t_pair, 3),
                    "pair_us_per_pair": round(
                        t_pair / max(int(vol["pairs"]), 1) * 1e6, 3
                    ),
                }
            ),
            flush=True,
        )

    # adversarial one-blob corpus: every vector near ONE center
    n_vec = base_n
    q = corpus(n_vec, 1).persist()
    q.count()
    capped = _semdedup_capped(q).persist()
    vol = (
        capped.groupBy("cluster", "subcluster")
        .agg(F.count("*").alias("m"))
        .agg(
            F.sum(F.col("m") * (F.col("m") - 1) / 2).alias("pairs"),
            F.max("m").alias("hot"),
        )
        .collect()[0]
    )
    capped.unpersist()
    q.unpersist()
    capped_pairs = int(vol["pairs"])
    assert int(vol["hot"]) <= SEMDEDUP_CAP
    assert capped_pairs <= n_vec * SEMDEDUP_CAP // 2
    print(
        json.dumps(
            {
                "shape": "semdedup_adversarial_one_blob",
                "vectors": n_vec,
                "uncapped_pairs_would_be": n_vec * (n_vec - 1) // 2,
                "capped_pairs": capped_pairs,
                "hot_bucket_m": int(vol["hot"]),
                "bound_n_cap_over_2": n_vec * SEMDEDUP_CAP // 2,
            }
        ),
        flush=True,
    )
    return 0


# ---------------------------------------------------------------------------
# Quick probe gate (VERDICT r6 task 6): the release-gate pass that keeps
# a future formulation change from silently reintroducing a superlinear
# stage. Runs the six scale probes at x1/x4 (kcenter at x1 only) and
# asserts the scale-relevant ratios against stored bands. Bands are
# deliberately loose (2-2.5x) — they catch a complexity-class regression
# (a linear stage going quadratic shows up as ~4x per-unit growth at
# x4), not machine noise.
#
# Usage: python tools/scaling_probe.py quick
# ---------------------------------------------------------------------------

#: (probe, metric) -> max allowed ratio metric(x4)/metric(x1). Rationale:
#: a per-unit cost that is flat-or-falling with scale stays < ~1.5 even
#: on a noisy box; a stage whose complexity class regressed (linear ->
#: quadratic) multiplies its per-unit cost by ~the scale factor (4x).
QUICK_BANDS = {
    ("blocked-rank", "blocked_ns_per_row"): 1.5,
    ("verify-skew", "repart_us_per_pair"): 2.0,
    ("graph-cc", "ms_per_kedge_round"): 2.5,
    ("semdedup", "pair_us_per_pair"): 2.0,
    # capped-LSH pair volume per doc must stay flat with scale (0.19 on
    # the clustered corpus at every factor probed, 1x..64x — SCALE.md
    # r8/r9 tables); growth here means the count-first bucket cap no
    # longer bounds the pair stage
    ("dedup-skew", "capped_pairs_per_doc"): 1.5,
}
#: semdedup candidate pairs must grow ~linearly with N (x4 data -> ~x4
#: pairs when K scales; the old fixed-K formulation grew x16)
SEMDEDUP_PAIR_GROWTH_MAX = 6.0
#: graph-cc convergence rounds must stay flat (diameter is a property
#: of order structure, not volume)
GRAPH_CC_EXTRA_ROUNDS_MAX = 2


def main_kcenter() -> int:
    """Per-step wall flatness of the k-center farthest-point loop
    (VERDICT r7 task 3): run the REAL ``_kcenter_loop`` (the exact code
    path ``kcenter_coreset_select`` executes) over a zero-I/O synthetic
    corpus large enough that per-pass compute dominates job overhead,
    and report the per-step argmax walls. With the r8 persist-chain
    (each step's ``mind`` cached, predecessor dropped after the
    successor materializes) every step is ONE cached-scan pass and the
    walls are flat in t; the pre-fix lazy chain replayed the whole
    lineage, making step k cost ~k passes (wall_last/wall_first ≈ t-1).

    Usage: python tools/scaling_probe.py kcenter [factors...]
    """
    factors = [int(x) for x in sys.argv[2:]] or [1]
    from braintumor_data_pipeline_spark.operators.similarity import (
        _kcenter_loop,
    )

    spark = get_spark(app_name="kcenter-probe")
    t_steps = 8
    dim = 16
    for n in factors:
        rows = 400_000 * n
        q = (
            spark.range(rows)
            .select(
                F.col("id").alias("vec_id"),
                F.expr(
                    f"transform(sequence(1, {dim}), d -> "
                    f"(id * {_MIX_A} % {_MIX_M}"
                    f" + cast(d as bigint) * {_MIX_C} % {_MIX_M}) % 4096)"
                ).alias("qv"),
            )
            .persist()
        )
        t0 = time.perf_counter()
        sel, walls = _kcenter_loop(q, t_steps)
        total = time.perf_counter() - t0
        print(
            json.dumps(
                {
                    "factor": n,
                    "rows": rows,
                    "steps": t_steps,
                    "total_s": round(total, 3),
                    "step_walls_s": [round(w, 3) for w in walls],
                    "wall_last_over_first": round(
                        walls[-1] / max(walls[0], 1e-9), 2
                    ),
                    "centers": len(sel),
                }
            ),
            flush=True,
        )
    return 0


#: a per-unit metric where BOTH endpoints are below this absolute value
#: carries no signal (3-decimal rounding can make x1 = 0.0 and the
#: ratio explode on a fast box) — treat the band as passed (ADVICE r7)
QUICK_ABS_FLOOR = 0.005
#: k-center per-step walls must be flat: the lazy-lineage regression
#: multiplies step t's wall by ~t (×7 at t=8); cached steps stay ~×1
KCENTER_STEP_RATIO_MAX = 2.5


def main_quick() -> int:
    import subprocess

    here = os.path.abspath(__file__)
    results: dict = {}
    for probe in PROBES:
        args = ["1"] if probe == "kcenter" else ["1", "4"]
        proc = subprocess.run(
            [sys.executable, here, probe, *args],
            capture_output=True,
            text=True,
        )
        if proc.returncode != 0:
            print(f"RED  probe {probe} exited {proc.returncode}")
            print(proc.stdout[-2000:])
            print(proc.stderr[-2000:])
            return 1
        rows = [
            json.loads(ln)
            for ln in proc.stdout.splitlines()
            if ln.startswith("{")
        ]
        results[probe] = rows
        for r in rows:
            print(json.dumps(r), flush=True)

    verdicts = band_verdicts(results)
    for ok, line in verdicts:
        if ok:
            print(f"ok   {line}")
    failures = [line for ok, line in verdicts if not ok]
    for f in failures:
        print(f"RED  {f}")
    print(f"\n{len(failures)} probe-band violation(s)")
    return 1 if failures else 0


def _ratio(results: dict, probe: str, metric: str, key=None):
    rows = [
        r
        for r in results[probe]
        if r.get("factor") in (1, 4)
        and (key is None or all(r.get(k) == v for k, v in key.items()))
    ]
    x1 = next(r[metric] for r in rows if r["factor"] == 1)
    x4 = next(r[metric] for r in rows if r["factor"] == 4)
    return x4 / max(x1, 1e-9), x1, x4


def band_verdicts(results: dict) -> list[tuple[bool, str]]:
    """``(passed, line)`` for every band, in check order, from the
    probes' JSON rows keyed by probe name. No Spark."""
    out = []
    for (probe, metric), band in QUICK_BANDS.items():
        keys = [{"dist": d} for d in ("uniform", "clustered")] if probe == "blocked-rank" else [None]
        for key in keys:
            r, x1, x4 = _ratio(results, probe, metric, key)
            tag = f"{probe}/{metric}" + (f"[{key['dist']}]" if key else "")
            if x1 < QUICK_ABS_FLOOR and x4 < QUICK_ABS_FLOOR:
                out.append((
                    True,
                    f"{tag}: both endpoints < {QUICK_ABS_FLOOR} "
                    f"({x1} -> {x4}) — below signal floor, band skipped",
                ))
            elif r > band:
                out.append((
                    False,
                    f"{tag}: per-unit ratio x4/x1 = {r:.2f} > {band} "
                    f"({x1} -> {x4}) — superlinear stage reintroduced?",
                ))
            else:
                out.append((True, f"{tag}: x4/x1 = {r:.2f} <= {band}"))

    g, p1, p4 = _ratio(results, "semdedup", "cand_pairs")
    if g > SEMDEDUP_PAIR_GROWTH_MAX:
        out.append((
            False,
            f"semdedup/cand_pairs growth {g:.2f} > "
            f"{SEMDEDUP_PAIR_GROWTH_MAX} ({p1} -> {p4}) — K no longer "
            "scaling with N?",
        ))
    else:
        out.append((True, f"semdedup/cand_pairs growth = {g:.2f}"))
    rr, r1, r4 = _ratio(results, "graph-cc", "rounds")
    if r4 > r1 + GRAPH_CC_EXTRA_ROUNDS_MAX:
        out.append((
            False,
            f"graph-cc rounds grew {r1} -> {r4} — convergence no longer "
            "volume-free?",
        ))
    else:
        out.append((True, f"graph-cc rounds: {r1} -> {r4}"))

    kc = results["kcenter"][0]
    kr = kc["wall_last_over_first"]
    if kr > KCENTER_STEP_RATIO_MAX:
        out.append((
            False,
            f"kcenter wall_last_over_first = {kr} > "
            f"{KCENTER_STEP_RATIO_MAX} ({kc['step_walls_s']}) — lazy "
            "lineage replay reintroduced?",
        ))
    else:
        out.append((True, f"kcenter step walls flat: ratio {kr}"))
    return out


def check_bands(results: dict) -> list[str]:
    """The band-violation lines for the probes' JSON rows; empty when
    every band holds."""
    return [line for ok, line in band_verdicts(results) if not ok]


#: the probes ``quick`` runs, in run order
PROBES = {
    "blocked-rank": main_blocked_rank,
    "verify-skew": main_verify_skew,
    "graph-cc": main_graph_cc,
    "semdedup": main_semdedup,
    "dedup-skew": main_dedup_skew,
    "kcenter": main_kcenter,
}
COMMANDS = {"quick": main_quick, **PROBES}
USAGE = (
    "usage: python tools/scaling_probe.py "
    f"{{{','.join(COMMANDS)}}} [factors...]"
)


if __name__ == "__main__":
    command = COMMANDS.get(sys.argv[1]) if len(sys.argv) > 1 else None
    if command is None:
        print(USAGE, file=sys.stderr)
        raise SystemExit(2)
    raise SystemExit(command())
