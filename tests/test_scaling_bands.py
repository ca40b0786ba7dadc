"""Band logic of ``tools/scaling_probe.py quick`` on canned probe rows,
and its sub-command dispatch. No Spark: ``check_bands`` reads only the
probes' JSON rows, and a missing or unknown sub-command exits before a
session starts."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from tools.scaling_probe import (
    GRAPH_CC_EXTRA_ROUNDS_MAX,
    KCENTER_STEP_RATIO_MAX,
    QUICK_ABS_FLOOR,
    QUICK_BANDS,
    SEMDEDUP_PAIR_GROWTH_MAX,
    band_verdicts,
    check_bands,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _flat_results() -> dict:
    """Probe rows whose per-unit metrics are equal at x1 and x4."""
    return {
        "blocked-rank": [
            {"dist": d, "factor": f, "blocked_ns_per_row": 90.0}
            for d in ("uniform", "clustered")
            for f in (1, 4)
        ],
        "verify-skew": [
            {"factor": f, "repart_us_per_pair": 3.0} for f in (1, 4)
        ],
        "graph-cc": [
            {"factor": f, "ms_per_kedge_round": 5.0, "rounds": 4}
            for f in (1, 4)
        ],
        "semdedup": [
            {"factor": 1, "pair_us_per_pair": 1.2, "cand_pairs": 1000},
            {"factor": 4, "pair_us_per_pair": 1.2, "cand_pairs": 4000},
            # the adversarial row carries no factor and is never banded
            {"shape": "semdedup_adversarial_one_blob", "capped_pairs": 9},
        ],
        "dedup-skew": [
            {"factor": f, "capped_pairs_per_doc": 0.19} for f in (1, 4)
        ],
        "kcenter": [
            {
                "factor": 1,
                "wall_last_over_first": 1.1,
                "step_walls_s": [0.4] * 8,
            }
        ],
    }


def _row(results, probe, factor, dist=None):
    return next(
        r
        for r in results[probe]
        if r.get("factor") == factor and (dist is None or r["dist"] == dist)
    )


BAND_CASES = [
    (probe, metric, dist)
    for probe, metric in QUICK_BANDS
    for dist in (
        ("uniform", "clustered") if probe == "blocked-rank" else (None,)
    )
]


def test_flat_rows_pass_every_band():
    results = _flat_results()
    assert check_bands(results) == []
    # every QUICK_BANDS key (both blocked-rank dists) plus the semdedup
    # growth, graph-cc rounds and kcenter step-wall checks
    assert len(band_verdicts(results)) == len(BAND_CASES) + 3


@pytest.mark.parametrize(
    "probe,metric,dist", BAND_CASES, ids=lambda v: str(v)
)
def test_superlinear_ratio_fails_and_names_its_band(probe, metric, dist):
    results = _flat_results()
    x4 = _row(results, probe, 4, dist)
    x4[metric] = _row(results, probe, 1, dist)[metric] * 4
    tag = f"{probe}/{metric}" + (f"[{dist}]" if dist else "")
    failures = check_bands(results)
    assert len(failures) == 1, failures
    assert failures[0].startswith(f"{tag}:"), failures


@pytest.mark.parametrize(
    "probe,metric,dist", BAND_CASES, ids=lambda v: str(v)
)
def test_ratio_at_the_band_passes(probe, metric, dist):
    results = _flat_results()
    x1 = _row(results, probe, 1, dist)
    x1[metric] = 1.0
    _row(results, probe, 4, dist)[metric] = QUICK_BANDS[(probe, metric)]
    assert check_bands(results) == []


def test_endpoints_below_floor_skip_the_band():
    results = _flat_results()
    _row(results, "verify-skew", 1)["repart_us_per_pair"] = 0.001
    _row(results, "verify-skew", 4)["repart_us_per_pair"] = QUICK_ABS_FLOOR / 2
    assert check_bands(results) == []
    assert any(
        ok and line.startswith("verify-skew/repart_us_per_pair:")
        and "band skipped" in line
        for ok, line in band_verdicts(results)
    )


def test_one_endpoint_above_floor_is_banded():
    results = _flat_results()
    _row(results, "verify-skew", 1)["repart_us_per_pair"] = 0.001
    _row(results, "verify-skew", 4)["repart_us_per_pair"] = QUICK_ABS_FLOOR * 2
    failures = check_bands(results)
    assert len(failures) == 1
    assert failures[0].startswith("verify-skew/repart_us_per_pair:")


@pytest.mark.parametrize(
    "x4_pairs,fails",
    [(int(1000 * SEMDEDUP_PAIR_GROWTH_MAX), False),
     (int(1000 * SEMDEDUP_PAIR_GROWTH_MAX) + 1, True),
     (16_000, True)],
)
def test_semdedup_pair_growth(x4_pairs, fails):
    results = _flat_results()
    _row(results, "semdedup", 4)["cand_pairs"] = x4_pairs
    failures = check_bands(results)
    assert [f.startswith("semdedup/cand_pairs growth") for f in failures] == (
        [True] if fails else []
    )


@pytest.mark.parametrize(
    "extra,fails",
    [(GRAPH_CC_EXTRA_ROUNDS_MAX, False), (GRAPH_CC_EXTRA_ROUNDS_MAX + 1, True)],
)
def test_graph_cc_rounds_growth(extra, fails):
    results = _flat_results()
    _row(results, "graph-cc", 4)["rounds"] = 4 + extra
    failures = check_bands(results)
    assert [f.startswith("graph-cc rounds grew") for f in failures] == (
        [True] if fails else []
    )


@pytest.mark.parametrize(
    "ratio,fails",
    [(KCENTER_STEP_RATIO_MAX, False), (KCENTER_STEP_RATIO_MAX + 0.1, True)],
)
def test_kcenter_step_wall_ratio(ratio, fails):
    results = _flat_results()
    results["kcenter"][0]["wall_last_over_first"] = ratio
    failures = check_bands(results)
    assert [f.startswith("kcenter wall_last_over_first") for f in failures] == (
        [True] if fails else []
    )


@pytest.mark.parametrize("argv", [[], ["bogus"]], ids=["none", "bogus"])
def test_missing_or_unknown_subcommand_prints_usage(argv):
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "scaling_probe.py"), *argv],
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert proc.returncode == 2, proc.stderr
    assert proc.stderr.startswith("usage: python tools/scaling_probe.py {quick,")
    assert proc.stdout == ""
