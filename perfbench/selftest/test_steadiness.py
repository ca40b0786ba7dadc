"""Self-tests of the benchmark itself.

    python3 -m pytest perfbench/selftest -q

The steadiness test runs each workload twice with one seed (about a
minute per run) and asserts that every end-to-end metric of the second
run is within the bound ``BENCHMARK.json`` declares of the first. The
fixture test checks that each query's oracle, run on the benchmark's
fixture tables, returns as many rows as the repo's latest recorded
correctness run (``CORRECTNESS_r<N>.json``) saw at sf0.01.
"""

from __future__ import annotations

import glob
import json
import os
import re
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)
with open(os.path.join(ROOT, "perfbench", "spec.json")) as _fh:
    SPEC = json.load(_fh)
SEED = 7


def _run(workload: str) -> dict:
    proc = subprocess.run(
        [
            sys.executable, "perfbench/run.py", "--workload", workload,
            "--seed", str(SEED), "--seconds", str(BENCH["run_seconds"]), "--trace", "0",
        ],
        cwd=ROOT, capture_output=True, text=True, timeout=300, check=True,
    )
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_every_layer_metric_names_what_it_should_move():
    layers = SPEC["layers"]
    for m in BENCH["per_layer"]:
        name = m["name"]
        assert name in layers or name.rsplit(".", 1)[0] + ".*" in layers, name


def _recorded_rows() -> dict[str, int]:
    """Query → spark_rows from the newest correctness record holding it."""
    paths = glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))
    rows: dict[str, int] = {}
    for path in sorted(paths, key=lambda p: int(re.findall(r"r(\d+)", p)[-1])):
        with open(path) as fh:
            for name, rec in json.load(fh).items():
                if isinstance(rec, dict) and rec.get("spark_rows") is not None:
                    rows[name] = rec["spark_rows"]
    return rows


def test_fixture_row_counts_match_recorded_runs():
    sys.path[:0] = [ROOT, os.path.join(ROOT, "perfbench")]
    import checks
    import inputs
    from braintumor_data_pipeline_spark import registry
    from braintumor_data_pipeline_spark.sources.fixtures import TABLES

    recorded = _recorded_rows()
    con = checks.duckdb_views(inputs.FIXTURES, TABLES)
    for wl in SPEC["workloads"].values():
        for name in wl.get("queries", []):
            assert name in recorded, f"{name}: no recorded sf0.01 row count"
            got = checks.duckdb_digest(con, registry.all_queries()[name].oracle)[0]
            assert got == recorded[name], f"{name}: {got} rows, recorded {recorded[name]}"
    con.close()


def test_workloads_match_spec():
    assert [w["name"] for w in BENCH["workloads"]] == list(SPEC["workloads"])


@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_two_runs_agree_within_declared_bounds(workload):
    first, second = _run(workload), _run(workload)
    assert first["correct"] and second["correct"]
    assert first["failed"] == second["failed"] == 0
    for m in BENCH["end_to_end"]:
        a = first["metrics"][m["name"]]["value"]
        b = second["metrics"][m["name"]]["value"]
        assert abs(b - a) / a <= m["bound"], f"{workload} {m['name']}: {a} then {b}"
