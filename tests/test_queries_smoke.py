"""Smoke: every registered query runs at sf0.001 and the driver contract
holds (full value parity vs DuckDB is tools/verify_local.py's job)."""

from __future__ import annotations

import os

import pytest

from braintumor_data_pipeline_spark import registry

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("name", sorted(registry.all_queries()))
def test_query_runs(spark, sf_dir, name):
    from braintumor_data_pipeline_spark.caching import query_scope

    spec = registry.all_queries()[name]
    # query_scope frees every cache the builder leaves, so it cannot
    # change the plans of the queries and tests that run after it
    with query_scope(spark, name):
        df = spec.fn(spark, sf_dir)
        n = df.count()
    assert n >= 0
    assert len(df.columns) > 0
    # No registered query may OUTPUT a decimal column (r9 verdict): the
    # driver's hasher canonicalizes DECIMAL differently per engine (a
    # pandas-style fetch renders DuckDB DECIMAL as float64 repr while
    # Spark yields Decimal), so exact values still hash-mismatch.
    # Decimal REDUCTIONS stay internal; outputs cast to string/bigint.
    from pyspark.sql.types import DecimalType

    decimal_cols = [
        f.name for f in df.schema.fields if isinstance(f.dataType, DecimalType)
    ]
    assert not decimal_cols, (
        f"{name} outputs decimal column(s) {decimal_cols}; cast to a "
        "canonical digit string or bigint before returning"
    )


def test_contract_shape():
    import __spark_entry__ as m

    qs = m.queries()
    oracles = m.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 140
    assert "flagship_avg_by_group" in qs


def test_driver_window_samples_every_family():
    """The driver hash-checks only the first DRIVER_WINDOW queries; that
    prefix must be exactly driver_window(committed ledger): recomputing-
    oracle-backed throughout, covering every operator family within the
    rolling horizon, and containing every bench HEADLINE query so perf
    and correctness gates cover the same surface."""
    import bench

    specs = registry.all_queries()
    names = list(registry.queries_dict())
    window = names[: registry.DRIVER_WINDOW]
    ledger = registry.load_ledger()

    assert len(window) == registry.DRIVER_WINDOW
    assert window == registry.driver_window(ledger)
    # every windowed query carries a hashable, recomputing oracle
    assert all(specs[n].oracle and not specs[n].pinned_sf for n in window)
    # ROLLING-3 coverage: every operator family (module) with a
    # RECOMPUTING oracle has a representative inside the current window
    # OR was confirmed in one of the ledger's two newest rounds — no
    # module is ever more than ROLLING_COVERAGE_ROUNDS - 1 rounds from
    # its last driver hash, while freed slots amortize never-checked
    # queries. Families whose only oracles are frozen sf0.01 goldens
    # (pinned_sf) don't claim coverage.
    fam = lambda n: registry.family(specs[n])  # noqa: E731
    recompute_fams = {
        fam(n) for n in specs if specs[n].oracle and not specs[n].pinned_sf
    }
    horizon = set(ledger["rounds"][-(registry.ROLLING_COVERAGE_ROUNDS - 1):])
    recent = {
        n for n, q in ledger["queries"].items()
        if n in specs and horizon & set(q["confirmed_rounds"])
    }
    covered = {fam(n) for n in window} | {fam(n) for n in recent}
    assert recompute_fams <= covered, (
        f"families outside the rolling-{registry.ROLLING_COVERAGE_ROUNDS} "
        f"coverage horizon: {sorted(recompute_fams - covered)}"
    )
    # bench and driver check the same surface
    assert set(bench.HEADLINE) <= set(window)
    # rows-only queries never occupy a slot ahead of an oracle-backed one
    kinds = [bool(specs[n].oracle) for n in names]
    assert kinds == sorted(kinds, reverse=True)
    # the driver contract keeps every query and every oracle
    assert sorted(names) == sorted(specs)
    assert registry.oracles_dict() == {
        n: s.oracle for n, s in specs.items() if s.oracle
    }


def test_driver_window_identical_across_processes():
    """The window is a pure function of the source tree and the
    committed ledger: two fresh interpreters (different hash seeds)
    produce the same list as this process's driver contract."""
    import json
    import subprocess
    import sys

    code = (
        "import json\n"
        "from braintumor_data_pipeline_spark import registry\n"
        "print(json.dumps(registry.driver_window(registry.load_ledger())))\n"
    )
    outs = [
        subprocess.run(
            [sys.executable, "-c", code], cwd=REPO, capture_output=True,
            text=True, check=True, env={**os.environ, "PYTHONHASHSEED": seed},
        ).stdout
        for seed in ("1", "2")
    ]
    assert outs[0] == outs[1]
    assert json.loads(outs[0]) == list(registry.queries_dict())[
        : registry.DRIVER_WINDOW
    ]


def test_driver_window_admits_changed_src_sha():
    """A builder whose source hash differs from the ledger's snapshot
    enters the window, even when it is the last query the
    least-recently-checked fill would reach."""
    specs = registry.all_queries()
    ledger = registry.load_ledger()
    window = registry.driver_window(ledger)
    last = {
        n: max(q["checked_rounds"], default=0)
        for n, q in ledger["queries"].items()
    }
    outside = [
        n for n, s in specs.items()
        if s.oracle and not s.pinned_sf and n not in window
    ]
    target = max(outside, key=lambda n: (last.get(n, 0), n))
    ledger["src_sha"][target] = "0" * 16
    changed = registry.driver_window(ledger)
    assert target in changed
    assert set(registry.HEADLINE) <= set(changed)


def test_entry_smoke(spark):
    import __spark_entry__ as m

    df = m.entry(spark)
    assert df.count() > 0


def test_chunk_packing_invariants(spark, sf_dir):
    """Greedy packing: budget respected for multi-doc packs, oversize
    docs isolated, doc order inside a pack preserved, deterministic."""
    from collections import defaultdict

    from braintumor_data_pipeline_spark.operators.llm_pipeline import (
        PACK_BUDGET,
        chunk_packing_greedy,
    )

    rows = chunk_packing_greedy(spark, sf_dir).collect()
    assert rows
    packs = defaultdict(list)
    for r in rows:
        packs[(r.source, r.pack_id)].append(r)
    for (_, _), members in packs.items():
        total = sum(r.n_tokens for r in members)
        if len(members) > 1:
            assert total <= PACK_BUDGET
        # doc order within the pack is ascending (fill order)
        ids = [r.doc_id for r in members]
        assert ids == sorted(ids)
    rows2 = chunk_packing_greedy(spark, sf_dir).collect()
    assert {(r.source, r.pack_id, r.doc_id) for r in rows} == {
        (r.source, r.pack_id, r.doc_id) for r in rows2
    }


_GREEN = {
    "rows_match": True,
    "schema_match": True,
    "hash_match": True,
    "spark_rows": 1,
    "oracle_rows": 1,
    "err": None,
}


def _write_rounds(root, rounds: dict[int, dict]) -> None:
    import json

    for rnd, rows in rounds.items():
        (root / f"CORRECTNESS_r{rnd:02d}.json").write_text(json.dumps(rows))


def _family_in_window(ledger: dict, family: str) -> list[str]:
    specs = registry.all_queries()
    return [
        n for n in registry.driver_window(ledger)
        if registry.family(specs[n]) == family
    ]


def _skew_members() -> list[str]:
    """The 'skew' family: no HEADLINE member, so it enters the window
    only as a family keep once its members have been checked (never-
    checked queries fill the remaining slots first)."""
    specs = registry.all_queries()
    members = sorted(n for n, s in specs.items() if registry.family(s) == "skew")
    assert len(members) >= 3 and not set(members) & set(registry.HEADLINE)
    return members


def test_rolling_coverage_counts_only_green_rows(tmp_path):
    """A RED driver row (err, or any match flag false) does not confirm
    its family — a family whose only recent checks failed still gets a
    window slot (its least-recently-checked member) — and only the
    ledger's newest ROLLING_COVERAGE_ROUNDS - 1 rounds count."""
    from tools.gen_window_ledger import build

    m0, m1, m2 = _skew_members()[:3]
    _write_rounds(
        tmp_path,
        {
            1: {m0: _GREEN, m1: _GREEN, m2: _GREEN},  # too old to count
            2: {
                m1: {**_GREEN, "hash_match": False},
                m2: {
                    "rows_match": None,
                    "schema_match": None,
                    "hash_match": None,
                    "err": "Traceback ...",
                },
            },
            3: {m0: {**_GREEN, "rows_match": False}},
        },
    )
    ledger = build(root=str(tmp_path))
    assert ledger["queries"][m1]["confirmed_rounds"] == [1]
    # m1 and m2 were last checked in r02, m0 in r03; ties go by name
    assert _family_in_window(ledger, "skew") == [m1]

    _write_rounds(tmp_path, {3: {m0: _GREEN}})
    assert _family_in_window(build(root=str(tmp_path)), "skew") == []


def test_rolling_coverage_horizon_anchored_to_ledger(tmp_path):
    """The horizon is the newest rounds RECORDED IN the ledger, so a
    CORRECTNESS artifact the driver drops MID-ROUND cannot shift the
    window; a corrupt ledger raises."""
    import json

    import pytest

    from tools.gen_window_ledger import build

    members = _skew_members()
    _write_rounds(
        tmp_path,
        {
            1: {n: _GREEN for n in members},
            2: {"flagship_avg_by_group": _GREEN},
        },
    )
    ledger_path = tmp_path / "WINDOW_LEDGER.json"
    ledger_path.write_text(json.dumps(build(root=str(tmp_path))))
    # in-progress round: on disk, r01 would fall out of the horizon
    _write_rounds(tmp_path, {3: {"flagship_avg_by_group": _GREEN}})

    committed = registry.load_ledger(str(ledger_path))
    assert committed["rounds"] == [1, 2]
    assert _family_in_window(committed, "skew") == []
    assert _family_in_window(build(root=str(tmp_path)), "skew") == members[:1]

    ledger_path.write_text("not json")
    with pytest.raises(ValueError):
        registry.load_ledger(str(ledger_path))


def test_src_sha_covers_helpers_and_ignores_line_shifts(tmp_path):
    """src_sha follows same-module helpers transitively and depends on
    neither the function's line number nor comments."""
    import importlib.util

    base = (
        "def _inner():\n    return 1\n\n\n"
        "def _helper():\n    return _inner()\n\n\n"
        "def build(spark, sf_dir):\n    return _helper()\n"
    )
    variants = {
        "base": base,
        "shifted": "# a comment\nX = 1\n\n\n" + base.replace(
            "return _helper()", "return _helper()  # same code"
        ),
        "inner_edit": base.replace("return 1", "return 2"),
    }
    shas = {}
    for key, text in variants.items():
        path = tmp_path / f"srcsha_{key}.py"
        path.write_text(text)
        spec = importlib.util.spec_from_file_location(f"srcsha_{key}", path)
        mod = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(mod)
        shas[key] = registry.src_sha(mod.build)
    assert shas["base"] == shas["shifted"]
    assert shas["base"] != shas["inner_edit"]
