"""Name selection of tools/verify_local.py: exact registered names select
exactly those queries; other filters keep substring matching."""

from __future__ import annotations

from braintumor_data_pipeline_spark import registry
from tools.verify_local import select_names


def test_exact_name_selects_only_that_name():
    specs = registry.all_queries()
    # a registered name that is also a substring of another registered name
    assert "equidepth_histogram_totalprice" in specs
    assert select_names(specs, ["histogram_totalprice"]) == ["histogram_totalprice"]
    window = list(registry.queries_dict())[: registry.DRIVER_WINDOW]
    assert sorted(select_names(specs, window)) == sorted(window)


def test_other_filters_match_substrings():
    specs = registry.all_queries()
    got = select_names(specs, ["histogram_total"])
    assert {"histogram_totalprice", "equidepth_histogram_totalprice"} <= set(got)
    assert all("histogram_total" in n for n in got)
    # an exact name and a substring filter combine
    names = ["ab", "abc", "xabc", "zz"]
    assert select_names(names, ["ab", "zz"]) == ["ab", "zz"]
    assert select_names(names, ["ab", "bc"]) == ["ab", "abc", "xabc"]
    assert select_names(names, []) == names
