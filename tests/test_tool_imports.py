"""Every package import in the command-line tools resolves.

The tools under ``tools/``, ``bench.py`` and the ``perfbench/``
benchmark import package internals, often inside the function of one
sub-command that no gate runs, so a renamed or deleted helper only
shows up when someone runs that sub-command or the benchmark. This
check parses the files (no Spark, nothing executed) and resolves each
``from braintumor_data_pipeline_spark… import name``, function-local
imports included.
"""

from __future__ import annotations

import ast
import glob
import importlib
import importlib.util
import os

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "braintumor_data_pipeline_spark"
FILES = (
    sorted(glob.glob(os.path.join(ROOT, "tools", "*.py")))
    + [os.path.join(ROOT, "bench.py")]
    + sorted(glob.glob(os.path.join(ROOT, "perfbench", "*.py")))
)


def _package_imports(path: str) -> list[tuple[int, str, str | None]]:
    """(line, module, name) for every package import in ``path``;
    name is None for a plain ``import module``."""
    with open(path, encoding="utf-8") as f:
        tree = ast.parse(f.read(), filename=path)
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            mod = node.module or ""
            if mod == PKG or mod.startswith(PKG + "."):
                out.extend((node.lineno, mod, a.name) for a in node.names)
        elif isinstance(node, ast.Import):
            out.extend(
                (node.lineno, a.name, None)
                for a in node.names
                if a.name == PKG or a.name.startswith(PKG + ".")
            )
    return out


def _unresolved(path: str) -> list[str]:
    bad = []
    for line, mod, name in _package_imports(path):
        try:
            m = importlib.import_module(mod)
        except ImportError as e:
            bad.append(f"{line}: {mod} ({e})")
            continue
        if name is None or name == "*" or hasattr(m, name):
            continue
        is_submodule = hasattr(m, "__path__") and (
            importlib.util.find_spec(f"{mod}.{name}") is not None
        )
        if not is_submodule:
            bad.append(f"{line}: {mod}.{name}")
    return bad


@pytest.mark.parametrize("path", FILES, ids=os.path.basename)
def test_tool_package_imports_resolve(path):
    bad = _unresolved(path)
    assert not bad, f"{os.path.relpath(path, ROOT)}: unresolved {bad}"


def test_scan_sees_function_local_imports():
    """The scan must reach imports nested in functions — the place a
    stale sub-command import hides."""
    found = _package_imports(os.path.join(ROOT, "tools", "scaling_probe.py"))
    assert any(
        mod.endswith(".similarity") and name == "_kcenter_loop"
        for _, mod, name in found
    ), found
